package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.cdr.CdrTables
import graft.streaming.CsvCodec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** The CDR wire lines one run feeds. One cycle is the fixture's `src` table
  * encoded with `CsvCodec.encode`, ordered so the rows sharing a
  * `unique_cdr_id` sit next to each other. The feed is endless: global line
  * `g` is cycle line `(rotation + g) % n`, and each completed cycle shifts
  * `unique_cdr_id` by the id span so ids never repeat.
  *
  * The seed picks the starting rotation and which 0.1% of the cycle's lines
  * are malformed (no field parses, so `CsvCodec.decode` drops them, as the
  * reference's ignore-parse-errors source does). The rotation starts at a
  * day: the fixture packs one day into ~3.3k lines, so a block spans a few
  * days, and how many `event_date` partitions each micro-batch writes would
  * otherwise vary with the seed more than anything the program does. */
final class CdrLines(prefix: Array[String], ids: Array[Long], seed: Long) extends Serializable {
  require(prefix.length == ids.length && prefix.length > 1, "empty CDR cycle")
  val n: Int = prefix.length
  private val idSpan: Long = ids.max - ids.min + 2
  private val rng = new java.util.Random(seed)
  private val malformed: java.util.BitSet = {
    val b = new java.util.BitSet(n)
    while (b.cardinality() < math.max(1, n / 1000)) b.set(rng.nextInt(n))
    b
  }
  val rotation: Int = {
    def day(i: Int) = prefix(i).take(10)
    val dayStarts = (0 until n).filter(i => i == 0 || day(i) != day(i - 1))
    var r = dayStarts(rng.nextInt(dayStarts.size))
    while (r > 0 && ids(r) == ids(r - 1)) r -= 1
    r
  }

  def id(g: Long): Long = {
    val p = rotation + g
    ids((p % n).toInt) + (p / n) * idSpan
  }

  def line(g: Long): String = {
    val i = ((rotation + g) % n).toInt
    if (malformed.get(i)) s"#malformed#$g" else prefix(i) + id(g)
  }

  /** The first cut at or after `from + want` that does not split the rows of
    * one `unique_cdr_id`, so every CDR lands in one source offset. */
  def cut(from: Long, want: Int): Long = {
    var e = from + math.max(want, 1)
    while (id(e) == id(e - 1)) e += 1
    e
  }

  def slice(from: Long, until: Long): Seq[String] = (from until until).map(line)
}

object CdrLines {
  def spill(lines: CdrLines, path: Path): Path = {
    val out = new ObjectOutputStream(new BufferedOutputStream(Files.newOutputStream(path)))
    try out.writeObject(lines) finally out.close()
    path
  }

  def unspill(path: Path): CdrLines = {
    val in = new ObjectInputStream(new BufferedInputStream(Files.newInputStream(path)))
    try in.readObject().asInstanceOf[CdrLines] finally in.close()
  }

  /** Encode one cycle from the fixture directory. */
  def load(spark: SparkSession, sfDir: String, seed: Long): CdrLines = {
    val src = CdrTables.src(spark, sfDir)
    val rows = src
      .select(CsvCodec.encode(src).as("value"), col("unique_cdr_id"))
      .orderBy(col("unique_cdr_id"), col("value"))
      .collect()
    val prefix = rows.map { r =>
      val v = r.getString(0)
      v.substring(0, v.lastIndexOf(',') + 1)
    }
    new CdrLines(prefix, rows.map(_.getLong(1)), seed)
  }
}

/** One generator offset: the lines `[first, first + lines)` added as one
  * `MemoryStream` offset. `dueMs` is when the schedule wanted them sent
  * (their creation stamp), `sentMs` when `addData` returned. */
final case class Tick(offset: Long, dueMs: Long, sentMs: Long, first: Long, lines: Int,
                      phase: String)

/** The load generator. It owns the only writer to the source and keeps the
  * creation stamps on the benchmark side, keyed by source offset, so the
  * program sees nothing but the CSV lines. */
final class Feed(val mem: MemoryStream[String], val lines: CdrLines) {
  private var pos = 0L
  private val ticks = mutable.ArrayBuffer.empty[Tick]

  def fed: Long = pos
  def recorded: Seq[Tick] = synchronized(ticks.toList)

  /** Add at least `want` lines (up to the next CDR boundary) as one offset. */
  def add(want: Int, dueMs: Long, phase: String): Tick = synchronized {
    val end = lines.cut(pos, want)
    val off = mem.addData(lines.slice(pos, end)).json().toLong
    val t = Tick(off, dueMs, System.currentTimeMillis(), pos, (end - pos).toInt, phase)
    ticks += t
    pos = end
    t
  }

  /** Open loop: every `tickMs` add the lines a steady `rate` lines/s owes
    * by then, on a schedule fixed at the start that never waits for the
    * query. A late tick is sent as soon as possible and keeps its due time
    * as the creation stamp, so a stall is charged to latency. Runs on its
    * own thread; returns when the last tick is sent. */
  def openLoop(rate: Int, tickMs: Int, seconds: Double): Feed.Worker =
    new Feed.Worker({
      val t0Ns = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val base = pos
      val nTicks = (seconds * 1000 / tickMs).toInt
      var k = 0
      while (k < nTicks) {
        val dueNs = t0Ns + k.toLong * tickMs * 1000000L
        var wait = dueNs - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs - System.nanoTime() }
        val owed = ((k + 1).toLong * rate * tickMs / 1000) - (pos - base)
        if (owed > 0) add(owed.toInt, t0Ms + k.toLong * tickMs, "open")
        k += 1
      }
    })

  /** Closed loop, on the calling thread (the open loop's thread has ended):
    * add the next `block` lines as soon as the previous block is committed
    * (`await` blocks until the given offset is), until `seconds` have
    * passed. Returns (start, end) wall ms, where end is the last block's
    * commit. */
  def closedLoop(await: Long => Unit, block: Int, seconds: Double, phase: String): (Long, Long) = {
    val start = System.currentTimeMillis()
    val stopAt = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < stopAt) await(add(block, System.currentTimeMillis(), phase).offset)
    (start, System.currentTimeMillis())
  }
}

object Feed {
  /** The open-loop generator thread. `join` rethrows whatever ended it. */
  final class Worker(body: => Unit) {
    @volatile private var failure: Throwable = _
    private val th = new Thread(() => try body catch { case t: Throwable => failure = t },
      "perfbench-generator")
    th.setDaemon(true)
    th.start()

    def join(): Unit = {
      th.join()
      if (failure != null) throw failure
    }
  }
}
