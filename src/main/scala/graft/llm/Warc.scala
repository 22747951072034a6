package graft.llm

import java.nio.charset.StandardCharsets

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal WARC/1.0 (ISO 28500) record codec over in-memory containers —
  * the web-archive format LLM crawl corpora (Common Crawl and its
  * derivatives) actually arrive in.
  *
  * The parser is Content-Length-DRIVEN and binary-safe: header lines are
  * read byte-wise to CRLF, then exactly `Content-Length` payload bytes are
  * sliced without inspection, then the record's closing CRLFCRLF is
  * required. No delimiter scanning through payload bytes — a payload that
  * itself contains "WARC/1.0" is handled correctly, which is precisely
  * where regex/split-based readers corrupt crawl data. Malformed framing
  * (bad version line, missing/overrunning Content-Length, truncated
  * terminator) throws IllegalArgumentException naming the offset — the
  * poison-gate wrapper upstream turns that into a quarantine row, never a
  * job kill (the [[Multimodal]] safe-decode convention).
  */
object WarcCodec {

  private val Crlf = "\r\n".getBytes(StandardCharsets.US_ASCII)

  /** One parsed record: type + headers of interest + payload slice. */
  final case class Rec(warcType: String, recordId: String,
      targetUri: String, payload: Array[Byte])

  /** Serialize records: (warc-type, extra headers in order, payload). */
  def build(records: Seq[(String, Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def line(s: String): Unit = {
      bos.write(s.getBytes(StandardCharsets.US_ASCII)); bos.write(Crlf)
    }
    records.foreach { case (wtype, headers, payload) =>
      line("WARC/1.0")
      line(s"WARC-Type: $wtype")
      headers.foreach { case (k, v) => line(s"$k: $v") }
      line(s"Content-Length: ${payload.length}")
      bos.write(Crlf)
      bos.write(payload)
      bos.write(Crlf); bos.write(Crlf)
    }
    bos.toByteArray
  }

  /** Parse a container; strict framing, trailing garbage is an error. */
  def parse(bytes: Array[Byte]): IndexedSeq[Rec] = {
    val out = IndexedSeq.newBuilder[Rec]
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"WARC: $msg at offset $i")
    def readLine(): String = {
      val start = i
      while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 >= bytes.length) fail("unterminated header line")
      val s = new String(bytes, start, i - start, StandardCharsets.US_ASCII)
      i += 2
      s
    }
    while (i < bytes.length) {
      if (readLine() != "WARC/1.0") fail("bad version line")
      var wtype = ""; var rid = ""; var uri = ""; var clen = -1L
      var h = readLine()
      while (h.nonEmpty) {
        val sep = h.indexOf(':')
        if (sep < 0) fail(s"malformed header '$h'")
        val k = h.substring(0, sep).trim.toLowerCase
        val v = h.substring(sep + 1).trim
        k match {
          case "warc-type" => wtype = v
          case "warc-record-id" => rid = v
          case "warc-target-uri" => uri = v
          case "content-length" =>
            clen = try v.toLong catch {
              case _: NumberFormatException => fail(s"bad Content-Length '$v'")
            }
          case _ => () // other headers carried, not interpreted
        }
        h = readLine()
      }
      if (clen < 0) fail("missing Content-Length")
      if (i + clen + 4 > bytes.length) fail(s"payload of $clen bytes overruns container")
      val payload = java.util.Arrays.copyOfRange(bytes, i, (i + clen).toInt)
      i += clen.toInt
      if (!(bytes(i) == '\r' && bytes(i + 1) == '\n'
          && bytes(i + 2) == '\r' && bytes(i + 3) == '\n'))
        fail("missing record terminator")
      i += 4
      out += Rec(wtype, rid, uri, payload)
    }
    out.result()
  }
}

/** Per-record gzip member framing — the `.warc.gz` convention Common Crawl
  * actually ships: each WARC record is compressed as its OWN gzip member
  * and the members are concatenated. That framing is what makes ranged /
  * parallel reads possible (a reader can start at any member boundary
  * without inflating everything before it), so the member walk below
  * returns each member's byte offset alongside its inflated payload.
  *
  * RFC 1952 header parsing is exact: magic `1f 8b`, DEFLATE method, the
  * four optional FLG fields (FEXTRA/FNAME/FCOMMENT/FHCRC) skipped by spec,
  * then a raw (nowrap) [[Inflater]] over the deflate body — the same
  * plumbing [[ShardZip.entryStream]] uses — and the 8-byte trailer's CRC32
  * and ISIZE both VERIFIED against the inflated bytes (a truncated or
  * corrupted member throws IllegalArgumentException naming the offset,
  * which the poison gate upstream turns into a quarantine row). */
object GzipMembers {

  /** Compress `payload` as one complete gzip member. */
  def gzip(payload: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Lazy member walk: each `next()` inflates ONE member, so a poison
    * member throws only when reached and every member before it has
    * already been yielded — exactly a ranged reader's failure semantics
    * (the poison-gate path depends on this; a strict walk would discard
    * the good prefix with the throw). */
  def memberIterator(bytes: Array[Byte]): Iterator[(Long, Array[Byte])] = new Iterator[(Long, Array[Byte])] {
    private var p = 0
    def hasNext: Boolean = p < bytes.length
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"gzip: $msg at offset $p")
    def next(): (Long, Array[Byte]) = {
      val start = p
      if (p + 10 > bytes.length) fail("truncated member header")
      if ((bytes(p) & 0xff) != 0x1f || (bytes(p + 1) & 0xff) != 0x8b)
        fail("bad magic")
      if (bytes(p + 2) != 8) fail(s"unsupported method ${bytes(p + 2)}")
      val flg = bytes(p + 3) & 0xff
      p += 10
      if ((flg & 0x04) != 0) { // FEXTRA
        if (p + 2 > bytes.length) fail("truncated FEXTRA length")
        val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 0x08) != 0) { // FNAME: NUL-terminated
        while (p < bytes.length && bytes(p) != 0) p += 1
        p += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT
        while (p < bytes.length && bytes(p) != 0) p += 1
        p += 1
      }
      if ((flg & 0x02) != 0) p += 2 // FHCRC
      if (p > bytes.length) fail("truncated optional header fields")
      val inf = new java.util.zip.Inflater(/*nowrap=*/ true)
      // Decompression-bomb gate: untrusted crawl input can pack ~1000:1
      // expansion into a tiny member, and an unbounded inflate OOMs the
      // executor with an Error the quarantine path can't catch. The cap
      // is PER-MEMBER and live: during the loop, Inflater.getBytesRead()
      // is exactly how much of THIS member's compressed stream has been
      // consumed so far, so `inflated ≤ 256 × consumed` bounds the real
      // member without knowing its length up front — a remainder-of-buffer
      // cap (the r10 form) was ~unbounded for the first member of a large
      // multi-member file (review-caught). 256:1 sits ~4× under deflate's
      // 1032:1 ceiling while clearing legitimate highly-repetitive crawl
      // members (whitespace/table-heavy HTML routinely exceeds 64:1 —
      // silently quarantining those is data loss, the r10 ADVICE
      // finding); the 1 MiB floor keeps tiny members from tripping on
      // ratio noise. fail(...) raises the IllegalArgumentException the
      // poison gate turns into a quarantine row instead of a job kill.
      val body = try {
        inf.setInput(bytes, p, bytes.length - p)
        val bos = new java.io.ByteArrayOutputStream(1024)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = try inf.inflate(buf) catch {
            case e: java.util.zip.DataFormatException =>
              fail(s"corrupt deflate body (${e.getMessage})")
          }
          if (n > 0) {
            val maxInflated =
              math.max(1L << 20, inf.getBytesRead * 256L)
            if (bos.size().toLong + n > maxInflated)
              fail(s"member inflates past $maxInflated bytes (decompression bomb?)")
            bos.write(buf, 0, n)
          }
          else if (inf.needsInput()) fail("truncated deflate body")
          // defensive: nowrap inflate can't legally need a preset
          // dictionary, but a zero-progress state that is neither finished
          // nor input-starved must break the loop, not spin the task
          // (n == 0 with finished() just turned true is the normal exit —
          // the while condition handles it, don't fail on it)
          else if (!inf.finished())
            fail("inflater stalled (no progress, not finished, input remains)")
        }
        p = bytes.length - inf.getRemaining
        bos.toByteArray
      } finally inf.end()
      if (p + 8 > bytes.length) fail("truncated member trailer")
      def u32le(o: Int): Long =
        ((bytes(o) & 0xffL)) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      if (u32le(p) != crc.getValue) fail("CRC32 mismatch")
      if (u32le(p + 4) != (body.length.toLong & 0xffffffffL)) fail("ISIZE mismatch")
      p += 8
      (start.toLong, body)
    }
  }
}

/** WARC ingestion as a Spark pipeline: documents → bounded per-(source,
  * shard) containers → parsed record stream → per-source ingest report.
  * The fixture writes its own containers from the documents table (the
  * [[Multimodal.realShardTable]] convention: synthetic payloads, REAL
  * codec), so the oracle can pin the parsed output against the raw table
  * — every count/byte the parser reports is re-derivable in SQL.
  *
  * Scale shape: containers are bounded at [[docsPerShard]] documents, so
  * collect_list state per group is capped and containers stream through
  * executors at a fixed memory envelope no matter the corpus size; the
  * build/parse are per-partition codec work (mapPartitions — the
  * legitimate imperative tier), everything around them is declarative.
  * At 100 TB the same two maps run over object-store shards instead of
  * in-memory columns; nothing in the plan changes. */
object WarcIngest {

  /** Container capacity — bounds the per-group collect_list state. */
  val docsPerShard = 50

  private val containerSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("shard", LongType),
    StructField("payload", BinaryType)))

  private val recordSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("shard", LongType),
    StructField("doc_id", LongType),
    StructField("target_uri", StringType),
    StructField("content_length", LongType)))

  /** The shard's logical record list (warcinfo first, then one response
    * per document in doc_id order) — shared by the plain and gzip
    * container writers so both framings carry byte-identical records. */
  private def shardRecords(source: String, shard: Long, recs: Seq[Row])
      : Seq[(String, Seq[(String, String)], Array[Byte])] = {
    val body = recs.map { d =>
      val id = d.getLong(0)
      val payload = Option(d.getString(1)).getOrElse("")
        .getBytes(StandardCharsets.UTF_8)
      ("response", Seq(
        "WARC-Record-ID" -> s"<urn:graft:doc-$id>",
        "WARC-Target-URI" -> s"https://$source.example.org/doc/$id"),
        payload)
    }
    val info = ("warcinfo", Seq(
      "WARC-Record-ID" -> s"<urn:graft:shard-$source-$shard>"),
      s"software: graft\nshard: $source/$shard\n"
        .getBytes(StandardCharsets.UTF_8))
    info +: body
  }

  /** Grouped shard rows → one container per (source, shard) via `frame`. */
  private def buildContainers(docs: DataFrame)(
      frame: Seq[(String, Seq[(String, String)], Array[Byte])] => Array[Byte])
      : DataFrame = {
    val enc = RowEncoder.encoderFor(containerSchema)
    docs
      .select(col("source"), expr(s"doc_id div $docsPerShard").as("shard"),
        struct(col("doc_id"), col("text")).as("rec"))
      .groupBy(col("source"), col("shard"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getString(0), r.getLong(1),
            frame(shardRecords(r.getString(0), r.getLong(1), r.getSeq[Row](2))))
        }
      }(enc)
  }

  /** One WARC container per (source, doc_id div docsPerShard): a warcinfo
    * record then one response record per document, docs in doc_id order so
    * container bytes are deterministic. */
  def containers(docs: DataFrame): DataFrame =
    buildContainers(docs)(WarcCodec.build)

  /** `.warc.gz` twin: the SAME records, but each record is its own gzip
    * member ([[GzipMembers]]) and the members are concatenated — Common
    * Crawl's on-disk framing. */
  def containersGz(docs: DataFrame): DataFrame =
    buildContainers(docs) { recs =>
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach(r => bos.write(GzipMembers.gzip(WarcCodec.build(Seq(r)))))
      bos.toByteArray
    }

  private def responseRows(source: String, shard: Long,
      recs: Seq[WarcCodec.Rec]): Seq[Row] =
    recs.filter(_.warcType == "response").map { rec =>
      val id = rec.recordId.stripPrefix("<urn:graft:doc-")
        .stripSuffix(">").toLong
      Row(source, shard, id, rec.targetUri, rec.payload.length.toLong, true, null)
    }

  /** The one record walk behind every reader: containers → response rows
    * with `ok`/`err`. Each member is parsed as its own WARC container — a
    * `.warc.gz` container walks its gzip members lazily
    * ([[GzipMembers.memberIterator]]), a plain one is a single member. At
    * the first poison (bad gzip member OR bad WARC framing) the walk yields
    * ONE quarantine row (`ok = false`, the error text) and stops; the good
    * rows of the members before it are kept — exactly how far a ranged
    * reader would have gotten (at 100 TB each executor inflates only the
    * members inside its byte range; the member walk IS the split
    * algorithm). A plain container is one member, so its poison leaves
    * one quarantine row and no good rows. The doc id is read BACK out of
    * the WARC-Record-ID urn — row-level parse parity, not an echo of
    * carried columns. */
  private def walk(containers: DataFrame, gz: Boolean): DataFrame = {
    val enc = RowEncoder.encoderFor(
      recordSchema.add("ok", BooleanType).add("err", StringType))
    containers.select(col("source"), col("shard"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val (source, shard, bytes) = (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2))
          val members =
            if (gz) GzipMembers.memberIterator(bytes).map(_._2) else Iterator.single(bytes)
          Iterator.unfold(false) { poisoned =>
            if (poisoned || !members.hasNext) None
            else try Some((responseRows(source, shard, WarcCodec.parse(members.next())), false))
            catch {
              case e: IllegalArgumentException =>
                Some((Seq(Row(source, shard, null, null, null, false, e.getMessage)), true))
            }
          }.flatten
        }
      }(enc)
  }

  /** The strict contract over [[walk]]: a quarantine row fails the task
    * with the poison's message. The check is a FILTER, so a consumer that
    * reads none of `ok`/`err` (a per-source count) cannot prune it away. */
  private def strict(recs: DataFrame): DataFrame =
    recs.filter(col("ok") || raise_error(col("err")).cast(BooleanType)).drop("ok", "err")

  /** Parse containers to the response-record stream; a malformed
    * container fails the task. */
  def records(containers: DataFrame): DataFrame = strict(walk(containers, gz = false))

  /** [[records]] over `.warc.gz` containers: each record is its own gzip
    * member, inflated and parsed alone. */
  def recordsGz(containers: DataFrame): DataFrame = strict(walk(containers, gz = true))

  /** Poison-gated twin of [[records]]: a malformed container becomes ONE
    * quarantine row (`ok = false`, the error text) instead of a job-killing
    * exception; good containers flow through unchanged. */
  def recordsSafe(containers: DataFrame): DataFrame = walk(containers, gz = false)

  /** Poison-gated twin of [[recordsGz]]: a malformed container (bad gzip
    * member OR bad WARC framing inside a member) becomes ONE quarantine
    * row. Members BEFORE the poison are kept. */
  def recordsGzSafe(containers: DataFrame): DataFrame = walk(containers, gz = true)

  private def report(recs: DataFrame): DataFrame =
    recs.groupBy(col("source"))
      .agg(countDistinct(col("shard")).as("n_shards"),
        count(lit(1)).as("n_records"),
        sum(col("content_length")).as("payload_bytes"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** The ingest report: per source, shards seen, records parsed, payload
    * bytes recovered, id range — each number re-derivable from the raw
    * documents table, which is exactly what the oracle does. */
  def ingestReport(docs: DataFrame): DataFrame =
    report(records(containers(docs)))

  /** [[ingestReport]] through the `.warc.gz` framing — same oracle, so the
    * compressed path proves byte-level parity with the plain one. */
  def ingestReportGz(docs: DataFrame): DataFrame =
    report(recordsGz(containersGz(docs)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_ingest_warc" -> ((s, dir) =>
      Util.orderAll(ingestReport(Tables.documents(s, dir)))),
    "doc_ingest_warc_gz" -> ((s, dir) =>
      Util.orderAll(ingestReportGz(Tables.documents(s, dir)))))

  // strlen = UTF-8 bytes (the parser counts payload bytes, not chars);
  // n_shards mirrors the writer's doc_id div docsPerShard partitioning
  private val reportSql: String = Util.wrap(
    s"""SELECT source,
       |  count(DISTINCT doc_id // $docsPerShard) AS n_shards,
       |  count(*) AS n_records,
       |  CAST(sum(strlen(text)) AS BIGINT) AS payload_bytes,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM documents GROUP BY source""".stripMargin,
    Seq("source", "n_shards", "n_records", "payload_bytes", "min_doc",
      "max_doc"))

  def oracle: Map[String, String] = Map(
    "doc_ingest_warc" -> reportSql,
    // the gz path must land on the SAME report — compression is framing,
    // not semantics; a shared oracle string makes that parity explicit
    "doc_ingest_warc_gz" -> reportSql)
}
