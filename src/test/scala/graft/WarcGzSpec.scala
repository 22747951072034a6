package graft

import java.nio.charset.StandardCharsets

import graft.llm.{GzipMembers, WarcIngest}

/** `.warc.gz` member framing laws the shared DuckDB oracle can't isolate:
  * the member walk's offsets and payload recovery, RFC 1952 optional-field
  * skipping, trailer verification, the truncated-member poison gate, and
  * plain≡gz report parity. */
class WarcGzSpec extends SparkSpec {
  import spark.implicits._

  private def b(s: String) = s.getBytes(StandardCharsets.UTF_8)

  /** The strict whole-container walk: (memberOffset, inflatedBytes) per
    * member; trailing garbage, a bad header, a truncated body, or a
    * CRC/ISIZE mismatch all throw. */
  private def allMembers(bytes: Array[Byte]): IndexedSeq[(Long, Array[Byte])] =
    GzipMembers.memberIterator(bytes).toIndexedSeq

  test("member walk: concatenated members come back in order, byte-exact, with monotone offsets") {
    val payloads = Seq("first", "second, a bit longer " * 50, "", "fourth")
    val bos = new java.io.ByteArrayOutputStream()
    val offsets = payloads.map { p =>
      val off = bos.size().toLong
      bos.write(GzipMembers.gzip(b(p)))
      off
    }
    val got = allMembers(bos.toByteArray)
    assert(got.map(_._1) == offsets.toIndexedSeq,
      "each member's reported offset must be where its header starts")
    assert(got.map(m => new String(m._2, StandardCharsets.UTF_8))
      == payloads.toIndexedSeq)
  }

  test("member walk: RFC 1952 FNAME/FEXTRA/FCOMMENT/FHCRC optional fields are skipped by spec") {
    // hand-assemble a member with every optional field set: the JDK's
    // GZIPOutputStream never emits them, so this is the only way to prove
    // the reader handles third-party writers (wget/ia tools DO set FNAME)
    val plain = GzipMembers.gzip(b("payload under test"))
    val deflateAndTrailer = java.util.Arrays.copyOfRange(plain, 10, plain.length)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, (0x04 | 0x08 | 0x10 | 0x02).toByte,
      0, 0, 0, 0, 0, 0))                       // header, FLG = FEXTRA|FNAME|FCOMMENT|FHCRC
    bos.write(Array[Byte](3, 0)); bos.write(b("xtr"))    // FEXTRA: XLEN=3
    bos.write(b("name.warc")); bos.write(0)              // FNAME, NUL-terminated
    bos.write(b("a comment")); bos.write(0)              // FCOMMENT
    bos.write(Array[Byte](0x12, 0x34))                   // FHCRC (not verified — skipped)
    bos.write(deflateAndTrailer)
    val got = allMembers(bos.toByteArray)
    assert(got.size == 1 &&
      new String(got.head._2, StandardCharsets.UTF_8) == "payload under test")
  }

  test("member walk: corrupted trailer CRC and truncated body both throw with an offset") {
    val good = GzipMembers.gzip(b("x" * 100))
    val badCrc = good.clone()
    badCrc(badCrc.length - 8) = (badCrc(badCrc.length - 8) ^ 0xff).toByte
    val e1 = intercept[IllegalArgumentException](allMembers(badCrc))
    assert(e1.getMessage.contains("CRC32"))
    val e2 = intercept[IllegalArgumentException](
      allMembers(good.take(good.length / 2)))
    assert(e2.getMessage.contains("gzip"))
  }

  test("member walk: a decompression-bomb member fails as IllegalArgumentException, not an OOM Error") {
    // ~128 MB of zeros deflates to ~128 KB — a >1000:1 member, far past the
    // 256:1-of-compressed-remainder cap; the gate must throw the same
    // IllegalArgumentException type the poison path quarantines, BEFORE
    // materializing the inflated bytes
    val bomb = GzipMembers.gzip(new Array[Byte](128 << 20))
    assert(bomb.length < (1 << 20), "fixture: the bomb must be small on the wire")
    val e = intercept[IllegalArgumentException](allMembers(bomb))
    assert(e.getMessage.contains("bomb"), e.getMessage)
    // ordinary text members (well under the cap) are untouched by the gate
    val ok = GzipMembers.gzip(b("normal text " * 1000))
    assert(new String(allMembers(ok).head._2, StandardCharsets.UTF_8)
      == "normal text " * 1000)
    // LEGITIMATE highly-repetitive crawl content — whitespace/table-heavy
    // HTML with a counter every 8th row — compresses ~130:1, past the old
    // 64:1 cap but under 256:1, and inflates past the 1 MiB floor. The r10
    // ADVICE finding: the old cap silently quarantined members like this
    // (data loss); the raised cap must pass them through intact.
    val sb = new StringBuilder
    for (i <- 0 until 20000) {
      if (i % 8 == 0) sb.append(f"<tr><td>$i%08d</td></tr>\n")
      sb.append("<tr><td>").append(" " * 120).append("</td></tr>\n")
    }
    val html = sb.toString
    val rep = GzipMembers.gzip(b(html))
    val ratio = html.length.toDouble / rep.length
    assert(ratio > 64 && ratio < 256,
      f"fixture drifted out of the cap gap: ratio $ratio%.1f")
    assert(html.length > (1 << 20), "fixture must inflate past the floor")
    assert(new String(allMembers(rep).head._2, StandardCharsets.UTF_8)
      == html, "legitimate repetitive member was quarantined by the cap")
  }

  test("gz ingest parity: the .warc.gz report equals the plain-WARC report row-for-row") {
    val docs = Seq((1L, "alpha " * 40, "sA"), (2L, "beta", "sA"),
      (60L, "other shard", "sA"), (3L, "gamma WARC/1.0\r\n\r\nevil", "sB"))
      .toDF("doc_id", "text", "source")
    val plain = WarcIngest.ingestReport(docs).orderBy("source")
      .collect().map(_.toSeq).toSeq
    val gz = WarcIngest.ingestReportGz(docs).orderBy("source")
      .collect().map(_.toSeq).toSeq
    assert(plain == gz, s"framing changed semantics:\n$plain\nvs\n$gz")
  }

  test("gz poison gate: members before a truncated member survive, the poison becomes one quarantine row") {
    val docs = Seq((1L, "good one", "sA"), (2L, "good two", "sA"))
      .toDF("doc_id", "text", "source")
    val cont = WarcIngest.containersGz(docs).collect()
    assert(cont.length == 1)
    val bytes = cont.head.getAs[Array[Byte]]("payload")
    val members = allMembers(bytes)
    assert(members.size == 3, "warcinfo + 2 responses expected")
    // keep the first two members intact, truncate the third mid-body
    val cut = (members(2)._1 + 12).toInt
    val poisoned = Seq(("sA", 0L, bytes.take(cut)))
      .toDF("source", "shard", "payload")
    val out = WarcIngest.recordsGzSafe(poisoned).collect()
    val (bad, good) = out.partition(!_.getAs[Boolean]("ok"))
    assert(bad.length == 1 && bad.head.getAs[String]("err") != null)
    assert(good.map(_.getAs[Long]("doc_id")).toSet == Set(1L),
      "the response member before the poison must survive (ranged-reader semantics)")
    // the strict reader is the same walk plus a check: the poison fails the
    // task with its own message, even through a consumer that reads none
    // of the check's columns
    val strictErr = intercept[Exception](
      WarcIngest.recordsGz(poisoned).groupBy("source").count().collect())
    assert(Iterator.iterate[Throwable](strictErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(bad.head.getAs[String]("err"))),
      s"strict recordsGz must fail with the poison's message: $strictErr")
  }
}
