package graft

import graft.llm.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Specs for the round-11 work: the measured stored IVF-PQ serving
  * contract (derived refine), the appendable ANN index, the empty-seed
  * dedup artifact bootstrap, and training-shard materialization. Fixture
  * oracle parity stays the driver's DuckDB gate; these pin the contracts
  * the oracle can't isolate. */
class Round11OpsSpec extends SparkSpec {
  import spark.implicits._

  test("empty-seed hashed artifact: build from zero docs, first append bootstraps to == rebuild") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val empty = docs.filter(lit(false))
    val p = java.nio.file.Files.createTempDirectory("graft-dedup-empty").toString
    Dedup.writeDedupArtifactHashed(empty, p, 0.3)
    // the ad-hoc append derives its batch id from the stored nodes part —
    // on an empty seed that read must bootstrap, not fail schema inference
    Dedup.appendDedupArtifact(docs, p)
    val p2 = java.nio.file.Files.createTempDirectory("graft-dedup-empty-reb").toString
    Dedup.writeDedupArtifactHashed(docs, p2, 0.3)
    def rows(path: String, part: String) =
      spark.read.parquet(s"$path/$part").drop("ingest_batch")
        .collect().map(_.toString).sorted.toSeq
    for (part <- Seq("pairs", "clusters", "counts", "nodes"))
      assert(rows(p, part) == rows(p2, part),
        s"empty-seed append != rebuild on $part")
    assert(spark.read.parquet(s"$p/pairs").count() > 0, "law vacuous")
  }

  private def partRows(path: String, part: String): Seq[String] =
    spark.read.parquet(s"$path/$part").drop("ingest_batch")
      .collect().map(_.toString).sorted.toSeq

  test("appendable IVF index: append == assign-against-stored-centroids rebuild, bit-identical cells; replay is a no-op; probe-all anchors to brute") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    // id-RANGE split (yesterday's ids / today's): a mod split can align
    // with the derived centroid stride and starve the seed sample — which
    // the build now rejects loudly (the empty-centroid require)
    val a = corpus.filter($"vec_id" < 340)
    val b = corpus.filter($"vec_id" >= 340)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.writeIvfIndexSized(a, idx)
    Similarity.appendIvfIndex(b, idx) // ad-hoc form derives batch id = 1
    // the law: assignment is per-vector against a FIXED centroid table, so
    // the appended index's cells hold exactly what assigning A∪B against
    // the STORED centroids produces — bit-identical content
    val cent = spark.read.parquet(s"$idx/centroids")
    val expected = Similarity.assignAgainst(corpus, cent)
      .collect().map(_.toString).sorted.toSeq
    assert(partRows(idx, "cells") == expected, "append != rebuild on cells")
    // replay idempotence: re-appending the SAME increment under the SAME
    // ingest_batch id dynamically overwrites its partition bit-identically
    Similarity.appendIvfIndex(b, idx, ingestBatch = 1L)
    assert(partRows(idx, "cells") == expected, "replayed append mutated cells")
    // whole-chain anchor: probe-all over the appended index == brute force
    // over the full corpus (every appended vector is reachable)
    val queries = emb.filter($"vec_id" < 5)
    val nCells = cent.count().toInt
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(Similarity.ivfTopKAgainstIndex(queries, idx, 10, nprobe = nCells)) ==
      rows(Similarity.bruteForceTopK(emb, 5, 10)))
    // centroid-drift trigger: one append (growth 495/335 ≈ 1.48) sits
    // under the r12-measured IVF factor (1.6); a second increment pushes
    // growth past it
    assert(!Similarity.ivfIndexNeedsRebuild(spark, idx),
      "trigger tripped below the rebuild factor")
    val b2 = b.withColumn("vec_id", $"vec_id" + 100000L)
    Similarity.appendIvfIndex(b2, idx)
    val total = spark.read.parquet(s"$idx/cells").count()
    val buildN = spark.read.parquet(s"$idx/params")
      .select($"build_n".cast("long")).head().getLong(0)
    assert(Similarity.ivfIndexNeedsRebuild(spark, idx, rebuildFactor = 0.5),
      "trigger must trip at a factor the growth exceeds")
    assert(Similarity.ivfIndexNeedsRebuild(spark, idx) ==
      (total > Similarity.IvfRebuildFactor * buildN),
      "default trigger != the documented rule")
  }

  test("appendable IVF-PQ index: append == encode-against-stored-tables rebuild on codes AND vectors; replay no-op; probe-all+refine-all anchors to brute") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    val a = corpus.filter($"vec_id" < 340)
    val b = corpus.filter($"vec_id" >= 340)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    Similarity.writeIvfPqIndexSized(a, idx)
    Similarity.appendIvfPqIndex(b, idx) // ad-hoc form derives batch id = 1
    val cent = spark.read.parquet(s"$idx/centroids")
    val cbr = spark.read.parquet(s"$idx/codebook")
    val expCodes = Similarity.pqCodesAgainst(corpus, cent, cbr)
      .collect().map(_.toString).sorted.toSeq
    assert(partRows(idx, "codes") == expCodes, "append != rebuild on codes")
    Similarity.appendIvfPqIndex(b, idx, ingestBatch = 1L)
    assert(partRows(idx, "codes") == expCodes, "replayed append mutated codes")
    // the vectors part grew by exactly the increment (refine reads see B)
    assert(spark.read.parquet(s"$idx/vectors").count() == corpus.count())
    // probe-all + corpus-covering refine over the APPENDED index == brute
    // force over the full corpus — the strongest whole-chain anchor
    val queries = emb.filter($"vec_id" < 5)
    val n = corpus.count().toInt
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(Similarity.ivfPqRefineAgainstIndex(queries, idx, 10,
        nprobeOverride = Some(n), refineOverride = Some(n))) ==
      rows(Similarity.bruteForceTopK(emb, 5, 10)))
    // r12: the PQ trigger's measured factor is 1.2 (residual codes
    // quantize against stale centroids, so PQ recall drifts fastest) —
    // this test's single 1.48× append must already trip it, while the
    // ratio itself stays under the old rule-of-thumb 2.0
    assert(Similarity.ivfPqIndexNeedsRebuild(spark, idx),
      "1.48x growth must trip the measured 1.2 PQ factor")
    assert(!Similarity.ivfPqIndexNeedsRebuild(spark, idx, rebuildFactor = 2.0))
    assert(Similarity.ivfPqIndexNeedsRebuild(spark, idx, rebuildFactor = 0.5))
  }

  test("streaming ANN index maintenance: stream of micro-batches == assign-against-stored-centroids over everything delivered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val corpus = emb.filter($"vec_id" >= 5)
    val seed = corpus.filter($"vec_id" < 170)
    val b1 = corpus.filter($"vec_id" >= 170 && $"vec_id" < 335)
      .as[(Long, Array[Float])].collect().toSeq
    val b2 = corpus.filter($"vec_id" >= 335).as[(Long, Array[Float])].collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    Similarity.writeIvfIndexSized(seed, idx)
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = streaming.Maintenance.annIndex(
      mem.toDF().toDF("vec_id", "embedding"), idx,
      java.nio.file.Files.createTempDirectory("graft-ivf-stream-ckpt").toString)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val cent = spark.read.parquet(s"$idx/centroids")
    val expected = Similarity.assignAgainst(corpus, cent)
      .collect().map(_.toString).sorted.toSeq
    assert(partRows(idx, "cells") == expected,
      "streamed index != assign-against-stored-centroids rebuild")
  }
}
