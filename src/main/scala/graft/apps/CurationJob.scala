package graft.apps

import graft.{GraftConfig, Sessions}
import graft.llm.Dedup
import graft.streaming.CorpusIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Production corpus-curation application — the training-data counterpart
  * of [[EnrichmentJob]]: watch a directory for JSONL documents, decode with
  * quarantine, gate (language / quality / repetition / decontamination /
  * in-batch dedup), and write a lang-partitioned parquet corpus with
  * idempotent batch_id overwrite semantics. All policy comes from the same
  * properties-file surface the reference uses (GraftConfig: file path arg →
  * classpath fallback), so ops changes (thresholds, eval corpus, paths)
  * never need a rebuild.
  *
  * Config keys (defaults in parentheses):
  *  - `curation.input-dir` — watched JSONL directory (/tmp/graft-docs-in)
  *  - `curation.output-dir` — curated corpus (/tmp/graft-corpus)
  *  - `curation.quarantine-dir` — corrupt lines (/tmp/graft-quarantine)
  *  - `curation.checkpointLocation` (/tmp/graft-curation-ckpt)
  *  - `curation.quality-threshold` (0.45)
  *  - `curation.eval-mod` (101) — held-out doc_id residue class
  *  - `curation.eval-corpus` (unset) — parquet of benchmark documents;
  *    when set, ingest decontaminates against its shingle sets
  *  - `curation.min-overlap` (2) — shingles shared with the benchmark
  *    before a doc is dropped as contaminated
  *  - `curation.near-dup-index` (unset) — path of a stored MinHash index
  *    ([[Dedup.writeNearDupIndex]]); when set, each batch is band-joined
  *    against it and near-duplicates of the indexed corpus are dropped
  *  - `curation.near-dup-threshold` (0.4) — Jaccard gate for that drop
  *  - `curation.containment-threshold` (unset) — when set (needs
  *    `curation.near-dup-index`), also drops a batch doc whose shingle
  *    CONTAINMENT |A∩B|/|A| vs any indexed doc reaches the threshold —
  *    the asymmetric excerpt-of-a-bigger-page case Jaccard misses
  *
  * Usage: `CurationJob <config.properties>`.
  */
object CurationJob {

  /** Build and start the ingest from config — separated from main so the
    * wiring itself is spec-testable without awaitTermination. */
  def start(spark: SparkSession, conf: GraftConfig): StreamingQuery = {
    val evalShingles = conf.get("curation.eval-corpus", "") match {
      case "" => None
      case p => Some(Dedup.shingles(Dedup.tokenized(
        spark.read.parquet(p).select("doc_id", "text"))))
    }
    CorpusIngest.run(
      spark,
      inDir = conf.get("curation.input-dir", "/tmp/graft-docs-in"),
      outDir = conf.get("curation.output-dir", "/tmp/graft-corpus"),
      quarantineDir = conf.get("curation.quarantine-dir", "/tmp/graft-quarantine"),
      checkpoint = conf.get("curation.checkpointLocation", "/tmp/graft-curation-ckpt"),
      qualityThreshold = conf.getDouble("curation.quality-threshold", 0.45),
      evalMod = conf.getLong("curation.eval-mod", 101L),
      evalShingles = evalShingles,
      minOverlap = conf.getInt("curation.min-overlap", 2),
      nearDupIndex = conf.get("curation.near-dup-index", "") match {
        case "" => None; case p => Some(p)
      },
      nearDupThreshold = conf.getDouble("curation.near-dup-threshold", 0.4),
      containmentThreshold = conf.get("curation.containment-threshold", "") match {
        case "" => None; case t => Some(t.toDouble)
      })
  }

  def main(args: Array[String]): Unit = {
    val conf = GraftConfig.load(args)
    start(Sessions.cluster("graft-curation"), conf).awaitTermination()
  }
}
