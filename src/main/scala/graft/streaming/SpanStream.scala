package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextOps
import graft.sources.{Bucketing, Tables}

/** Streaming ExactSubstr span removal — rewrite the firehose against a
  * FITTED duplicate-span vocabulary. The batch operator
  * (TextOps.spanDedup) derives the df ≥ 2 span vocabulary from the same
  * corpus it rewrites; a deployment fits that vocabulary ONCE over the
  * history corpus, materializes it bucketed by the 8-byte span hash, and
  * rewrites every arriving document against it — the online form of
  * "drop the boilerplate the corpus has already seen twice".
  *
  * Per micro-batch: arriving docs are span-hashed with the same
  * stateless kernel as batch, exploded, joined against the bucketed
  * vocabulary (the static side scans its buckets — no re-shuffle of the
  * vocabulary per trigger, spec-pinned via SelectedBucketsCount), the
  * per-doc dup list collected batch-locally (a doc's spans co-locate in
  * its own batch — zero cross-batch state), and the rewrite is the same
  * one-call codegen'd kernel. Fitted-vocabulary semantics: a span pair
  * arriving only AFTER the fit is not removed — exactly how a fitted
  * filter behaves in production.
  *
  * Replay parity: an AvailableNow replay of the fit corpus reproduces
  * pipeline_span_dedup verbatim (shared oracle; StreamingSpec pins
  * multi-batch replay equality).
  */
object SpanStream {

  /** One-time fit: materialize the df ≥ 2 span vocabulary bucketed (and
    * sorted) by its probe key. Returns the table name.
    */
  def writeSpanVocab(spark: SparkSession, dir: String,
                     table: String = "graft_span_vocab",
                     numBuckets: Int = DedupStream.IndexBuckets): String = {
    val docs = Tables.load(spark, dir, "documents")
    Bucketing.writeBucketed(TextOps.spanVocab(docs), table, numBuckets, "h")
    table
  }

  /** `docsPath` overrides the replay source (default: the sf dir's
    * documents.parquet) — the spec replays a multi-file split to force
    * several micro-batches.
    */
  def spanDedupStream(spark: SparkSession, dir: String,
                      outDir: String, checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None,
                      docsPath: Option[String] = None): DataFrame = {
    val vocab = spark.table(writeSpanVocab(spark, dir)).hint("merge")

    val arriving = TopicStream.fileStream(spark,
      docsPath.getOrElse(s"$dir/documents.parquet"), maxFilesPerTrigger)

    TopicStream.runBatches(spark, arriving, outDir, checkpointDir)(
      (batch, _) => TextOps.spanDedupWithVocab(batch, vocab))
  }
}
