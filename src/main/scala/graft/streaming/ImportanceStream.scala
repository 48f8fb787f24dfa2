package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.{Bucketing, Tables}

/** Streaming DSIR scoring — importance-filter the firehose. The batch
  * operator (TextOps.importanceWeights) fits per-shingle fixed-point
  * likelihood ratios from a history corpus; a deployment fits that table
  * ONCE, materializes it bucketed by the 8-byte shingle hash, and scores
  * every arriving document against it forever — the online form of
  * "select pretraining data that resembles the target domain".
  *
  * Per micro-batch: the arriving docs are shingled with the same
  * stateless projection as batch, exploded, and LEFT-joined against the
  * bucketed weight index (zero static-side Exchange per trigger; the
  * merge hint pins the bucketed SMJ against AQE's test-scale broadcast);
  * the per-doc BIGINT reduce runs inside the sink — an exploded doc's
  * shingles always co-locate in one batch, so no cross-batch state
  * exists at all. Fitted-index semantics: shingles the history never saw
  * weigh nothing (the left join keeps the doc, scoring its known
  * shingles) — exactly how a fitted DSIR filter behaves in production.
  *
  * Replay parity: an AvailableNow replay of the fit corpus reproduces
  * pipeline_importance verbatim (shared oracle; StreamingSpec pins
  * multi-batch replay equality and the zero-Exchange static side).
  */
object ImportanceStream {

  val Scale = 10000L

  /** One-time fit: materialize the weight table bucketed (and sorted) by
    * its probe key. Returns the table name.
    */
  def writeWeightIndex(spark: SparkSession, dir: String,
                       table: String = "graft_importance_weights",
                       numBuckets: Int = DedupStream.IndexBuckets): String = {
    val docs = Tables.load(spark, dir, "documents")
    Bucketing.writeBucketed(
      TextOps.importanceWeightTable(docs, col("doc_id") % 97 === 0, Scale),
      table, numBuckets, "h")
    table
  }

  /** `docsPath` overrides the replay source (default: the sf dir's
    * documents.parquet) — the spec replays a multi-file split to force
    * several micro-batches.
    */
  def importanceStream(spark: SparkSession, dir: String,
                       outDir: String, checkpointDir: String,
                       maxFilesPerTrigger: Option[Int] = None,
                       docsPath: Option[String] = None): DataFrame = {
    val weights = spark.table(writeWeightIndex(spark, dir)).hint("merge")

    val arriving = TopicStream.fileStream(spark,
        docsPath.getOrElse(s"$dir/documents.parquet"), maxFilesPerTrigger)
      .filter(col("doc_id") % 97 =!= 0)
    val joined = TextOps.explodeJoinWeights(TextOps.importanceHashes(arriving), weights)
    TopicStream.runBatches(spark, joined, outDir, checkpointDir)(
      (batch, _) => TextOps.reduceImportance(batch, Scale))
  }
}
