package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.AnalyticsQueries
import graft.sources.Tables

/** Streaming anomaly flagging — the online face of events_anomaly:
  * arriving events are scored against a per-type (mean, sd) index fitted
  * ONCE from history. The index is one row per event type — constant
  * size at any corpus scale — so the stream-static join is a broadcast
  * by construction, never a shuffle of the arriving batch (asserted in
  * StreamingSpec). Scoring reuses the batch operator verbatim
  * (AnalyticsQueries.flagAnomalies), so a full replay reproduces
  * events_anomaly exactly (shared oracle).
  */
object AnomalyStream {

  /** `eventsPath` overrides the replay source (default: the sf dir's
    * events.parquet) — the spec replays a multi-file split of the same
    * history to force several micro-batches.
    */
  def anomalyStream(spark: SparkSession, dir: String,
                    outDir: String, checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    eventsPath: Option[String] = None): DataFrame = {
    // fit the constant-size stats dim from history, once, outside the
    // stream; persist it as a plain local value via the micro-batch plan
    val stats = AnalyticsQueries.typeStats(
      Tables.load(spark, dir, "events").filter(col("value").isNotNull))

    val arriving = TopicStream.eventsStream(spark,
        eventsPath.getOrElse(s"$dir/events.parquet"), maxFilesPerTrigger)
      .filter(col("value").isNotNull)

    TopicStream.runBatches(spark, AnalyticsQueries.flagAnomalies(arriving, stats),
      outDir, checkpointDir)((batch, _) => batch)
  }
}
