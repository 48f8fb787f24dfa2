package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, Tables}

/** Streaming banded range join — the online face of
  * [[graft.operators.RangeJoin.countInWindow]]: each arriving purchase
  * counts the clicks within ± the window of itself, probing a click
  * index materialized ONCE as a table bucketed by BOTH probe keys
  * (user_id, band). The micro-batch explodes into band±1 probes and
  * equi-joins on the full bucket key, so the static side plans with
  * zero Exchange AND candidates stay band-bounded per trigger — the
  * same ×3-band-population bound as the batch operator, never a key's
  * full history. Zero-match purchases survive through the left_outer
  * probe (a probe row with no partner carries a null right time, which
  * the in-window gate keeps and the count ignores). Replay equals
  * events_range_join exactly (its oracle verbatim).
  */
object RangeJoinStream {

  val IndexBuckets = 8

  def rangeCountStream(spark: SparkSession, dir: String,
                       outDir: String, checkpointDir: String,
                       // the batch query's constant, not a copy: the
                       // replay-equals-batch contract depends on the two
                       // staying identical (round-7 ADVICE)
                       widthUs: Long = graft.queries.AnalyticsQueries.RangeWidthUs,
                       maxFilesPerTrigger: Option[Int] = None,
                       tablePrefix: String = "graft_range"): DataFrame = {
    require(widthUs > 0, s"rangeCountStream: widthUs must be positive, got $widthUs")
    val clicksTable = s"${tablePrefix}_clicks"
    Bucketing.writeBucketed(
      Tables.load(spark, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("__rt"),
          floor(unix_micros(col("ts")) / widthUs).as("__band")),
      clicksTable, IndexBuckets, "user_id", "__band")
    val clicks = spark.table(clicksTable)

    val purchases = TopicStream.eventsStream(spark, s"$dir/events.parquet", maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))

    val band = floor(unix_micros(col("ts")) / widthUs)
    val probes = purchases
      .withColumn("__band", explode(array(band - 1, band, band + 1)))
    val candidates = probes
      .join(clicks.hint("merge"), Seq("user_id", "__band"), "left_outer")
      .filter(col("__rt").isNull ||
        abs(unix_micros(col("ts")) - unix_micros(col("__rt"))) <= widthUs)

    // count(__rt) skips the null carriers, so a zero-match purchase
    // reduces to n_in_window = 0 instead of disappearing
    TopicStream.runBatches(spark, candidates, outDir, checkpointDir)((batch, _) => batch
      .groupBy(col("event_id"), col("user_id"), col("ts"), col("value"))
      .agg(count(col("__rt")).as("n_in_window")))
  }
}
