package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Streaming corpus data cards — the live-ingest twin of the batch corpus
  * reports (TextOps.sourceStats). A crawl that lands parquet files
  * continuously keeps the per-(source, lang) inventory current without
  * rescanning the corpus: every aggregate in the card is
  * order-independent (counts, integer sums, min/max), so complete-mode
  * streaming aggregation state is ONE row per stratum — bounded by the
  * stratum count, never by documents — and an AvailableNow replay of the
  * whole corpus reproduces the batch card exactly (batch oracle
  * verbatim; StreamingSpec pins multi-batch replay equality).
  */
object CorpusStream {

  /** Complete-mode per-(source, lang) stats over a documents file stream.
    * Derived columns (avg tokens/doc) and the presentation sort ride
    * AFTER the aggregate, on stratum-count rows — both legal in complete
    * mode and free at any scale.
    */
  def sourceStatsStream(spark: SparkSession, docsPath: String,
                        outDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val docs = TopicStream.fileStream(spark, docsPath, maxFilesPerTrigger)
    TopicStream.completeToParquet(spark, TextOps.sourceStats(docs),
      outDir, checkpointDir)
  }

  /** An admitted document with its admission rank within its source. */
  case class Admitted(doc_id: Long, source: String, admit_seq: Int)

  /** Streamed admission-gate input row ([[quotaStream]]). */
  case class QuotaDoc(doc_id: Long, source: String)

  /** Per-source ingest QUOTA — the online face of the per-host cap
    * (pipeline_sample_stratified): admit the first `cap` documents a
    * source delivers and reject the rest at the door, so a crawler that
    * floods one host cannot flood the corpus. Admission is ARRIVAL
    * order (the streaming-native semantics — the batch twin's hash rank
    * needs the whole corpus to exist first; an ingest gate cannot), made
    * deterministic in the gate by the ordered doc_id replay. Per-source
    * state is ONE counter — bounded by the source count, never by
    * documents — and sources at quota cost a counter compare per doc,
    * nothing more.
    */
  def quotaStream(spark: SparkSession, docsPath: String,
                  outDir: String, checkpointDir: String, cap: Int = 10,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val admitted = TopicStream.fileStream(spark, docsPath, maxFilesPerTrigger)
      .select(col("doc_id"), col("source")).as[QuotaDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[QuotaDoc], state: GroupState[Int]) =>
          var n = state.getOption.getOrElse(0)
          val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            if (n < cap) {
              n += 1
              out += Admitted(d.doc_id, source, n)
            }
          }
          state.update(n)
          out.iterator
      }
    TopicStream.runBatches(spark, admitted.toDF(), outDir, checkpointDir,
      OutputMode.Update)(TopicStream.withBatchId)
  }
}
