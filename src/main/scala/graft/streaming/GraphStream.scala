package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.sources.Bucketing

/** Streaming MIS-representative assignment (`stream_mis_assign`, r14 —
  * round-13 VERDICT #4): the online face of
  * [[Graph.misAssignFromIndex]]. The expensive parts are fitted ONCE,
  * offline — the kNN edge index (bucketed by `src`, the
  * build-once/rank-many layout every batch consumer shares) and the
  * iterated-Luby MIS representative set (node-sized, materialized as a
  * small table) — then every arriving micro-batch of vectors classifies
  * STATELESSLY against them: the batch's rows probe the bucketed edge
  * table on `src`, keep edges into the selected set, and take the
  * struct-min (−cos, dst) best representative — the batch operator's
  * exact aggregation, batch-local-complete because a vector's edges all
  * live in the static index. Zero cross-batch state, batchId-idempotent
  * sink; a full replay of the corpus equals `knn_mis_assign` row for
  * row, so the oracle is SHARED VERBATIM (the stream_pca_score
  * contract: a streaming surface must never change answers).
  *
  * At 100 TB this is the serving deployment: the graph + MIS fit is the
  * offline job, the assignment is a per-trigger bucketed lookup whose
  * static side never re-shuffles (the probe rides the src-bucketed
  * layout) and whose per-batch cost is the batch's own edges, never the
  * corpus.
  */
object GraphStream {

  /** One batch's assignment against the static index + selected set —
    * the [[Graph.misAssignFromIndex]] arithmetic restricted to the
    * batch's vec_ids (runs inside foreachBatch, the
    * classifySemanticBatch shape). Only the BATCH side is
    * broadcast-hinted (batch-sized by construction); the selected set
    * is NODE-SIZED (a kNN-graph MIS keeps ~a quarter of the corpus),
    * so its membership joins carry no hint — the planner broadcasts
    * while it is small and falls back to shuffle joins of the
    * batch-edge-sized probe rows at scale (the batch operator's own
    * semi/anti-join shape). The edge scan stays on its bucketed layout.
    */
  private[graft] def assignBatch(spark: SparkSession, batch: DataFrame,
                                 idxTable: String, selTable: String): DataFrame = {
    val ids = batch.select(col("vec_id")).distinct()
    val sel = spark.table(selTable)
    val selfArm = ids
      .join(sel, ids("vec_id") === sel("sel_id"), "left_semi")
      .select(col("vec_id"), col("vec_id").as("rep_id"),
        lit(null).cast("double").as("cos"), lit(true).as("is_rep"))
    val unselArm = spark.table(idxTable)
      .select(col("src"), col("dst"), col("cos"))
      .join(broadcast(ids.withColumnRenamed("vec_id", "src")), "src")
      .join(sel, col("dst") === col("sel_id"), "left_semi")
      .join(sel, col("src") === col("sel_id"), "left_anti")
      .groupBy(col("src").as("vec_id"))
      .agg(min(struct((-col("cos")).as("nc"), col("dst").as("rep"))).as("b"))
      .select(col("vec_id"), col("b.rep").as("rep_id"),
        (-col("b.nc")).as("cos"), lit(false).as("is_rep"))
    selfArm.union(unselArm)
  }

  /** Streams `embPath` (every vector arrives; vectors outside the graph
    * — e.g. the zero vector — classify to nothing, exactly the batch
    * op's domain) against the once-fitted index + MIS.
    */
  def misAssignStream(spark: SparkSession, embPath: String,
                      outDir: String, checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None,
                      splits: Int = 3,
                      tablePrefix: String = "graft_mis_stream"): DataFrame = {
    val corpus = spark.read.parquet(embPath)

    // offline fit: edge index (bucketed by src) + the MIS selected set,
    // both materialized ONCE — per-trigger work reads, never rebuilds
    val idxTable = s"${tablePrefix}_idx"
    Graph.writeKnnEdgeIndex(corpus, idxTable)
    val selTable = s"${tablePrefix}_sel"
    // the MIS set is node-sized — bucket it like any other index table
    // (a 1-bucket write would serialize its scan at scale)
    Bucketing.writeBucketed(
      Graph.diversityMisFromIndex(spark, idxTable)
        .select(col("vec_id").as("sel_id")),
      selTable, SimilarityStream.IndexBuckets, "sel_id")

    val splitDir = TopicStream.orderedSplitInput(spark, embPath, splits,
      s"$outDir-input", idCol = "vec_id")
    val incoming = TopicStream.fileStream(spark, splitDir,
      maxFilesPerTrigger = maxFilesPerTrigger.orElse(Some(1)))
    TopicStream.runBatches(spark, incoming, outDir, checkpointDir)(
      (batch, _) => assignBatch(spark, batch, idxTable, selTable))
  }

  /** Streaming cluster card (`stream_mis_cluster_stats`, r14) — the
    * card face of [[misAssignStream]] via the BATCH-EPILOGUE pattern
    * (the stream_percentiles precedent: per-trigger state accumulates,
    * one epilogue aggregation closes the answer): assignments stream
    * in batch by batch (stateless, batchId-idempotent — every sink row
    * is exactly one vector's assignment), and the per-representative
    * card is ONE order-free aggregation over the replayed sink —
    * COUNT/MIN/MAX never depend on arrival order, so the replay equals
    * `knn_mis_cluster_stats` exactly and the oracle is SHARED VERBATIM.
    */
  def misClusterStatsStream(spark: SparkSession, embPath: String,
                            outDir: String, checkpointDir: String,
                            maxFilesPerTrigger: Option[Int] = None,
                            splits: Int = 3,
                            tablePrefix: String = "graft_mis_card_stream"): DataFrame =
    misAssignStream(spark, embPath, outDir, checkpointDir,
      maxFilesPerTrigger, splits, tablePrefix)
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("rep_id"))
}
