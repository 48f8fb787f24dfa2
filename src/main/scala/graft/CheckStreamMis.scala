package graft

import org.apache.spark.sql.functions.col

/** Driver gate (r15 VERDICT #3): the first at-scale gate for a
  * STREAMING twin. Runs the multi-batch streaming MIS assignment
  * (GraphStream.misAssignStream, 3 ordered splits replayed through the
  * file-stream transport) over the given sf dir and checks its batched
  * union ROW FOR ROW against the batch operator
  * (Graph.misAssignFromIndex) on the SAME materialized edge index —
  * the stream fits the index + MIS once, so the comparison isolates
  * the per-trigger assignment path, exactly what serves online. The
  * sf0.001..0.1 DuckDB oracles already gate both faces; this extends
  * the equality to sf1+, where the broadcast-free membership joins and
  * the bucketed probes take their at-scale plans. Exits nonzero on any
  * mismatch.
  *
  * Usage: runMain graft.CheckStreamMis <sfDir>
  */
object CheckStreamMis {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    val embPath = s"$sfDir/embeddings.parquet"
    val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_mis", sfDir)
    val t0 = System.nanoTime()
    val streamed = graft.streaming.GraphStream.misAssignStream(
      spark, embPath, out, ckpt, splits = 3,
      tablePrefix = "graft_check_stream_mis")
      .select("vec_id", "rep_id", "cos", "is_rep").cache()
    val nStream = streamed.count()
    val tStream = (System.nanoTime() - t0) / 1e9
    println(f"[check-stream-mis] streamed $nStream rows in $tStream%.1f s (3 batches, fit included)")
    val t1 = System.nanoTime()
    val batch = graft.operators.Graph.misAssignFromIndex(
      spark, "graft_check_stream_mis_idx")
      .select("vec_id", "rep_id", "cos", "is_rep").cache()
    val nBatch = batch.count()
    val tBatch = (System.nanoTime() - t1) / 1e9
    println(f"[check-stream-mis] batch    $nBatch rows in $tBatch%.1f s (same index)")
    val same = GraftSession.sameRows("[check-stream-mis]",
      "stream union == batch", streamed, batch)
    spark.stop()
    if (!same) sys.exit(1)
  }
}
