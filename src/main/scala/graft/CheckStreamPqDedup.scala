package graft

/** Driver gate (r16, r15 VERDICT #4 — the one r15 streaming row gated
  * only at driver scales): at-scale equality for the QUANTIZATION-
  * COLLISION dedup twin. Runs the multi-batch stream
  * (SimilarityStream.pqCodeDedupStream — offline code-group fit,
  * 3-chunk ordered replay, stateless per-batch encode + bucketed group
  * probe) at the given sf dir and checks its batched union ROW FOR ROW
  * against the batch operator (Similarity.pqCodeDedup), beyond the
  * DuckDB-gated driver scales where the bucketed group table takes its
  * real plan. Exits nonzero on any mismatch.
  *
  * Usage: runMain graft.CheckStreamPqDedup <sfDir>
  */
object CheckStreamPqDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    val cols = Seq("vec_id", "bucket", "codes_str", "n_same", "rep_id", "keep")
    val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_pq_dedup", sfDir)
    val t0 = System.nanoTime()
    // pqCodeDedupStream splits its own input into ordered chunks (one
    // file per trigger), so the replay is genuinely multi-batch at any sf
    val streamed = graft.streaming.SimilarityStream.pqCodeDedupStream(
      spark, s"$sfDir/embeddings.parquet", out, ckpt,
      tablePrefix = "graft_check_stream_pq_dedup")
      .select(cols.head, cols.tail: _*).cache()
    val nStream = streamed.count()
    val tStream = (System.nanoTime() - t0) / 1e9
    println(f"[check-stream-pq-dedup] streamed $nStream rows in $tStream%.1f s (group fit included)")
    val t1 = System.nanoTime()
    val batch = graft.operators.Similarity.pqCodeDedup(
      graft.sources.Tables.load(spark, sfDir, "embeddings"))
      .select(cols.head, cols.tail: _*).cache()
    val nBatch = batch.count()
    val tBatch = (System.nanoTime() - t1) / 1e9
    println(f"[check-stream-pq-dedup] batch    $nBatch rows in $tBatch%.1f s")
    val same = GraftSession.sameRows("[check-stream-pq-dedup]",
      "stream union == batch", streamed, batch)
    spark.stop()
    if (!same) sys.exit(1)
  }
}
