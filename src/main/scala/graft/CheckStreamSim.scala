package graft

/** Driver gate (r15, extending the CheckStreamMis direction): the
  * at-scale equality gate for the PQ-MIPS SERVING twin. Runs the
  * multi-batch streaming server (SimilarityStream.mipsIvfPqTopKStream
  * over the file-stream transport, one query file per trigger) at the
  * given sf dir and checks its batched union ROW FOR ROW against the
  * batch operator (Similarity.mipsIvfPqTopKSized) — the shared-oracle
  * claim ("a streaming surface must never change answers"), verified
  * beyond the DuckDB-gated driver scales where the codes-resident
  * index and the narrow-shortlist foreachBatch path take their real
  * plans. Exits nonzero on any mismatch.
  *
  * Usage: runMain graft.CheckStreamSim <sfDir>
  */
object CheckStreamSim {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    import org.apache.spark.sql.functions.col
    // a single-file sf table streams as ONE trigger; re-shard to 4
    // files so the replay is genuinely multi-batch (the StreamingSpec
    // harness shape)
    val embDir = "target/stream-scratch/check-stream-sim-emb"
    graft.sources.Tables.load(spark, sfDir, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_sim", sfDir)
    val t0 = System.nanoTime()
    val streamed = graft.streaming.SimilarityStream.mipsIvfPqTopKStream(
      spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1),
      tablePrefix = "graft_check_stream_sim")
      .select("query_id", "corpus_id", "ip", "rnk").cache()
    val nStream = streamed.count()
    val tStream = (System.nanoTime() - t0) / 1e9
    println(f"[check-stream-sim] streamed $nStream rows in $tStream%.1f s (index fit included)")
    val t1 = System.nanoTime()
    val batch = graft.operators.Similarity.mipsIvfPqTopKSized(
      graft.sources.Tables.load(spark, sfDir, "embeddings"), col("vec_id") < 8)
      .select("query_id", "corpus_id", "ip", "rnk").cache()
    val nBatch = batch.count()
    val tBatch = (System.nanoTime() - t1) / 1e9
    println(f"[check-stream-sim] batch    $nBatch rows in $tBatch%.1f s")
    val same = GraftSession.sameRows("[check-stream-sim]",
      "stream union == batch", streamed, batch)
    spark.stop()
    if (!same) sys.exit(1)
  }
}
