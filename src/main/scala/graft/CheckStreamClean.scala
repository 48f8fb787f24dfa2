package graft

/** Driver gate (r15, the third CheckStream* twin — text side): runs the
  * streaming clean-corpus ingest (DedupStream.cleanIngestStream, the
  * documents replayed as 3 ordered splits through the file-stream
  * transport) over the given sf dir and checks its batched union ROW
  * FOR ROW against the batch flagship (TextOps.cleanCorpus) on the
  * same corpus. The static survivor/shingle indexes are fitted from
  * the full corpus (the stream's own offline-fit step), so every
  * content hash is index-known and the replay is arrival-order
  * independent by construction — what this gate adds over the
  * sf0.001..0.1 DuckDB oracles is the AT-SCALE plan: the bucketed
  * zero-Exchange probe joins and the exact inverted-index near-dup
  * probe at sf1+ row counts. Exits nonzero on any mismatch.
  *
  * Usage: runMain graft.CheckStreamClean <sfDir>
  */
object CheckStreamClean {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    val docsPath = s"$sfDir/documents.parquet"
    val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_clean", sfDir)
    // ascending-id splits: index-known hashes are order-independent
    // anyway (reconciliation), this just mirrors the production shape
    val splitDir = streaming.TopicStream.orderedSplitInput(
      spark, docsPath, 3, s"$out-input", idCol = "doc_id")
    val t0 = System.nanoTime()
    val streamed = graft.streaming.DedupStream.cleanIngestStream(
      spark, splitDir, out, ckpt, maxFilesPerTrigger = Some(1),
      tablePrefix = "graft_check_stream_clean")
      .select("doc_id", "quality").cache()
    val nStream = streamed.count()
    val tStream = (System.nanoTime() - t0) / 1e9
    println(f"[check-stream-clean] streamed $nStream rows in $tStream%.1f s (3 batches, fit included)")
    val t1 = System.nanoTime()
    val batch = graft.operators.TextOps.cleanCorpus(
      spark.read.parquet(docsPath))
      .select("doc_id", "quality").cache()
    val nBatch = batch.count()
    val tBatch = (System.nanoTime() - t1) / 1e9
    println(f"[check-stream-clean] batch    $nBatch rows in $tBatch%.1f s (same corpus)")
    val same = GraftSession.sameRows("[check-stream-clean]",
      "stream union == batch", streamed, batch)
    spark.stop()
    if (!same) sys.exit(1)
  }
}
