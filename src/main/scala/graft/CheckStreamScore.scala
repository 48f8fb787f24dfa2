package graft

import org.apache.spark.sql.functions.col

/** Driver gate (late r15, the fourth CheckStream* twin): the two
  * stateless SCORING twins replayed multi-batch at scale and checked
  * row-for-row against their batch operators —
  *
  *   - stream_importance: the DSIR scorer probing the bucketed
  *     history-fitted weight index (vs TextOps.importanceWeights);
  *   - stream_pca_score: the fitted-axis projection (vs Pca.project).
  *
  * Both fit offline from the full corpus and score statelessly per
  * trigger, so a 3-ordered-split replay must equal batch exactly; the
  * sf0.001..0.1 DuckDB oracles already gate both faces — this extends
  * the equality to sf1+, where the bucketed weight probe and the
  * fitted-literal map take their at-scale plans. Exits nonzero on any
  * mismatch.
  *
  * Usage: runMain graft.CheckStreamScore <sfDir>
  */
object CheckStreamScore {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()

    val (outI, ckptI) = streaming.TopicStream.scratchDirs("check_stream_imp", sfDir)
    val docsSplit = streaming.TopicStream.orderedSplitInput(
      spark, s"$sfDir/documents.parquet", 3, s"$outI-input", idCol = "doc_id")
    val t0 = System.nanoTime()
    val streamedImp = streaming.ImportanceStream.importanceStream(
      spark, sfDir, outI, ckptI, maxFilesPerTrigger = Some(1),
      docsPath = Some(docsSplit))
    val tImp = (System.nanoTime() - t0) / 1e9
    val batchImp = operators.TextOps.importanceWeights(
      sources.Tables.load(spark, sfDir, "documents"), col("doc_id") % 97 === 0)
    val okImp = GraftSession.sameRows("[check-stream-score] importance",
      "stream union == batch", streamedImp, batchImp)
    println(f"[check-stream-score] importance stream wall $tImp%.1f s (3 batches, fit included)")

    val (outP, ckptP) = streaming.TopicStream.scratchDirs("check_stream_pca", sfDir)
    val embSplit = streaming.TopicStream.orderedSplitInput(
      spark, s"$sfDir/embeddings.parquet", 3, s"$outP-input", idCol = "vec_id")
    val t1 = System.nanoTime()
    val streamedPca = streaming.PcaStream.pcaScoreStream(
      spark, sfDir, outP, ckptP, maxFilesPerTrigger = Some(1),
      embPath = Some(embSplit))
    val tPca = (System.nanoTime() - t1) / 1e9
    val batchPca = operators.Pca.project(
      sources.Tables.load(spark, sfDir, "embeddings"))
    val okPca = GraftSession.sameRows("[check-stream-score] pca_score",
      "stream union == batch", streamedPca, batchPca)
    println(f"[check-stream-score] pca_score stream wall $tPca%.1f s (3 batches, fit included)")

    spark.stop()
    if (!okImp || !okPca) sys.exit(1)
  }
}
