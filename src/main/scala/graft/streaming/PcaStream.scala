package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pca
import graft.sources.Tables

/** Streaming PCA scoring (`stream_pca_score`, r13) — the DEPLOYMENT
  * shape of the fit/score split the batch PCA documents: the dominant
  * axis is fitted ONCE on the historical corpus (the batch
  * [[Pca.fitTopAxis]] — on a real cluster this is the offline job whose
  * sampled, count-guarded covariance pass is the 100-TB path), then
  * every arriving micro-batch of embeddings scores against the FITTED
  * axis as a broadcast-free literal: one stateless map pass per
  * trigger, zero cross-batch state, no shuffle at all beyond the file
  * source's own scan. Scoring arithmetic is the batch operator's
  * verbatim (exact-integer graft_dot fold < 2⁵³), so a full replay of
  * the corpus equals `embedding_pca_project` bit-for-bit and the
  * oracle is SHARED VERBATIM — the streaming surface must never change
  * answers.
  */
object PcaStream {

  def pcaScoreStream(spark: SparkSession, dir: String,
                     outDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None,
                     embPath: Option[String] = None): DataFrame = {
    graft.functions.NativeHash.register(spark)

    // offline fit on the historical corpus (the replay-parity contract:
    // the stream replays the same table the axis was fitted from)
    val axis = Pca.fitTopAxis(Tables.load(spark, dir, "embeddings"))
    val axisCol = array(axis.map(a => lit(a.toDouble)): _*)

    val arriving = TopicStream.fileStream(spark,
      embPath.getOrElse(s"$dir/embeddings.parquet"), maxFilesPerTrigger)
    val scored = arriving
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("e"))
      .withColumn("xh", expr("graft_fp_unit(e)"))
      .select(col("vec_id"),
        call_function("graft_dot", col("xh"), axisCol).cast("long").as("proj_fp"))
    TopicStream.runBatches(spark, scored, outDir, checkpointDir)((batch, _) => batch)
  }
}
