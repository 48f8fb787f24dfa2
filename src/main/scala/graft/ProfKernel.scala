package graft

import org.apache.spark.sql.functions._

/** Dev scratch (r17): price the shingle-kernel double-evaluation that
  * InferFiltersFromGenerate / filter-pushdown inlining causes in the
  * dedup family. Usage: ProfKernel <sfDir> [reps]
  */
object ProfKernel {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    graft.functions.NativeHash.register(spark)
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    def t(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (rep <- 1 to reps) {
      println(s"[prof] --- rep $rep ---")
      // (a) one kernel eval per row, no filter on the computed column
      t("kernel 1x (project only)") {
        docs.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("hs"))
          .select(col("doc_id"), size(col("hs")).as("n"))
          .write.mode("overwrite").format("noop").save()
      }
      // (b) the current explode shape (inferred filter inlines the kernel)
      t("explode (inferred filter)") {
        docs.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("hs"))
          .withColumn("n_sh", size(col("hs")).cast("long"))
          .select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
          .write.mode("overwrite").format("noop").save()
      }
      // (c) explode_outer + post-filter (kernel once)
      t("explode_outer + null filter") {
        docs.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("hs"))
          .withColumn("n_sh", size(col("hs")).cast("long"))
          .select(col("doc_id"), col("n_sh"), explode_outer(col("hs")).as("h"))
          .filter(col("h").isNotNull)
          .write.mode("overwrite").format("noop").save()
      }
      // (d) the explicit size-filter shape minhashBands uses
      t("filter(size>0) + sig kernel") {
        docs.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("hs"))
          .filter(size(col("hs")) > 0)
          .select(col("doc_id"), expr("graft_minhash_sig(hs, 32)").as("sg"))
          .select(col("doc_id"), size(col("sg")).as("n"))
          .write.mode("overwrite").format("noop").save()
      }
      // (e) same but size-filter applied to the sig output length
      t("sig kernel, filter after") {
        docs.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("hs"))
          .select(col("doc_id"), expr("graft_minhash_sig(hs, 32)").as("sg"),
            size(col("hs")).cast("long").as("n_sh"))
          .filter(col("n_sh") > 0)
          .select(col("doc_id"), size(col("sg")).as("n"))
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
