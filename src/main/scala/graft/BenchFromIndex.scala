package graft

/** Dev tool (r14, round-13 VERDICT #5): time the kNN-graph CONSUMERS
  * against a PREBUILT edge index — the registered one-call rows
  * (knn_pagerank, knn_diversity_mis, knn_mis_assign, knn_semdedup)
  * price build+consume bundles, and at sf10 the O(probes·N^1.5) build
  * is ~80% of the wall, so a consumer regression hides inside build
  * noise. Here the index is written ONCE, untimed, and each from-index
  * consumer is timed alone (min of reps, the Bench discipline) — the
  * marginal cost a real build-once/rank-many pipeline pays per extra
  * consumer. Mins go to SURVEY §7 prose + tools/scale_curves_r14.jsonl.
  *
  * Usage: runMain graft.BenchFromIndex <sfDir>
  */
object BenchFromIndex {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // shared assert-loud preflight (r16 VERDICT #5): stale scratch wipe
    // + disk headroom for the sf10 candidate-sort spill + heap echo
    GatePreflight.run(sfDir, main = "BenchFromIndex")
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the printed table
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val table = "graft_bench_knn_edges"
    val t0 = System.nanoTime()
    graft.operators.Graph.writeKnnEdgeIndex(emb, table)
    println(f"[bench-index] build (untimed baseline)          ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val consumers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRankFromIndex" ->
        (() => graft.operators.Graph.pageRankFromIndex(spark, table)),
      "diversityMisFromIndex" ->
        (() => graft.operators.Graph.diversityMisFromIndex(spark, table)),
      "misAssignFromIndex" ->
        (() => graft.operators.Graph.misAssignFromIndex(spark, table)),
      "semDeDupFromIndex" ->
        (() => graft.operators.Graph.semDeDupFromIndex(spark, emb, table, 0.4)))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // rep-MAJOR (the Bench discipline): one box-noise window cannot
    // poison all reps of one consumer
    val times = Array.fill(consumers.length)(List.empty[Double])
    for (_ <- 0 until reps; ((_, run), qi) <- consumers.zipWithIndex) {
      val t = System.nanoTime()
      run().write.mode("overwrite").format("noop").save()
      times(qi) ::= (System.nanoTime() - t) / 1e9
    }
    for (((name, _), qi) <- consumers.zipWithIndex)
      println(f"[bench-index] $name%-28s min=${times(qi).min}%.3f " +
        s"all=${times(qi).reverse.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
