package graft

import org.apache.spark.sql.functions._

/** Dev scratch (r18): rep-major in-session A/B of the pre-explosion
  * candidate width pin on the kNN self-join — pinWidth 0 (the old
  * n<=65536 arm) vs session width — on both the bare join and the
  * pagerank consumer chain. Usage: ProfCand <sfDir> [reps]
  */
object ProfCand {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    import graft.operators.{Graph, Similarity}
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val nlist = Similarity.sizedNlist(n)
    val probes = Similarity.sizedProbes(2, n)
    val variants: Seq[(String, Int)] =
      Seq("pin0" -> 0, "pin32" -> spark.sessionState.conf.numShufflePartitions)
    val tJoin = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val tPr = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (rep <- 1 to reps; (label, w) <- variants) {
      var t0 = System.nanoTime()
      Similarity.knnJoinIvf(emb, 5, probes, nlist, w)
        .write.mode("overwrite").format("noop").save()
      tJoin(label) ::= (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      // the pagerank consumer chain over the same pinned join (the
      // knn_pagerank shape: edges persisted, adjacency iteration)
      val knn = Similarity.knnJoinIvf(emb, 5, probes, nlist, w)
      val pairs = knn
        .select(least(col("query_id"), col("corpus_id")).as("pa"),
          greatest(col("query_id"), col("corpus_id")).as("pb"))
        .distinct()
      val e = pairs.select(explode(array(
          struct(col("pa").as("src"), col("pb").as("dst")),
          struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist()
      val ranks = Graph.pageRankAdjacency(e, 5, symmetric = true)
      e.unpersist(false)
      ranks.orderBy(col("r").desc, col("id")).limit(20)
        .write.mode("overwrite").format("noop").save()
      tPr(label) ::= (System.nanoTime() - t0) / 1e9
      println(f"[prof] rep $rep $label join=${tJoin(label).head}%.3f chain=${tPr(label).head}%.3f")
    }
    for ((label, _) <- variants)
      println(f"[prof] MIN $label join=${tJoin(label).min}%.3f chain=${tPr(label).min}%.3f")
    spark.stop()
  }
}
