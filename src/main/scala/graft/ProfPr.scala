package graft

import org.apache.spark.sql.functions._

/** Dev scratch (r18, VERDICT #6): piecewise timing INSIDE
  * pageRankAdjacency's broadcast arm on the co-purchase graph — degree
  * agg + count, chunked adjacency build/persist, then each power
  * round's broadcast+agg — to see whether parts_pagerank's ~4 s
  * iteration wall is round latency or the adjacency materialization.
  * Mirrors the operator's construction line by line (any drift is a
  * profiling bug, not an operator change). Usage: ProfPr <sfDir> [reps]
  */
object ProfPr {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label%-30s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    val chunk = 1024
    val scale = graft.operators.Graph.DefaultRankScale
    for (rep <- 1 to reps) {
      println(s"[prof] --- rep $rep ---")
      val e = graft.operators.Graph.coPurchaseEdges(li).persist()
      t("edges persist+count")(e.count())
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")).persist()
      val nNodes = t("deg count (bc switch)")(deg.count())
      println(s"[prof] nodes=$nNodes")
      val degS = deg.select(col("id").as("src"), col("d"))
      val adj = e.join(broadcast(degS), "src")
        .groupBy(col("src"), col("d"),
          expr(s"pmod(hash(dst), CAST((d + ${chunk - 1}) DIV $chunk AS INT))").as("__ck"))
        .agg(collect_list(col("dst")).as("dsts"))
        .persist()
      t("adj build+materialize")(adj.count())
      val base = (15L * scale) / 100L
      var ranks = deg.select(col("id"), lit(scale).as("r"))
      for (round <- 1 to 5) {
        val rs = ranks.select(col("id").as("src"), col("r"))
        val contrib = adj.join(broadcast(rs), "src")
          .select(explode(col("dsts")).as("id"), expr("r DIV d").as("s"))
          .groupBy(col("id")).agg(sum(col("s")).as("m"))
        val next = contrib.select(col("id"),
          (lit(base) + expr("(85 * m) DIV 100")).as("r"))
        ranks = t(s"round $round (checkpoint)")(next.localCheckpoint(true))
      }
      t("card")(
        ranks.orderBy(col("r").desc, col("id")).limit(20)
          .write.mode("overwrite").format("noop").save())
      e.unpersist(false); deg.unpersist(false); adj.unpersist(false)
      // contrast: the operator as shipped (lazy round chain, one action)
      t("pageRankAdjacency as shipped") {
        val e2 = graft.operators.Graph.coPurchaseEdges(li).persist()
        val r2 = graft.operators.Graph.pageRankAdjacency(e2, 5,
          symmetric = true,
          broadcastMaxNodes = Some(graft.operators.Graph.BroadcastRanksMaxNodes))
        e2.unpersist(false)
        r2
      }
    }
    spark.stop()
  }
}
