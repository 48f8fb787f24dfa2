package graft

import org.apache.spark.sql.functions._

/** Dev scratch (r17 optimization): stage-level timing of parts_pagerank —
  * co-purchase edge build vs the rank iteration vs the card.
  * Usage: ProfParts <sfDir> [reps]
  */
object ProfParts {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    for (rep <- 1 to reps) {
      println(s"[prof] --- rep $rep ---")
      // (1) pair build alone
      val e0 = graft.operators.Graph.coPurchaseEdges(li)
      t("coPurchaseEdges noop")(
        e0.write.mode("overwrite").format("noop").save())
      // (2) full operator, piecewise: edges persisted + materialized,
      // then the rank iteration, then the card
      val e = graft.operators.Graph.coPurchaseEdges(li).persist()
      t("edges persist+count")(e.count())
      val ranks = t("pageRankAdjacency(bc arm)")(
        graft.operators.Graph.pageRankAdjacency(e, 5,
          symmetric = true,
          broadcastMaxNodes = Some(graft.operators.Graph.BroadcastRanksMaxNodes)))
      e.unpersist(false)
      t("rank card noop") {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("id"))
        ranks.orderBy(col("r").desc, col("id")).limit(20)
          .select(col("id"), col("r"), row_number().over(w).as("rnk"))
          .write.mode("overwrite").format("noop").save()
      }
      // (3) the registered query end to end
      t("parts_pagerank full")(
        SparkEntry.queries("parts_pagerank")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
    }
    spark.stop()
  }
}
