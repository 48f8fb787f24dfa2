package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev scratch (r18, VERDICT #5): in-session rep-major A/B of the r17
  * misLoop restructure — the OLD 4-edge-join/round form (copied
  * verbatim from 2f35f88, dst-alive join + removal off liveE) vs the
  * SHIPPED 2-join form (via diversityMisFromIndex) — over one prebuilt
  * edge index, so the comparison isolates the loop. Priorities reuse
  * Graph.misPriorityValue's column twin inline (t==1 -> r, else the
  * LCG permutation) — any drift from the operator's formula would show
  * as a selection difference, which is ALSO asserted per rep.
  * Usage: ProfMis <sfDir> [reps]
  */
object ProfMis {

  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  private def misPriority(t: Int): org.apache.spark.sql.Column =
    if (t == 1) col("r")
    else ((col("id") % 1000003L) * 48271L + lit(t * 12345L)) % 1000003L

  /** The r16/pre-2f35f88-optimization misLoop, verbatim. */
  private def misLoopOld(e: DataFrame, alive0: DataFrame,
                         maxRounds: Int): DataFrame = {
    var alive = alive0
    val selected = scala.collection.mutable.ListBuffer[(DataFrame, DataFrame)]()
    var t = 1
    var nAlive = alive.count()
    while (nAlive > 0) {
      require(t <= maxRounds, s"ProfMis: no fixed point after $maxRounds rounds")
      val aliveP = alive.select(col("id"), col("r"), misPriority(t).as("pri"))
      val liveE = e
        .join(aliveP.select(col("id").as("src"), col("pri").as("spri")), "src")
        .join(aliveP.select(col("id").as("dst")), "dst")
        .select(col("src"), col("dst"), col("spri"))
      val best = liveE.groupBy(col("dst").as("id"))
        .agg(min(struct((-col("spri")).as("np"), col("src").as("nid"))).as("best"))
      val selT = aliveP.join(best, Seq("id"), "left_outer")
        .filter(col("best").isNull ||
          !(-col("best.np") > col("pri") ||
            (-col("best.np") === col("pri") && col("best.nid") < col("id"))))
        .select(col("id"), col("r"))
        .localCheckpoint(true)
      selected += selT.withColumn("sel_round", lit(t)) -> selT
      val removed = selT.select(col("id"))
        .union(liveE.join(selT.select(col("id").as("src")), "src")
          .select(col("dst").as("id")))
        .distinct()
      val aliveNext = alive.join(removed, Seq("id"), "left_anti")
        .localCheckpoint(false)
      nAlive = aliveNext.count()
      unpersistCheckpoint(alive)
      alive = aliveNext
      t += 1
    }
    val all = if (selected.isEmpty)
      alive.select(col("id"), col("r")).withColumn("sel_round", lit(1)).limit(0)
    else selected.map(_._1).reduce(_ union _)
    val out = all
      .select(col("id").as("vec_id"), col("r").as("rank_fp"), col("sel_round"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
    selected.foreach { case (_, selT) => unpersistCheckpoint(selT) }
    unpersistCheckpoint(alive)
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    import graft.operators.Graph
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val table = "graft_profmis_edges"
    Graph.writeKnnEdgeIndex(emb, table)
    var tOld = List.empty[Double]
    var tNew = List.empty[Double]
    for (rep <- 1 to reps) {
      var t0 = System.nanoTime()
      val e = spark.table(table).select(col("src"), col("dst")).persist()
      val alive0 = Graph.pageRankAdjacency(e, 5, symmetric = true)
      val oldOut = misLoopOld(e, alive0, Graph.MisMaxRounds)
      oldOut.write.mode("overwrite").format("noop").save()
      e.unpersist(false)
      tOld ::= (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val newOut = Graph.diversityMisFromIndex(spark, table)
      newOut.write.mode("overwrite").format("noop").save()
      tNew ::= (System.nanoTime() - t0) / 1e9
      val diff = oldOut.exceptAll(newOut).count() + newOut.exceptAll(oldOut).count()
      println(f"[prof] rep $rep old=${tOld.head}%.3f new=${tNew.head}%.3f selDiff=$diff")
      require(diff == 0L, "old and new misLoop selections diverged")
    }
    println(f"[prof] MIN old=${tOld.min}%.3f new=${tNew.min}%.3f")
    spark.stop()
  }
}
