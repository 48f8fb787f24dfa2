package graft

import org.apache.spark.sql.functions._

/** sf1+/sf10 gate for `knn_diversity_mis` AND `knn_mis_assign` (r13/r14 —
  * the [[CheckSemDedup]] / [[CheckComponents]] pattern): the DuckDB
  * oracle unrolls the Luby rounds over the full kNN CTE replay and is
  * gate-practical through sf1; beyond it, this main REPLAYS THE ENTIRE
  * RECURRENCE driver-side from the materialized edge index — the
  * fixed-point PageRank (5 integer rounds over the collected edge
  * list), then the Luby iteration with the exact shared priority
  * formulas — and requires bit-equality of every (vec_id, rank_fp,
  * sel_round) row, plus the MIS invariants (independence, maximality)
  * independently of the replay. r14 (round-13 VERDICT #6): the
  * ASSIGNMENT step replays too — every node's best selected kNN
  * neighbor by exact index cosine (min of (−cos, dst), the operator's
  * struct-min orientation) — and every (vec_id, rep_id, cos, is_rep)
  * row of misAssignFromIndex must equal it bit-for-bit over the SAME
  * index table (no rebuild). Collects are count-guarded (edges ≤ 2·k·N
  * by construction).
  *
  * Usage: runMain graft.CheckMis <sfDir>
  */
object CheckMis {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // shared assert-loud preflight (r16 VERDICT #5): stale scratch wipe
    // + disk headroom for the sf10 candidate-sort spill + heap echo
    GatePreflight.run(sfDir, main = "CheckMis")
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val spark = GraftSession.local()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val out = graft.operators.Graph.knnDiversityMis(emb, "graft_knn_mis_check")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val edgesDf = spark.table("graft_knn_mis_check")
      .select(col("src"), col("dst"), col("cos"))
    val nEdges = edgesDf.count()
    println(s"[check-mis] collecting $nEdges index edges")
    require(nEdges <= maxCollect,
      s"[check-mis] edge count $nEdges exceeds the driver cap $maxCollect")
    val edgesC = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val edges = edgesC.map(e => (e._1, e._2))

    // --- driver replay: fixed-point PageRank (the pageRankAdjacency
    // recurrence, symmetric fast path — every node has in-edges)
    val scale = graft.operators.Graph.DefaultRankScale
    val base = (15L * scale) / 100L
    val nbrs = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val deg = nbrs.map { case (id, ns) => id -> ns.length.toLong }
    var rank = deg.map { case (id, _) => id -> scale }
    for (_ <- 1 to graft.operators.Graph.DefaultPrRounds) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, ns) <- nbrs; s = rank(u) / deg(u); v <- ns) contrib(v) += s
      rank = deg.map { case (id, _) => id -> (base + (85L * contrib(id)) / 100L) }
    }

    // --- driver replay: the Luby iteration with the shared priorities
    // (formula referenced from Graph.misPriorityValue — r16 ADVICE)
    def pri(t: Int, id: Long): Long =
      graft.operators.Graph.misPriorityValue(t, id, rank(id))
    var alive = rank.keySet
    val selRound = scala.collection.mutable.Map[Long, Int]()
    var t = 1
    while (alive.nonEmpty) {
      require(t <= graft.operators.Graph.MisMaxRounds,
        s"[check-mis] replay exceeded the ${graft.operators.Graph.MisMaxRounds}-round fuse")
      val p = alive.iterator.map(id => id -> pri(t, id)).toMap
      val selected = alive.filter { id =>
        nbrs(id).iterator.filter(alive.contains).forall { n =>
          !(p(n) > p(id) || (p(n) == p(id) && n < id))
        }
      }
      for (id <- selected) selRound(id) = t
      val removed = selected ++ selected.iterator
        .flatMap(id => nbrs(id).iterator.filter(alive.contains))
      alive = alive -- removed
      t += 1
    }

    var bad = 0L
    val gotIds = out.map(_._1).toSet
    for ((id, r, sr) <- out)
      if (selRound.get(id) != Some(sr) || rank(id) != r) {
        if (bad < 5) System.err.println(
          s"[check-mis] MISMATCH vec $id: got (rank=$r, round=$sr), " +
            s"replay says (rank=${rank(id)}, round=${selRound.get(id)})")
        bad += 1
      }
    for (id <- selRound.keys if !gotIds.contains(id)) bad += 1
    // invariants, independent of the replay: no selected pair adjacent;
    // every unselected node has a selected neighbor
    val nodes = rank.keySet
    for (id <- gotIds) if (nbrs(id).exists(gotIds.contains)) bad += 1
    for (id <- nodes if !gotIds.contains(id))
      if (!nbrs(id).exists(gotIds.contains)) bad += 1

    // --- r14: the assignment replay over the SAME index table (no
    // rebuild) — best selected neighbor = min (−cos, dst), the
    // operator's struct-min orientation; reps map to themselves with a
    // null cosine. Bit-equality of every row.
    val assignRows = graft.operators.Graph
      .misAssignFromIndex(spark, "graft_knn_mis_check")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
      .toMap
    val selNbr = edgesC.filter(e => gotIds.contains(e._2))
      .groupBy(_._1).view.mapValues(_.minBy(e => (-e._3, e._2))).toMap
    var abad = 0L
    if (assignRows.size != nodes.size) abad += math.abs(assignRows.size - nodes.size)
    for (id <- nodes) assignRows.get(id) match {
      case None => abad += 1
      case Some((rep, c, isRep)) =>
        val want =
          if (gotIds.contains(id)) (id, None, true)
          else { val e = selNbr(id); (e._2, Some(e._3), false) }
        if ((rep, c, isRep) != want) {
          if (abad < 5) System.err.println(
            s"[check-mis] ASSIGN MISMATCH vec $id: got ($rep, $c, $isRep), " +
              s"replay says $want")
          abad += 1
        }
    }
    bad += abad
    println(s"[check-mis] $sfDir: ${out.length} selected of ${nodes.size} nodes, " +
      s"${t - 1} rounds, $nEdges edges, assignment rows ${assignRows.size}, " +
      s"mismatches=$bad (assignment=$abad)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
