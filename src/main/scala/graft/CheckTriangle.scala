package graft

import org.apache.spark.sql.functions._

/** sf1+/sf10 gate for the triangle family (r17b): the triangle rows'
  * DuckDB oracles ride the kNN pair CTEs, which stay at driver scales
  * like the rest of the knn family — this main is the big-scale twin.
  * It builds the index once, runs BOTH registered consumers
  * (triangleCard, triangleTopK), and re-derives every number
  * driver-side from the collected undirected pair list by direct
  * adjacency-set intersection — for each pair (a, b) with a < b, the
  * common neighbors c > b close one triangle, counted once and
  * credited to all three corners. Wedges are Σ C(deg, 2), the
  * coefficient is the same BIGINT division, and the top-k replays the
  * (n_tri DESC, vec_id) order exactly. Collects are count-guarded
  * (edges ≤ 2·k·N by construction).
  *
  * Usage: runMain graft.CheckTriangle <sfDir>
  */
object CheckTriangle {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    GatePreflight.run(sfDir, main = "CheckTriangle")
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val spark = GraftSession.local()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    graft.operators.Graph.writeKnnEdgeIndex(emb, "graft_knn_tri_check")
    val card = graft.operators.Graph
      .triangleCardFromIndex(spark, "graft_knn_tri_check").head()
    (0 until 6).foreach(i => require(!card.isNullAt(i),
      s"[check-triangle] card column $i is NULL — degenerate operator " +
        "output, nothing to gate (edge-free index?)"))
    val topk = graft.operators.Graph
      .triangleTopKFromIndex(spark, "graft_knn_tri_check")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val pairsDf = spark.table("graft_knn_tri_check")
      .filter(col("src") < col("dst")).select(col("src"), col("dst"))
    val nPairs = pairsDf.count()
    println(s"[check-triangle] collecting $nPairs undirected pairs")
    require(nPairs > 0 && nPairs <= maxCollect,
      s"[check-triangle] pair count $nPairs outside (0, $maxCollect]")
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))

    val adj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new scala.collection.mutable.HashSet[Long]) += b
      adj.getOrElseUpdate(b, new scala.collection.mutable.HashSet[Long]) += a
    }
    val perNode = new scala.collection.mutable.HashMap[Long, Long]
    var nTri = 0L
    pairs.foreach { case (a, b) =>
      val (small, big) = if (adj(a).size <= adj(b).size) (adj(a), adj(b))
        else (adj(b), adj(a))
      small.foreach { c =>
        if (c > b && big.contains(c)) {
          nTri += 1
          perNode(a) = perNode.getOrElse(a, 0L) + 1
          perNode(b) = perNode.getOrElse(b, 0L) + 1
          perNode(c) = perNode.getOrElse(c, 0L) + 1
        }
      }
    }
    val nNodes = adj.size.toLong
    val nWedges = adj.valuesIterator
      .map(s => s.size.toLong * (s.size - 1) / 2).sum
    val ccoef = if (nWedges == 0) 0L else 3L * nTri * 1000000L / nWedges
    var fails = 0
    def check(label: String, got: Long, want: Long): Unit =
      if (got != want) { fails += 1
        println(s"[check-triangle] MISMATCH $label: operator=$got replay=$want")
      }
    check("n_nodes", card.getLong(0), nNodes)
    check("n_edges", card.getLong(1), nPairs)
    check("n_wedges", card.getLong(2), nWedges)
    check("n_tri", card.getLong(3), nTri)
    check("ccoef_fp", card.getLong(4), ccoef)
    // max_fwd_deg is an internal bound, replayed via the same
    // orientation rule: fwd neighbors are the (deg, id)-larger ends
    val fwdMax = {
      val deg = adj.view.mapValues(_.size.toLong).toMap
      adj.iterator.map { case (v, ns) =>
        ns.count(u => deg(u) > deg(v) || (deg(u) == deg(v) && u > v)).toLong
      }.max
    }
    check("max_fwd_deg", card.getLong(5), fwdMax)
    val wantTop = perNode.toSeq.sortBy { case (id, c) => (-c, id) }.take(20)
      .zipWithIndex.map { case ((id, c), i) => (id, c, i + 1) }
    if (topk.toSeq != wantTop) { fails += 1
      println(s"[check-triangle] MISMATCH topk:\n  operator=${topk.toSeq}\n  replay=$wantTop")
    }
    println(s"[check-triangle] $sfDir nodes=$nNodes pairs=$nPairs " +
      s"wedges=$nWedges triangles=$nTri ccoef_fp=$ccoef max_fwd=$fwdMax " +
      s"mismatches=$fails")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
