package graft

import org.apache.spark.sql.functions._

/** sf1+/sf10 gate for `knn_consumer_card` (r16, r15 ADVICE #4): the
  * card's DuckDB oracle composes the recursive reach closure, which is
  * the documented sf1 OOM killer — so like `knn_semdedup` the card's
  * DuckDB gate stays at driver scales, and THIS main is the big-scale
  * twin: it builds the index once, runs consumerCardFromIndex, and
  * re-derives EVERY card column driver-side from the collected edge
  * list — graph health by direct counting, the PageRank peak and the
  * Luby MIS size/depth by the exact CheckMis integer replay, and the
  * SemDeDup census by the CheckSemDedup union-find — then requires the
  * one-row card to match column for column. Collects are count-guarded
  * (edges ≤ 2·k·N by construction).
  *
  * Usage: runMain graft.CheckCard <sfDir> [tau]
  */
object CheckCard {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // shared assert-loud preflight (r16 VERDICT #5): stale scratch wipe
    // + disk headroom for the sf10 candidate-sort spill + heap echo
    GatePreflight.run(sfDir, main = "CheckCard")
    val tau = if (args.length > 1) args(1).toDouble else 0.4
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val spark = GraftSession.local()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val card = graft.operators.Graph.knnConsumerCard(emb, "graft_knn_card_check",
      tau = tau).head()
    // null card columns (e.g. a null mis_rounds off an empty selection)
    // must fail with a VERDICT, not an NPE mid-compare (r16 ADVICE)
    (0 until 9).foreach(i => require(!card.isNullAt(i),
      s"[check-card] card column $i is NULL — degenerate operator output, " +
        "nothing to gate (empty selection / edge-free index?)"))
    val got = (card.getLong(0), card.getLong(1), card.getLong(2), // nodes/edges/maxdeg
      card.getLong(3), card.getLong(4), // pr top id/rank
      card.getLong(5), card.getInt(6), // mis selected/rounds
      card.getLong(7), card.getLong(8)) // n_vectors/sd_reps

    val edgesDf = spark.table("graft_knn_card_check")
      .select(col("src"), col("dst"), col("cos"))
    val nEdgeRows = edgesDf.count()
    println(s"[check-card] collecting $nEdgeRows index edges")
    require(nEdgeRows <= maxCollect,
      s"[check-card] edge count $nEdgeRows exceeds the driver cap $maxCollect")
    // an edge-free index has no consumer-card semantics (the operator's
    // own PageRank top-1 head() would already have thrown) — fail with
    // an explicit message instead of an empty-iterator crash below
    require(nEdgeRows > 0,
      "[check-card] edge-free kNN index — the consumer card is undefined " +
        "on an empty graph; nothing to gate")
    val edgesC = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val edges = edgesC.map(e => (e._1, e._2))

    // --- graph health by direct counting (the symmetrized list holds
    // each undirected pair twice)
    val nbrs = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nNodes = nbrs.size.toLong
    val nEdges = edges.length.toLong / 2
    val maxDeg = nbrs.valuesIterator.map(_.length).maxOption.getOrElse(0).toLong

    // --- the CheckMis integer PageRank replay + top-1 by (rank desc, id)
    // (constants SHARED with the operator — r16 ADVICE: a change to the
    // Graph defaults now desynchronizes by failing to compile or by
    // changing both sides together, never silently)
    val scale = graft.operators.Graph.DefaultRankScale
    val base = (15L * scale) / 100L
    val deg = nbrs.map { case (id, ns) => id -> ns.length.toLong }
    var rank = deg.map { case (id, _) => id -> scale }
    for (_ <- 1 to graft.operators.Graph.DefaultPrRounds) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, ns) <- nbrs; s = rank(u) / deg(u); v <- ns) contrib(v) += s
      rank = deg.map { case (id, _) => id -> (base + (85L * contrib(id)) / 100L) }
    }
    val (topId, topRank) = rank.minBy { case (id, r) => (-r, id) }

    // --- the CheckMis Luby replay (selected count + convergence depth)
    def pri(t: Int, id: Long): Long =
      graft.operators.Graph.misPriorityValue(t, id, rank(id))
    var alive = rank.keySet
    var nSel = 0L
    var t = 1
    var lastSelRound = 0
    while (alive.nonEmpty) {
      require(t <= graft.operators.Graph.MisMaxRounds,
        s"[check-card] replay exceeded the ${graft.operators.Graph.MisMaxRounds}-round fuse")
      val p = alive.iterator.map(id => id -> pri(t, id)).toMap
      val selected = alive.filter { id =>
        nbrs(id).iterator.filter(alive.contains).forall { n =>
          !(p(n) > p(id) || (p(n) == p(id) && n < id))
        }
      }
      if (selected.nonEmpty) lastSelRound = t
      nSel += selected.size
      val removed = selected ++ selected.iterator
        .flatMap(id => nbrs(id).iterator.filter(alive.contains))
      alive = alive -- removed
      t += 1
    }

    // --- the CheckSemDedup union-find census over the tau-pairs; the
    // card's domain is EVERY vec_id (componentsOf over the id frame)
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b, c) <- edgesC if c >= tau && a < b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nVectors = ids.length.toLong
    val sdReps = ids.count(id => find(id) == id).toLong

    val want = (nNodes, nEdges, maxDeg, topId, topRank, nSel, lastSelRound,
      nVectors, sdReps)
    val ok = got == want
    println(s"[check-card] $sfDir tau=$tau: card=$got replay=$want " +
      (if (ok) "(card == driver replay)" else "(MISMATCH)"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
