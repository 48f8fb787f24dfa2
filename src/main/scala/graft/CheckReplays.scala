package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.functions.{Codebooks, VectorNativeImpl => V}
import graft.operators.{Dedup, Graph, Similarity, TextOps}
import graft.sources.Tables

/** The replay rows of [[Check]]: six operator families whose DuckDB
  * oracles stop short of sf1+/sf10, re-derived on the driver from the
  * edge, pair or vector list the operator itself consumed. A DuckDB
  * recursive reach closure is quadratic in COMPONENT size and OOMs once
  * tau admits whole semantic clusters (knn_semdedup and the card at
  * sf1; the MinHash component family past the driver scales); the Luby
  * unroll and the kNN pair CTEs stay at driver scales; the PQ list folds
  * over 200k+ vectors OOM one connection. Each replay requires
  * bit-equality of every output row and prints its mismatch count.
  * Every collect goes through [[collectCapped]]; edge lists are ≤ 2·k·N
  * rows by construction.
  */
private[graft] object CheckReplays {

  /** The driver collect cap: ~32 B a tuple, so 10⁸ rows ≈ 3 GB, a safe
    * single-box figure. */
  private val MaxCollectRows = 100000000L

  /** Every row of `df` once its count fits under [[MaxCollectRows]]
    * (r12 ADVICE: a low tau on a bigger corpus can grow a pair list
    * past the checker's heap — fail LOUDLY with the size in hand, never
    * inside collect()). A bare scan is sized from its footers.
    */
  private def collectCapped(df: DataFrame, what: String): Array[Row] = {
    val n = Tables.rowCount(df)
    println(s"[check] collecting $n $what")
    require(n <= MaxCollectRows,
      s"[check] $n $what exceed the driver cap of $MaxCollectRows rows — " +
        "gate a smaller sf or split the check")
    df.collect()
  }

  /** Counts mismatches, printing the first five. */
  private final class Mismatches(tag: String) {
    var n = 0L
    def apply(msg: => String): Unit = {
      if (n < 5) System.err.println(s"$tag MISMATCH $msg")
      n += 1
    }
  }

  /** (src, dst, cos) of a kNN index table: the symmetrized list, each
    * undirected pair twice. */
  private def indexEdges(spark: SparkSession, table: String): Array[(Long, Long, Double)] =
    collectCapped(spark.table(table).select(col("src"), col("dst"), col("cos")), "index edges")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def neighbors(edges: Array[(Long, Long, Double)]): Map[Long, Array[Long]] =
    edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }

  /** Component root (the minimum id) of every id under the union of
    * `pairs`. */
  private def unionFind(pairs: Iterable[(Long, Long)]): Long => Long = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    find
  }

  /** The operator's fixed-point PageRank: the pageRankAdjacency
    * recurrence, symmetric fast path (every node has in-edges), with the
    * scale and round count SHARED with Graph (r16 ADVICE: a default
    * change desynchronizes by failing to compile or by moving both sides
    * together, never silently).
    */
  private def pageRank(nbrs: Map[Long, Array[Long]]): Map[Long, Long] = {
    val scale = Graph.DefaultRankScale
    val base = (15L * scale) / 100L
    val deg = nbrs.map { case (id, ns) => id -> ns.length.toLong }
    var rank = deg.map { case (id, _) => id -> scale }
    for (_ <- 1 to Graph.DefaultPrRounds) {
      val contrib = mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, ns) <- nbrs; s = rank(u) / deg(u); v <- ns) contrib(v) += s
      rank = deg.map { case (id, _) => id -> (base + (85L * contrib(id)) / 100L) }
    }
    rank
  }

  /** The Luby iteration with the operator's own priorities
    * ([[Graph.misPriorityValue]]): the round each selected node was
    * picked in. Every round selects at least the top-priority live node,
    * so the largest round is the convergence depth.
    */
  private def lubyRounds(nbrs: Map[Long, Array[Long]], rank: Map[Long, Long]): Map[Long, Int] = {
    var alive = rank.keySet
    val selRound = mutable.Map[Long, Int]()
    var t = 1
    while (alive.nonEmpty) {
      require(t <= Graph.MisMaxRounds,
        s"[check] Luby replay exceeded the ${Graph.MisMaxRounds}-round fuse")
      val p = alive.iterator.map(id => id -> Graph.misPriorityValue(t, id, rank(id))).toMap
      val selected = alive.filter { id =>
        nbrs(id).iterator.filter(alive.contains).forall { n =>
          !(p(n) > p(id) || (p(n) == p(id) && n < id))
        }
      }
      for (id <- selected) selRound(id) = t
      alive = alive -- selected -- selected.iterator.flatMap(id => nbrs(id))
      t += 1
    }
    selRound.toMap
  }

  /** `knn_diversity_mis` AND `knn_mis_assign` (r13/r14): the DuckDB
    * oracle unrolls the Luby rounds over the full kNN CTE replay and is
    * gate-practical through sf1. This replays the whole recurrence from
    * the materialized edge index — PageRank, then Luby — and requires
    * bit-equality of every (vec_id, rank_fp, sel_round) row, plus the
    * MIS invariants (independence, maximality) independently of the
    * replay. The ASSIGNMENT replays over the SAME index table (no
    * rebuild): every node's best selected neighbor by exact index cosine
    * (min of (−cos, dst), the operator's struct-min orientation); reps
    * map to themselves with a null cosine.
    */
  def knnMis(spark: SparkSession, sfDir: String): Boolean = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val out = Graph.knnDiversityMis(emb, "graft_knn_mis_check")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val edges = indexEdges(spark, "graft_knn_mis_check")
    val nbrs = neighbors(edges)
    val rank = pageRank(nbrs)
    val selRound = lubyRounds(nbrs, rank)

    val bad = new Mismatches("[check] knn_mis")
    val gotIds = out.map(_._1).toSet
    for ((id, r, sr) <- out if !selRound.get(id).contains(sr) || rank(id) != r)
      bad(s"vec $id: got (rank=$r, round=$sr), " +
        s"replay says (rank=${rank(id)}, round=${selRound.get(id)})")
    for (id <- selRound.keys if !gotIds.contains(id)) bad(s"vec $id: selected by the replay only")
    // invariants, independent of the replay: no selected pair adjacent;
    // every unselected node has a selected neighbor
    val nodes = rank.keySet
    for (id <- gotIds if nbrs(id).exists(gotIds.contains)) bad(s"vec $id: selected next to a rep")
    for (id <- nodes if !gotIds.contains(id) && !nbrs(id).exists(gotIds.contains))
      bad(s"vec $id: no selected neighbor")

    val assignRows = Graph.misAssignFromIndex(spark, "graft_knn_mis_check")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
      .toMap
    val selNbr = edges.filter(e => gotIds.contains(e._2))
      .groupBy(_._1).view.mapValues(_.minBy(e => (-e._3, e._2))).toMap
    val abad = new Mismatches("[check] knn_mis ASSIGN")
    abad.n += math.abs(assignRows.size - nodes.size)
    for (id <- nodes) {
      val want: Option[(Long, Option[Double], Boolean)] =
        if (gotIds.contains(id)) Some((id, None, true))
        else selNbr.get(id).map(e => (e._2, Some(e._3), false))
      if (want.isEmpty || assignRows.get(id) != want)
        abad(s"vec $id: got ${assignRows.get(id)}, replay says $want")
    }
    val rounds = selRound.values.maxOption.getOrElse(0)
    println(s"[check] knn_mis $sfDir: ${out.length} selected of ${nodes.size} nodes, " +
      s"$rounds rounds, ${edges.length} edges, assignment rows ${assignRows.size}, " +
      s"mismatches=${bad.n + abad.n} (assignment=${abad.n})")
    bad.n + abad.n == 0
  }

  /** `knn_consumer_card` (r16, r15 ADVICE #4): the card's DuckDB oracle
    * composes the recursive reach closure, so like `knn_semdedup` it
    * gates at driver scales only. This builds the index once, runs
    * consumerCardFromIndex, and re-derives EVERY card column from the
    * collected edge list — graph health by direct counting, the
    * PageRank peak and the Luby MIS size/depth by the `knn_mis` replay,
    * the SemDeDup census by the `semdedup` union-find over the
    * tau-pairs — then requires the one-row card to match column for
    * column.
    */
  def card(spark: SparkSession, sfDir: String): Boolean = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val card = Graph.knnConsumerCard(emb, "graft_knn_card_check").head()
    // null card columns (e.g. a null mis_rounds off an empty selection)
    // must fail with a VERDICT, not an NPE mid-compare (r16 ADVICE)
    (0 until 9).foreach(i => require(!card.isNullAt(i),
      s"[check] card column $i is NULL — degenerate operator output, " +
        "nothing to gate (empty selection / edge-free index?)"))
    val got = (card.getLong(0), card.getLong(1), card.getLong(2), // nodes/edges/maxdeg
      card.getLong(3), card.getLong(4), // pr top id/rank
      card.getLong(5), card.getInt(6), // mis selected/rounds
      card.getLong(7), card.getLong(8)) // n_vectors/sd_reps

    val edges = indexEdges(spark, "graft_knn_card_check")
    // an edge-free index has no consumer-card semantics (the operator's
    // own PageRank top-1 head() would already have thrown) — fail with
    // an explicit message instead of an empty-iterator crash below
    require(edges.nonEmpty,
      "[check] card: edge-free kNN index — the consumer card is undefined " +
        "on an empty graph; nothing to gate")
    val nbrs = neighbors(edges)
    val rank = pageRank(nbrs)
    val (topId, topRank) = rank.minBy { case (id, r) => (-r, id) }
    val selRound = lubyRounds(nbrs, rank)
    // the card's census domain is EVERY vec_id (componentsOf over the id frame)
    val ids = collectCapped(emb.select(col("vec_id")), "vector ids").map(_.getLong(0))
    val find = unionFind(edges.iterator
      .collect { case (a, b, c) if c >= Graph.DefaultTau && a < b => (a, b) }.toSeq)
    val want = (nbrs.size.toLong, edges.length.toLong / 2,
      nbrs.valuesIterator.map(_.length).max.toLong, topId, topRank,
      selRound.size.toLong, selRound.values.max, ids.length.toLong,
      ids.count(id => find(id) == id).toLong)
    val ok = got == want
    println(s"[check] card $sfDir tau=${Graph.DefaultTau}: card=$got replay=$want " +
      (if (ok) "(card == driver replay)" else "(MISMATCH)"))
    ok
  }

  /** `knn_semdedup` (r12) AND its quality-keep variant (r14): the DuckDB
    * oracle's recursive reachability closure is quadratic in component
    * size, and at a tau low enough to admit whole semantic clusters
    * (the ScaleGen label clusters connect at cos ≈ 0.6–0.8) it OOMs at
    * sf1 — not fixable by materialization, because reach IS the
    * quadratic object. The labels replay as an exact union-find over the
    * SAME tau-filtered index pairs; the quality variant, over the same
    * index (no rebuild), keeps argmax quality within each component
    * (ties toward the smaller id) from the shared fixed-weight score.
    */
  def semDedup(spark: SparkSession, sfDir: String): Boolean = {
    val tau = Graph.DefaultTau
    val emb = Tables.load(spark, sfDir, "embeddings")
    val out = collectCapped(Graph.knnSemDeDup(emb, "graft_knn_semdedup_check"), "output rows")
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val pairs = collectCapped(spark.table("graft_knn_semdedup_check")
        .filter(col("cos") >= tau && col("src") < col("dst"))
        .select(col("src"), col("dst")), "tau-pairs")
      .map(r => (r.getLong(0), r.getLong(1)))
    val find = unionFind(pairs)
    val bad = new Mismatches("[check] semdedup")
    for ((id, rep, keep) <- out if rep != find(id) || keep != (id == rep))
      bad(s"vec $id: got (rep=$rep, keep=$keep), union-find says rep=${find(id)}")

    val docs = Tables.load(spark, sfDir, "documents")
    val qual = TextOps.quality(docs)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a vector without a documents row never wins the keep (the
    // operator's left-join sentinel) — mirror it instead of crashing
    val bestOf = out.map(_._1).groupBy(find).view.mapValues(ids =>
      ids.minBy(id => (-qual.getOrElse(id, -Double.MaxValue), id))).toMap
    val qOut = Graph.semDeDupQualityFromIndex(spark, docs, emb, "graft_knn_semdedup_check", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val qbad = new Mismatches("[check] semdedup QUALITY")
    qbad.n += math.abs(qOut.length - out.length)
    for ((id, rep, keep) <- qOut; want = bestOf(find(id)) if rep != want || keep != (id == want))
      qbad(s"vec $id: got (rep=$rep, keep=$keep), replay says rep=$want")
    println(s"[check] semdedup $sfDir tau=$tau: ${out.length} rows, " +
      s"${out.count(_._3)} representatives, ${pairs.length} tau-pairs, " +
      s"quality rows ${qOut.length}, mismatches=${bad.n + qbad.n} (quality=${qbad.n})")
    bad.n + qbad.n == 0
  }

  /** The MinHash COMPONENT family (r13): the reach-closure oracles of
    * `dedup_components` / `dedup_components_star` /
    * `pipeline_clean_corpus_cc` OOM DuckDB past the driver scales, so
    * the labels replay as a union-find over the SAME banded MinHash pair
    * list the operators consumed:
    *
    *  1. `dedup_components_star` (the O(log n) star contraction — the
    *     100-TB form) label-equals the union-find on every doc;
    *  2. `dedup_components` (min-label propagation) label-equals it too —
    *     the two operators' provable equality is spec'd at toy scale,
    *     this pins it at sf scale;
    *  3. `pipeline_clean_corpus_cc` keeps EXACTLY the union-find component
    *     minima of the quality+exact-dedup survivor graph, with each
    *     keeper's quality copied verbatim.
    */
  def components(spark: SparkSession, sfDir: String): Boolean = {
    val docs = Tables.load(spark, sfDir, "documents")
    val kEst = Dedup.sizedEstK(Tables.rowCount(docs))
    def pairs(df: DataFrame, what: String): Array[(Long, Long)] =
      collectCapped(Dedup.minhashPairs(df, 0.5, 4, kEst).select("doc_a", "doc_b"), what)
        .map(r => (r.getLong(0), r.getLong(1)))
    var bad = 0L
    def report(what: String, mismatches: Long, rows: Long): Unit = {
      println(s"[check] components $sfDir $what: $rows rows, mismatches=$mismatches")
      bad += mismatches
    }

    val find = unionFind(pairs(docs, "minhash pairs"))
    for ((name, out) <- Seq(
      "dedup_components_star" -> Dedup.componentsLogN(docs, 0.5, 4, kEst = kEst),
      "dedup_components" -> Dedup.components(docs, 0.5, 4, kEst = kEst))) {
      val labels = out.select("doc_id", "component_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val m = new Mismatches(s"[check] components $name")
      for ((id, comp) <- labels if comp != find(id)) m(s"doc $id: got $comp, union-find ${find(id)}")
      report(name, m.n, labels.length)
    }

    val afterExact = TextOps.qualityExactSurvivors(docs).persist()
    val sfind = unionFind(pairs(afterExact, "survivor minhash pairs"))
    val survivors = afterExact.select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    afterExact.unpersist(false)
    val expected = survivors.filter { case (id, _) => sfind(id) == id }.toMap
    val got = TextOps.cleanCorpusComponents(docs, kEst = kEst)
      .select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    var m3 = 0L
    for ((id, q) <- got) if (!expected.get(id).contains(q)) m3 += 1
    for (id <- expected.keys) if (!got.contains(id)) m3 += 1
    report("pipeline_clean_corpus_cc", m3, got.size.toLong)
    bad == 0
  }

  /** The PQ serving rows (r14): the DuckDB replay of `sim_topk_ivf_pq` /
    * `sim_topk_mips_ivf_pq` is gate-practical only to sf1, so this
    * replays the WHOLE serving pipeline sequentially — bucket + code
    * assignment, probe lists, approximate scoring of every probed
    * candidate, the (score DESC, id) shortlist, the exact rerank — and
    * requires bit-equality of every output row. The scalar kernels are
    * the SAME JVM functions the executors run (DuckDB-gated bit-exact
    * at ≤ sf1); what this verifies at scale is everything they ride on:
    * the bucket join, the two-phase salted shortlist window (must equal
    * a total-order sort), the sized refine/nlist ladders, and the rerank
    * joins.
    */
  def pq(spark: SparkSession, sfDir: String): Boolean = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val rows = collectCapped(emb, "vectors")
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    val n = rows.length.toLong
    val k = 10
    val probes = 8
    val refine = Similarity.sizedRefine(n)
    println(s"[check] pq $sfDir: $n vectors, refine=$refine")
    var bad = 0L
    val byId = rows.toMap

    def ad(a: Array[Double]) = new GenericArrayData(a)

    /** Sequential serving replay: corpus indexed by (bucket, codes),
      * queries probe, approximate-score, shortlist k·refine by
      * (score DESC, id), exact-rerank top k by (exact DESC, id).
      */
    def replay(queryVec: Long => Array[Double], corpusVec: Long => Array[Double],
               cents: Array[Array[Double]], cnorms: Array[Double],
               chat: Array[Array[Double]], pq: Array[Array[Array[Double]]],
               exact: (Array[Double], Array[Double]) => Double): Map[(Long, Long), (Double, Int)] = {
      val queries = rows.map(_._1).filter(_ < 8)
      val corpus = rows.map(_._1).filter(_ >= 8)
      val byBucket = corpus.map { id =>
        val ea = ad(corpusVec(id))
        (id, V.ivfBucket(ea, cents, cnorms), V.pqCode(ea, cents, cnorms, chat, pq))
      }.groupBy(_._2)
      queries.flatMap { q =>
        val eqa = ad(queryVec(q))
        val cand = V.ivfProbes(eqa, probes, cents, cnorms).toIntArray().distinct
          .flatMap(b => byBucket.getOrElse(b, Array.empty))
          .map { case (cid, b, codes) => (cid, V.pqScore(eqa, b, codes, chat, pq)) }
        val short = cand.sortBy { case (cid, s) => (-s, cid) }.take(k * refine)
        // exact scores over the ORIGINAL vectors of query and candidate
        short.map { case (cid, _) => (cid, exact(byId(q), byId(cid))) }
          .sortBy { case (cid, s) => (-s, cid) }.take(k)
          .zipWithIndex.map { case ((cid, s), i) => (q, cid) -> (s, i + 1) }
      }.toMap
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def served(df: DataFrame): Map[(Long, Long), (Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    def mismatches(got: Map[(Long, Long), (Double, Int)],
                   want: Map[(Long, Long), (Double, Int)]): Long =
      (got.keySet ++ want.keySet).count(kk => got.get(kk) != want.get(kk)).toLong

    // cosine side: plain vectors, exact = cos. The nlist ladder on the
    // cosine PQ row stays the serving default 64 (the §2 parity note),
    // so the LCG books apply directly.
    val cosReplay = replay(byId, byId,
      Codebooks.centroidsArr, Codebooks.centroidNorms,
      Codebooks.centroidsArr.zip(Codebooks.centroidNorms).map { case (c, nn) => c.map(_ / nn) },
      Codebooks.pqCents, (a, b) => dot(a, b) / (V.norm(ad(a)) * V.norm(ad(b))))
    val gotCos = served(Similarity.ivfPqTopKSized(emb, col("vec_id") < 8, k))
    if (gotCos != cosReplay) {
      bad += mismatches(gotCos, cosReplay)
      System.err.println(s"[check] pq cosine PQ mismatch rows: $bad")
    }
    println(s"[check] pq sim_topk_ivf_pq: ${gotCos.size} rows, replay ${cosReplay.size}, " +
      s"mismatches so far $bad")

    // MIPS side: augmented vectors for index/probe, exact = raw ip
    val mx = rows.filter(_._1 >= 8).map { case (_, e) => V.norm(ad(e)) }.max
    def augC(id: Long): Array[Double] = {
      val e = byId(id); val nr = V.norm(ad(e))
      e :+ math.sqrt(mx * mx - nr * nr)
    }
    val mipsReplay = replay(byId(_) :+ 0.0, augC,
      Codebooks.mipsCentroidsArr, Codebooks.mipsCentroidNorms,
      Codebooks.mipsCentroidsHat, Codebooks.mipsPqCents, dot)
    val gotMips = served(Similarity.mipsIvfPqTopKSized(emb, col("vec_id") < 8, k))
    if (gotMips != mipsReplay) {
      val mb = mismatches(gotMips, mipsReplay)
      System.err.println(s"[check] pq MIPS PQ mismatch rows: $mb")
      bad += mb
    }
    println(s"[check] pq $sfDir: cosine ${gotCos.size} + mips ${gotMips.size} rows, " +
      s"refine=$refine, mismatches=$bad")
    bad == 0
  }

  /** The triangle family (r17b): the triangle rows' DuckDB oracles ride
    * the kNN pair CTEs, which stay at driver scales like the rest of the
    * knn family. This builds the index once, runs BOTH registered
    * consumers (triangleCard, triangleTopK), and re-derives every number
    * from the collected undirected pair list by direct adjacency-set
    * intersection — for each pair (a, b) with a < b, the common
    * neighbors c > b close one triangle, counted once and credited to
    * all three corners. Wedges are Σ C(deg, 2), the coefficient is the
    * same BIGINT division, and the top-k replays the (n_tri DESC,
    * vec_id) order exactly.
    */
  def triangle(spark: SparkSession, sfDir: String): Boolean = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_tri_check")
    val card = Graph.triangleCardFromIndex(spark, "graft_knn_tri_check").head()
    (0 until 6).foreach(i => require(!card.isNullAt(i),
      s"[check] triangle card column $i is NULL — degenerate operator " +
        "output, nothing to gate (edge-free index?)"))
    val topk = Graph.triangleTopKFromIndex(spark, "graft_knn_tri_check")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val pairs = collectCapped(spark.table("graft_knn_tri_check")
        .filter(col("src") < col("dst")).select(col("src"), col("dst")), "undirected pairs")
      .map(r => (r.getLong(0), r.getLong(1)))
    require(pairs.nonEmpty, "[check] triangle: edge-free kNN index, nothing to gate")
    val adj = mutable.HashMap[Long, mutable.HashSet[Long]]()
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.HashSet[Long]()) += b
      adj.getOrElseUpdate(b, mutable.HashSet[Long]()) += a
    }
    val perNode = mutable.HashMap[Long, Long]().withDefaultValue(0L)
    var nTri = 0L
    pairs.foreach { case (a, b) =>
      val (small, big) = if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
      small.foreach { c =>
        if (c > b && big.contains(c)) {
          nTri += 1
          Seq(a, b, c).foreach(v => perNode(v) += 1)
        }
      }
    }
    val nNodes = adj.size.toLong
    val nWedges = adj.valuesIterator.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val ccoef = if (nWedges == 0) 0L else 3L * nTri * 1000000L / nWedges
    var fails = 0
    def check(label: String, got: Long, want: Long): Unit =
      if (got != want) {
        fails += 1
        println(s"[check] triangle MISMATCH $label: operator=$got replay=$want")
      }
    check("n_nodes", card.getLong(0), nNodes)
    check("n_edges", card.getLong(1), pairs.length.toLong)
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
    if (topk.toSeq != wantTop) {
      fails += 1
      println(s"[check] triangle MISMATCH topk:\n  operator=${topk.toSeq}\n  replay=$wantTop")
    }
    println(s"[check] triangle $sfDir nodes=$nNodes pairs=${pairs.length} " +
      s"wedges=$nWedges triangles=$nTri ccoef_fp=$ccoef max_fwd=$fwdMax " +
      s"mismatches=$fails")
    fails == 0
  }
}
