package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components — PageRank in
  * FIXED-POINT integer arithmetic, over graphs the engine already builds
  * (the co-purchase graph here; the ANN kNN graph of
  * [[Similarity.knnJoinIvf]] is the drop-in curation variant — PageRank
  * centrality over a similarity graph is a standard diversity/
  * representative-selection signal).
  *
  * Float PageRank is engine- and order-dependent (a parallel float sum
  * per destination); this one is exact: ranks are BIGINT fixed-point
  * (`scale` = 1.0), each round is
  *   r'(v) = (15·scale) div 100 + (85 · Σ_{u→v} r(u) div deg(u)) div 100
  * — every operation an integer div/sum, so any partitioning, any engine,
  * any round order produces the same bits. Mass is conserved up to
  * integer-truncation dust (asserted in the spec).
  *
  * Scale shape: each round is ONE join of the edge list against the
  * current ranks (both keyed by the 8-byte node id) plus a map-side
  * combinable SUM per destination — the identical shuffle pattern
  * [[Dedup.componentsOf]] runs, with the same skew answer (a celebrity
  * node's incoming sum is a hash-aggregate, never a window). The round
  * count is FIXED (power iteration, not convergence-detection), so the
  * plan is a straight 2·rounds-exchange chain; edges/degrees are built
  * once and reused by every round. Overflow headroom: 85·(total mass) =
  * 85·n·scale must stay under 2^63 — pick `scale` ≤ 9·10^16/n (the
  * default 10^12 is good to n ≈ 90k nodes; shrink it for bigger graphs,
  * the ranking is scale-invariant).
  */
object Graph {

  /** The fixed-point rank scale and round count every PageRank default
    * rides, and the SemDeDup neighborhood threshold — named so the
    * driver-side replays (the `knn_mis`, `card` and `semdedup` rows of
    * graft.Check) reference the SAME values instead of duplicating
    * literals (r16 ADVICE: a default change must desynchronize loudly
    * AND point here). */
  private[graft] val DefaultRankScale = 1000000000000L
  private[graft] val DefaultPrRounds = 5
  private[graft] val DefaultTau = 0.4

  /** Node budget for the per-round rank/degree broadcast in
    * [[pageRankAdjacency]]: below it the node-sized share table fits the
    * usual executor broadcast budget (10⁷ × (8 B id + 8 B rank) ≈ 160 MB
    * serialized, the standard autoBroadcast ceiling × a small factor);
    * beyond it the per-round broadcast is a driver-killer (the r14
    * VERDICT weak: the part dimension scales ~200k·sf, so at the 100-TB
    * target the rank table is tens of GB) and ranks stay a shuffle join.
    * The switch changes join STRATEGY only — the fixed-point integer
    * arithmetic is partitioning-invariant, so answers are bit-identical
    * on both sides (spec'd in GraphSpec; sf1/sf10 arm walls in §7).
    */
  val BroadcastRanksMaxNodes: Long = 10000000L

  /** Edge budget under which [[triangleCard]] broadcasts the undirected
    * pair list for the closing-edge probe (~16 bytes/row → ≤ ~128 MB in
    * the broadcast): below it the wedge explosion is filtered in place
    * and never shuffled; beyond it the probe falls back to the shuffled
    * equi-join. */
  val BroadcastTriEdgesMax: Long = 8000000L

  /** Undirected co-purchase edge list: parts that appear in the same
    * order, symmetrized, deduplicated. Pair fan-out per order is bounded
    * by lines-per-order² (TPC-H ≤ 7 lines ⇒ ≤ 21 pairs).
    *
    * ONE wide stage builds the per-order part sets (collect_set is safe
    * here precisely because the per-order line count is bounded by the
    * data model — the one place a collected list can't skew); the pair
    * expansion is a map-side array transform over the ≤7-element set, and
    * the only other shuffle is the single global `distinct()`. The
    * previous form paid an orderkey self-join AND the distinct — two wide
    * stages over pair-sized data instead of one.  least/greatest
    * normalization makes the pair orientation independent of
    * collect_set's nondeterministic order. explode_outer + a post-explode
    * null filter (not plain explode) keeps InferFiltersFromGenerate from
    * inlining the pair-builder expression into an inferred size() filter
    * (the GENERATE re-evaluation landmine, §5).
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val pairs = lineitem
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode_outer(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(least(x, y) AS pa, greatest(x, y) AS pb))))")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .filter(col("pa") < col("pb"))
      .distinct()
    // symmetrize with a map-side explode, not a self-union: a union would
    // re-plan (and re-run the final dedup aggregate of) the whole pair
    // pipeline once per orientation — this keeps the build at its two
    // wide stages exactly (pinned in PlanSpec)
    pairs
      .select(explode(array(
        struct(col("pa").as("src"), col("pb").as("dst")),
        struct(col("pb").as("src"), col("pa").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Power iteration over an (src, dst) edge list; returns every node's
    * fixed-point rank. Nodes are edge endpoints — an isolated vertex has
    * no edges to rank it by and is out of scope by construction.
    */
  def pageRank(edges: DataFrame, rounds: Int = DefaultPrRounds,
               scale: Long = DefaultRankScale,
               broadcastRanks: Boolean = false): DataFrame = {
    require(rounds >= 1, s"pageRank: rounds must be >= 1, got $rounds")
    val e = edges.persist()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")).persist()
    val base = (15L * scale) / 100L
    // the round state carries (id, d, r) — degree rides WITH the rank, so
    // a round needs NO ranks⋈degrees join at all: shares project straight
    // off the state, and the new state is one left join of the persisted
    // degree table against the contribution agg. Each round = one pass
    // over the edge list + one node-sized join (the round-10 form paid
    // two node-sized joins). The state is referenced exactly ONCE per
    // round (via shares) — referencing it twice would re-execute the
    // whole chain exponentially.
    var state = deg.withColumn("r", lit(scale))
    for (_ <- 1 to rounds) {
      val sharesPlain = state.select(col("id").as("src"), expr("r DIV d").as("s"))
      // the share table is node-sized; when the node set is a bounded
      // dimension (parts), broadcasting it removes EVERY per-round
      // exchange of the fat edge list — the edges never reshuffle after
      // their one persist. At graph scale (nodes ≫ broadcast budget)
      // keep the default shuffle join.
      val shares = if (broadcastRanks) broadcast(sharesPlain) else sharesPlain
      val contrib = e.join(shares, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("s")).as("m"))
      state = deg.join(contrib, Seq("id"), "left_outer")
        .select(col("id"), col("d"),
          (lit(base) + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) DIV 100")).as("r"))
    }
    // eager finalize: the rank table is node-sized; materializing it here
    // lets the (edge-sized) persisted frames unpersist immediately instead
    // of leaking one cached edge list per invocation (bench reps
    // accumulated three) — the operator's total work is unchanged, it
    // just runs at construction
    val out = state.select(col("id"), col("r")).localCheckpoint(true)
    e.unpersist(false)
    deg.unpersist(false)
    out
  }

  /** Power iteration over a CHUNKED ADJACENCY layout — same bits as
    * [[pageRank]], measured ~1.3× faster on the co-purchase graph: the
    * per-round join probes a near-node-sized cached frame (one row per
    * (src, chunk) holding ≤ `chunk` neighbors + the source degree)
    * instead of the full edge list, the explode regenerates the edge
    * stream in codegen off the stored arrays (stored column, not a
    * computed one — no InferFiltersFromGenerate re-evaluation hazard),
    * and the per-edge `r DIV d` is the identical integer the edge-list
    * form computes per node. Chunking is the 100-TB guard: a celebrity
    * node's neighbor list lands in ⌈d/chunk⌉ bounded rows (pmod(hash(dst))
    * assignment), so no single row or collect_list buffer grows with the
    * graph — degree skew becomes row-count, which the (src, __ck) hash
    * exchange spreads.
    *
    * `symmetric = true` (an undirected, symmetrized edge list — the
    * co-purchase graph's invariant) drops the per-round completion join:
    * every node then has in-edges, so the contribution agg already keys
    * every node. Leave it false for arbitrary directed graphs, where a
    * node with no in-edges must still re-enter each round at the teleport
    * base.
    *
    * `broadcastMaxNodes = Some(budget)` makes the broadcast decision
    * N-ADAPTIVE: broadcast the per-round rank/degree tables iff the
    * measured node count fits `budget` (see [[BroadcastRanksMaxNodes]]),
    * shuffle-join beyond. Callers ranking an unbounded dimension (parts,
    * documents) must use this form — a hardcoded `broadcastRanks = true`
    * rides the dimension to a driver OOM at scale.
    */
  def pageRankAdjacency(edges: DataFrame, rounds: Int = DefaultPrRounds,
                        scale: Long = DefaultRankScale,
                        chunk: Int = 1024,
                        broadcastRanks: Boolean = false,
                        symmetric: Boolean = false,
                        broadcastMaxNodes: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"pageRankAdjacency: rounds must be >= 1, got $rounds")
    require(chunk >= 1, s"pageRankAdjacency: chunk must be >= 1, got $chunk")
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")).persist()
    // N-adaptive broadcast switch (the sizedNlist precedent): when the
    // caller hands a node budget, the per-round rank broadcast is taken
    // from the MEASURED node count, never an assumption about the
    // dimension. The count materializes the already-persisted degree
    // table (a pass the adjacency build pays anyway), and the join
    // strategy cannot change the integer rank arithmetic — bit-equality
    // of both arms is spec'd (GraphSpec) and replayed at sf1/sf10
    // (graft.BenchPrArms), so gates stay hash-green on either side of
    // the threshold.
    val bc = broadcastMaxNodes match {
      case Some(maxNodes) => deg.count() <= maxNodes
      case None           => broadcastRanks
    }
    val degS = deg.select(col("id").as("src"), col("d"))
    val adj = edges
      .join(if (bc) broadcast(degS) else degS, "src")
      .groupBy(col("src"), col("d"),
        expr(s"pmod(hash(dst), CAST((d + ${chunk - 1}) DIV $chunk AS INT))").as("__ck"))
      .agg(collect_list(col("dst")).as("dsts"))
      .persist()
    val base = (15L * scale) / 100L
    var ranks = deg.select(col("id"), lit(scale).as("r"))
    for (_ <- 1 to rounds) {
      val rs = ranks.select(col("id").as("src"), col("r"))
      val contrib = adj.join(if (bc) broadcast(rs) else rs, "src")
        .select(explode(col("dsts")).as("id"), expr("r DIV d").as("s"))
        .groupBy(col("id")).agg(sum(col("s")).as("m"))
      ranks =
        if (symmetric)
          contrib.select(col("id"), (lit(base) + expr("(85 * m) DIV 100")).as("r"))
        else
          deg.join(contrib, Seq("id"), "left_outer")
            .select(col("id"),
              (lit(base) + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) DIV 100")).as("r"))
    }
    val out = ranks.localCheckpoint(true)
    deg.unpersist(false)
    adj.unpersist(false)
    out
  }

  /** PageRank centrality over the ANN kNN SIMILARITY graph — the
    * curation variant the header promises: edges are
    * [[Similarity.knnJoinIvf]]'s top-k neighbor pairs, symmetrized and
    * deduplicated (least/greatest normalization + one distinct, then the
    * map-side two-orientation explode — the coPurchaseEdges shape), and
    * ranks are the same fixed-point integer power iteration. High rank =
    * a vector many other vectors count among their nearest neighbors —
    * the standard representative-selection / diversity signal over an
    * embedding corpus (densest-cluster cores surface first; spec'd on a
    * planted-cluster fixture).
    *
    * Scale: the node set is the EMBEDDING CORPUS (not a bounded
    * dimension), so ranks stay a shuffle join (`broadcastRanks = false`)
    * and the adjacency is the chunked form; the kNN edge list is
    * bounded at 2·k·N rows by construction.
    */
  def knnPageRank(emb: DataFrame, k: Int = 5, probes: Int = 2,
                  rounds: Int = 5, topK: Int = 20,
                  scale: Long = DefaultRankScale): DataFrame = {
    // r17 opt (guide §1.2/§2.4 — don't compute things twice): the kNN
    // build is the expensive frame here and pageRankAdjacency consumes
    // its edge argument twice (degree aggregate + adjacency build);
    // unpersisted, the whole O(probes·N^1.5) candidate join ran twice
    // per invocation (measured: knn_pagerank 3.35 s vs
    // knn_pagerank_indexed 2.16 s at sf0.1 — the INDEXED form was
    // cheaper because its table write materialized the edges once).
    // The persist is an edge-sized intermediate (≤ 2·k·N narrow rows)
    // INSIDE the timed computation; ranks come back as an eager
    // checkpoint, so the cache frees before the card is even read.
    val e = knnEdges(emb, k, probes).persist()
    val ranks = pageRankAdjacency(e, rounds, scale, symmetric = true)
    e.unpersist(false)
    rankCard(ranks, topK)
  }

  /** The symmetrized, deduplicated kNN edge list ([[knnPageRank]]'s
    * graph): nlist derived from the corpus (sizedNlist) — the graph
    * build is the corpus-scale op, so its quantizer tracks sqrt(N);
    * identical graph at gate scales, halved per-bucket mass at sf1+.
    *
    * Edges carry the pair's exact `cos` (r12): PageRank ignores it, but
    * the similarity-thresholded consumers ([[semDeDupFromIndex]]) read
    * it straight off the index instead of re-touching vectors. The
    * dedup on (pa, pb, cos) equals the old (pa, pb) dedup bit-for-bit:
    * when a pair surfaces in both kNN orientations, each side's cos is
    * the SAME IEEE double (per-element products commute exactly and
    * both folds run in index order — the same argument that makes the
    * oracle's list_reduce replay exact).
    */
  private[graft] def knnEdges(emb: DataFrame, k: Int, probes: Int,
                              fittedBook: Boolean = false): DataFrame = {
    // fittedBook (r16, r15 VERDICT #3): quantize the graph build with
    // the laddered k-means book instead of the random LCG book — the
    // hub-skew finding was that tight clusters don't co-bucket under a
    // random book, so graph recall on clustered corpora runs below the
    // isotropic measurement. OPT-IN: the registered rows keep the
    // formula book their oracles replay.
    val knn = if (fittedBook) Similarity.knnJoinIvfFittedSized(emb, k, probes)
      else Similarity.knnJoinIvfSized(emb, k, probes)
    val pairs = knn
      .select(least(col("query_id"), col("corpus_id")).as("pa"),
        greatest(col("query_id"), col("corpus_id")).as("pb"), col("cos"))
      .distinct()
    pairs
      .select(explode(array(
        struct(col("pa").as("src"), col("pb").as("dst"), col("cos")),
        struct(col("pb").as("src"), col("pa").as("dst"), col("cos")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.cos").as("cos"))
  }

  /** The top-`topK` rank card over a finished rank table: sort, cut,
    * then number the 20 surviving rows. The row_number window runs
    * AFTER the limit — over topK rows, never the corpus (its global
    * ordering only ever sees the already-cut frame).
    */
  private[graft] def rankCard(ranks: DataFrame, topK: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("r").desc, col("id"))
    ranks
      .orderBy(col("r").desc, col("id"))
      .limit(topK)
      .select(col("id").as("vec_id"), col("r").as("rank_fp"),
        row_number().over(w).as("rnk"))
  }

  /** BUILD-ONCE half of the build-once/rank-many kNN graph (round-11
    * VERDICT #2): the symmetrized edge list materialized as a table
    * bucketed (and sorted) by `src` — the probe key every consumer
    * joins or aggregates on. A real curation pipeline pays the
    * O(probes·N^1.5) kNN build ONCE and runs many graph consumers
    * (PageRank, SemDeDup neighborhoods, diversity sampling) against the
    * layout; after this write, [[pageRankFromIndex]]'s per-round plans
    * scan the edges with ZERO Exchange (the degree aggregate and the
    * adjacency build both cluster on `src`, which the bucketing already
    * satisfies — plan-pinned in GraphSpec).
    */
  def writeKnnEdgeIndex(emb: DataFrame, table: String, k: Int = 5,
                        probes: Int = 2, buckets: Int = -1,
                        fittedBook: Boolean = false): Unit =
    graft.sources.Bucketing.writeBucketed(knnEdges(emb, k, probes, fittedBook),
      table,
      if (buckets > 0) buckets else sizedIndexBuckets(emb.sparkSession),
      "src")

  /** N-adaptive edge-index bucket count (r18, r17 headroom #2 / guide
    * §6): the index write previously laid out a FIXED 8 buckets, so the
    * write's bucket-clustering exchange ran 8 tasks and every consumer
    * scan opened at most 8 splits regardless of session width. Session
    * shuffle width (floored at the historical 8) keeps the write and
    * the from-index consumer scans at cluster parallelism; bucket count
    * is pure LAYOUT — the co-bucketed zero-Exchange probe plans
    * (GraphSpec/BucketingSpec pins) hold for any count, and results are
    * layout-invariant by the engine-exact discipline.
    */
  def sizedIndexBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(8, spark.sessionState.conf.numShufflePartitions)

  /** RANK-MANY half: PageRank straight off the materialized edge index —
    * the identical fixed-point iteration as [[knnPageRank]] (layout must
    * never change answers; equality spec'd, oracle shared verbatim),
    * minus the whole kNN build. At sf1 the build dominates knn_pagerank's
    * wall (§7 curve), so this is what a second consumer actually costs.
    */
  def pageRankFromIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String, rounds: Int = 5, topK: Int = 20,
                        scale: Long = DefaultRankScale): DataFrame =
    rankCard(pageRankAdjacency(spark.table(table), rounds, scale,
      symmetric = true), topK)

  /** Build + rank in one call — the registered `knn_pagerank_indexed`
    * query: same answers as [[knnPageRank]] by construction, with the
    * graph landing as a reusable bucketed table on the way.
    */
  def knnPageRankIndexed(emb: DataFrame, table: String = "graft_knn_edges",
                         k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                         topK: Int = 20,
                         scale: Long = DefaultRankScale): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    pageRankFromIndex(emb.sparkSession, table, rounds, topK, scale)
  }

  /** DIVERSITY SAMPLE off the kNN graph — rank-many consumer #2 (r12;
    * the VERDICT-promised trio was PageRank / SemDeDup neighborhoods /
    * diversity sampling): one Luby round of maximal-independent-set
    * selection with the fixed-point PageRank as the priority. A node is
    * selected iff its rank beats EVERY neighbor's (ties broken toward
    * the smaller id — the standard deterministic Luby priority, here a
    * pure integer compare, so the selection is engine-exact). The
    * result is an independent set of locally-dominant representatives:
    * no two selected vectors are kNN neighbors of each other, and each
    * is the PageRank peak of its own neighborhood — the
    * representative-selection recipe over an embedding corpus.
    *
    * Scale shape: the neighbor-rank join keys on `src`, which the
    * bucketed index layout already clusters — the edge list is never
    * exchanged; the groupBy(dst) regroup is the one edge-sized shuffle
    * (inherent: it is the graph's incoming direction), and everything
    * else is node-sized. Output is the selected set only — corpus-bound
    * above by N/(minDeg+1), in practice a small card.
    */
  def diversitySampleFromIndex(spark: org.apache.spark.sql.SparkSession,
                               table: String, rounds: Int = DefaultPrRounds,
                               scale: Long = DefaultRankScale): DataFrame = {
    val e = spark.table(table).select(col("src"), col("dst"))
    val ranks = pageRankAdjacency(e, rounds, scale, symmetric = true)
    // neighbor ranks ride the src bucketing (zero Exchange on the edge
    // side); per-node best neighbor = min (-rank, id) tuple, so the
    // "beaten by a neighbor" test is one integer struct compare. The
    // negation lives on the RANK (algorithm-domain, bounded by total
    // mass n·scale ≪ 2⁶³), never on the id (data-domain — a negated
    // Long.MinValue id would overflow)
    val best = e.join(ranks.select(col("id").as("src"), col("r").as("rn")), "src")
      .groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("deg"),
        min(struct((-col("rn")).as("nr"), col("src").as("nid"))).as("best"))
    best.join(ranks, "id")
      .filter(!(-col("best.nr") > col("r") ||
        (-col("best.nr") === col("r") && col("best.nid") < col("id"))))
      .select(col("id").as("vec_id"), col("r").as("rank_fp"), col("deg"))
      .orderBy(col("rank_fp").desc, col("vec_id"))
  }

  /** Build + sample in one call — the registered `knn_diversity_sample`
    * query (the index write is shared verbatim with
    * [[knnPageRankIndexed]]: ONE build pays for every consumer).
    */
  def knnDiversitySample(emb: DataFrame, table: String = "graft_knn_diversity",
                         k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                         scale: Long = DefaultRankScale): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    diversitySampleFromIndex(emb.sparkSession, table, rounds, scale)
  }

  /** Luby-iteration priority for MIS round `t`: round 1 is the
    * fixed-point PageRank (biasing the FIRST pick toward high-rank
    * representatives — round 1's selection is exactly
    * [[diversitySampleFromIndex]]'s set, spec'd); later rounds use a
    * fresh per-round LCG permutation of the id ((id mod 1000003)·48271
    * + t·12345, all mod 1000003) — Luby's re-randomization, which is
    * what makes the expected round count O(log n) instead of the
    * longest monotone rank chain. Pure bounded integer arithmetic
    * (≤ 2²⁰·48271 ≈ 2³⁶ — no ANSI overflow), engine-exact, mirrored
    * verbatim in the oracle's unrolled CTEs. Ties break toward the
    * smaller id in every round.
    */
  private[graft] val MisLcgMod = 1000003L
  private def misPriority(t: Int): org.apache.spark.sql.Column =
    if (t == 1) col("r")
    else ((col("id") % MisLcgMod) * 48271L + lit(t * 12345L)) % MisLcgMod

  /** The driver-local twin of [[misPriority]] — the Check gates' Luby
    * replay calls THIS instead of re-deriving the formula as local
    * literals, so a change to the priority recurrence can never
    * silently desynchronize the at-scale gates (r16 ADVICE). */
  private[graft] def misPriorityValue(t: Int, id: Long, r: Long): Long =
    if (t == 1) r else ((id % MisLcgMod) * 48271L + t * 12345L) % MisLcgMod

  /** The oracle-side twin of [[misPriority]] (interpolated constants —
    * the shared-formula discipline). */
  private[graft] def misPrioritySql(t: Int, idCol: String, rCol: String): String =
    if (t == 1) rCol
    else s"(($idCol % $MisLcgMod) * 48271 + ${t * 12345L}) % $MisLcgMod"

  /** Iterated Luby MAXIMAL independent set off the kNN graph (r13 —
    * round-12 VERDICT #2 completed [[diversitySampleFromIndex]]'s one
    * round to the fixed point): each round selects every remaining node
    * whose priority beats all REMAINING neighbors', then deletes the
    * selected nodes' closed neighborhoods; iterate until no node
    * remains. The output is a true MIS — no two selected nodes are kNN
    * neighbors AND every unselected node has a selected neighbor — with
    * each node tagged by its selection round (round 1 = the locally-
    * dominant PageRank representatives, later rounds fill the gaps).
    *
    * Scale shape: per round, the live-edge restriction joins the
    * bucketed edge index on `src` (bucketing satisfied — no edge-side
    * exchange) and anti-joins the shrinking alive set; everything else
    * is node-sized. Rounds are O(log n) w.h.p. (Luby re-randomization);
    * each round's state is localCheckpoint-materialized BY its
    * convergence count and superseded checkpoints unpersist eagerly —
    * the [[Dedup.componentsOf]] iteration discipline. `maxRounds` is a
    * loud-failure fuse (and the oracle's unroll depth), not a tuning
    * knob: hitting it raises rather than returning a non-maximal set.
    */
  def diversityMisFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, rounds: Int = DefaultPrRounds,
                            scale: Long = DefaultRankScale,
                            maxRounds: Int = MisMaxRounds): DataFrame = {
    val e = spark.table(table).select(col("src"), col("dst")).persist()
    // pageRankAdjacency already returns an eager localCheckpoint — use it
    // AS round 0's alive state (re-checkpointing would leak the inner copy)
    val alive0 = pageRankAdjacency(e, rounds, scale, symmetric = true)
    val out = misLoop(e, alive0, maxRounds)
    e.unpersist(false)
    out
  }

  /** The iterated-Luby loop over an already-persisted edge frame and a
    * checkpointed round-0 alive/priority state — shared by
    * [[diversityMisFromIndex]] and [[consumerCardFromIndex]] (the card
    * computes the rank chain ONCE and feeds it to both the PageRank
    * peak and this loop). CONSUMES `alive0`: superseded rounds —
    * including round 0 — unpersist eagerly, so the caller must
    * materialize anything else it needs from `alive0` BEFORE calling
    * (a truncated-lineage checkpoint cannot recompute).
    */
  private def misLoop(e: DataFrame, alive0: DataFrame,
                      maxRounds: Int): DataFrame = {
    var alive = alive0
    val selected = scala.collection.mutable.ListBuffer[(DataFrame, DataFrame)]()
    var t = 1
    var nAlive = alive.count()
    while (nAlive > 0) {
      require(t <= maxRounds,
        s"Graph.misLoop: no fixed point after $maxRounds rounds " +
          s"($nAlive nodes alive) — raise maxRounds AND the oracle unroll")
      val aliveP = alive.select(col("id"), col("r"), misPriority(t).as("pri"))
      // alive-SRC edges, the src side carrying its priority so the
      // per-dst "best neighbor" needs no second join. r17 opt (guide
      // §2.4 — remove shuffles outright): the old form ALSO joined the
      // alive set on dst, and was then consumed twice unpersisted (once
      // under selT, once under the removal set) — per round that cost
      // 2×2 edge-sized hash joins plus an edge-sized exchange by dst.
      // The dst-alive restriction is redundant: dead-dst groups in
      // `best` are dropped by the aliveP⋈best join below (aliveP is
      // alive-only), and dead ids in `removed` are no-ops to the
      // anti-join. The `best` aggregate's map-side partial min keeps
      // the post-filter exchange node-sized.
      val liveE = e
        .join(aliveP.select(col("id").as("src"), col("pri").as("spri")), "src")
      // negate the PRIORITY (algorithm-domain, bounded), never the id
      val best = liveE.groupBy(col("dst").as("id"))
        .agg(min(struct((-col("spri")).as("np"), col("src").as("nid"))).as("best"))
      val selT = aliveP.join(best, Seq("id"), "left_outer")
        .filter(col("best").isNull ||
          !(-col("best.np") > col("pri") ||
            (-col("best.np") === col("pri") && col("best.nid") < col("id"))))
        .select(col("id"), col("r"))
        // EAGER checkpoint, deliberately (r17 re-measured): a lazy one
        // is read CONCURRENTLY by both removal-set branches in the
        // count job, and racing tasks duplicate the whole
        // liveE→best→selT chain per partition (mis rows +0.7-1.2 s at
        // sf0.1); the eager job computes it exactly once.
        .localCheckpoint(true)
      selected += selT.withColumn("sel_round", lit(t)) -> selT
      // closed neighborhoods straight off the PERSISTED edge list (not
      // liveE — that re-ran both of its joins): dead/duplicate dsts are
      // absorbed by the distinct + anti-join exactly as before
      val removed = selT.select(col("id"))
        .union(e.join(selT.select(col("id").as("src")), "src")
          .select(col("dst").as("id")))
        .distinct()
      val aliveNext = alive.join(removed, Seq("id"), "left_anti")
        .localCheckpoint(false) // lazy — materialized by the count below
      nAlive = aliveNext.count()
      unpersistCheckpoint(alive)
      alive = aliveNext
      t += 1
    }
    // a node-free graph (degenerate corpus) selects nobody — an empty
    // card with the contract schema, not a reduce() on an empty list
    val all = if (selected.isEmpty)
      alive.select(col("id"), col("r")).withColumn("sel_round", lit(1))
        .limit(0)
    else selected.map(_._1).reduce(_ union _)
    // materialize the union as ONE node-sized checkpoint, then free every
    // per-round selT block eagerly (r15 ADVICE: the bench contract runs
    // this repeatedly in one session, and the per-round checkpoints were
    // only ever reclaimed by the ContextCleaner's GC cadence). The final
    // alive state (empty, but checkpointed) frees with them.
    val out = all
      .select(col("id").as("vec_id"), col("r").as("rank_fp"), col("sel_round"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
    selected.foreach { case (_, selT) => unpersistCheckpoint(selT) }
    unpersistCheckpoint(alive)
    out
  }

  /** The MIS fuse AND the oracle's unroll depth — the two must agree
    * (the Scala loop raises past it; the oracle's extra rounds are
    * no-ops on an already-empty alive set, so a shallow convergence
    * gates identically). Luby on the ≤2k-degree kNN graph converges in
    * a handful of rounds; the measured depth grows +1 per decade
    * (3/4/5/6 at sf0.01→sf10), so 16 leaves ~6 decades of headroom past
    * the sf10 point — a 10¹⁰-node corpus extrapolates to ~10 rounds,
    * which the old 12 cleared by only 2 (r14, round-13 VERDICT #7;
    * post-convergence oracle rounds are no-ops on an empty alive set,
    * so the raise is gate-invariant by construction). */
  val MisMaxRounds = 16

  /** Build + MIS in one call — the registered `knn_diversity_mis`
    * query (index write shared with every other kNN consumer).
    */
  def knnDiversityMis(emb: DataFrame, table: String = "graft_knn_diversity_mis",
                      k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                      scale: Long = DefaultRankScale): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    diversityMisFromIndex(emb.sparkSession, table, rounds, scale)
  }

  /** REPRESENTATIVE ASSIGNMENT off the MIS (r13) — the clustering
    * consumer the maximal set exists for: every graph node maps to a
    * representative — itself if selected, otherwise its BEST selected
    * kNN neighbor (max exact cosine, ties toward the smaller id; the
    * cosine reads straight off the materialized index, no vector is
    * re-touched). MAXIMALITY is what makes this total: every unselected
    * node has a selected neighbor by construction, so the assignment
    * covers the graph with zero fallbacks — the prototype-assignment /
    * semantic-clustering recipe (corpus → MIS representatives).
    *
    * Scale shape: one selected-set semi-join + one anti-join against
    * the node-sized MIS output, then a groupBy(src) max — the edge
    * list stays bucketed on src (no edge-side exchange for the
    * aggregate's clustering). The negation rides the COSINE (a double,
    * exactly negatable), never the id.
    */
  def misAssignFromIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, rounds: Int = DefaultPrRounds,
                         scale: Long = DefaultRankScale): DataFrame = {
    val sel = diversityMisFromIndex(spark, table, rounds, scale)
      .select(col("vec_id"))
    val e = spark.table(table).select(col("src"), col("dst"), col("cos"))
    val unsel = e
      .join(sel.withColumnRenamed("vec_id", "dst"), "dst")
      .join(sel.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .groupBy(col("src").as("vec_id"))
      .agg(min(struct((-col("cos")).as("nc"), col("dst").as("rep"))).as("b"))
      .select(col("vec_id"), col("b.rep").as("rep_id"),
        (-col("b.nc")).as("cos"), lit(false).as("is_rep"))
    sel
      .select(col("vec_id"), col("vec_id").as("rep_id"),
        lit(null).cast("double").as("cos"), lit(true).as("is_rep"))
      .union(unsel)
      .orderBy(col("vec_id"))
  }

  /** Build + MIS + assignment in one call — the registered
    * `knn_mis_assign` query. */
  def knnMisAssign(emb: DataFrame, table: String = "graft_knn_mis_assign",
                   k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                   scale: Long = DefaultRankScale): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    misAssignFromIndex(emb.sparkSession, table, rounds, scale)
  }

  /** CLUSTER CARD over the MIS assignment (r14) — the per-prototype
    * summary a curation run reads first: for every representative, how
    * many vectors it absorbed (itself included) and the tightest /
    * loosest member cosine. Every aggregate is order-free engine-exact
    * (COUNT is an integer; MIN/MAX over doubles ignore the rep's own
    * null-cos row identically in both engines — a memberless rep cards
    * as (1, null, null)), so the whole card hash-gates on top of the
    * shared assignment chain. One node-sized groupBy — the edge list
    * is never touched beyond the assignment it already feeds.
    */
  def misClusterStatsFromIndex(spark: org.apache.spark.sql.SparkSession,
                               table: String, rounds: Int = DefaultPrRounds,
                               scale: Long = DefaultRankScale): DataFrame =
    misAssignFromIndex(spark, table, rounds, scale)
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("rep_id"))

  /** Build + MIS + assignment + card in one call — the registered
    * `knn_mis_cluster_stats` query. */
  def knnMisClusterStats(emb: DataFrame,
                         table: String = "graft_knn_mis_cluster",
                         k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                         scale: Long = DefaultRankScale): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    misClusterStatsFromIndex(emb.sparkSession, table, rounds, scale)
  }

  /** DEGREE HISTOGRAM of the symmetrized kNN graph (r14) — the
    * ANN-graph health card: hubs (celebrity vectors every probe list
    * hits) are exactly what makes downstream consumers skew, and the
    * histogram is the first thing a 100-TB graph build should report
    * before anyone ranks on it. Degrees are bounded by construction
    * (≤ 2·k·N edges), all-integer, hash-gateable for free. The degree
    * aggregate clusters on `src` — it rides the bucketed index layout
    * with zero edge-side exchange; the histogram regroup is
    * degree-domain-sized (≤ max-degree rows).
    */
  def degreeCardFromIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String): DataFrame =
    spark.table(table)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("deg"))

  /** Build + degree card in one call — the registered `knn_degree_card`
    * query. */
  def knnDegreeCard(emb: DataFrame, table: String = "graft_knn_degree",
                    k: Int = 5, probes: Int = 2): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    degreeCardFromIndex(emb.sparkSession, table)
  }

  /** TRIANGLE / clustering-coefficient card of the symmetrized kNN
    * graph (r17b) — the second-order ANN-graph health signal next to
    * the degree histogram: triangle count, wedge count (length-2
    * paths), and the global clustering coefficient 3·Δ/wedges in
    * fixed point. A near-dup-heavy corpus shows up here as a high
    * coefficient (dup clusters are near-cliques) before any dedup
    * pass runs; a coefficient near 0 on a corpus known to contain
    * duplicates means the ANN build is NOT co-bucketing them — an
    * index-quality alarm no first-order signal catches.
    *
    * Scale shape: the classic DEGREE-ORDERED oriented count
    * (Schank/Wagner; the MapReduce form is Suri & Vassilvitskii's
    * MR-NodeIterator++) — each undirected edge is oriented from its
    * (degree, id)-smaller endpoint, wedges enumerate only ORIENTED
    * out-pairs, so per-vertex work is C(fwd_deg, 2) with fwd_deg
    * bounded by O(√(2·|E|)) REGARDLESS of hub degree — the
    * all-pairs-at-the-hub blowup (the exact skew the degree card
    * exists to flag) cannot occur. The closing-edge probe is an
    * equi-join of the wedge frame against the undirected edge list:
    * every stage is a shuffle-bounded join/agg on narrow integer
    * rows; nothing is quadratic in N or in hub degree. All columns
    * are exact integers (ccoef_fp at scale 10⁶ via BIGINT division),
    * so the card hash-gates. `max_fwd_deg` ships in the card as the
    * measured per-task bound the orientation guarantees. Headroom:
    * 3·Δ·10⁶ must stay under 2⁶³ — safe to Δ ≈ 3·10¹², i.e. ~10¹²
    * vectors at the kNN edge bound 2·k·N.
    */
  /** The shared triangle-enumeration frames: (persisted undirected pair
    * list, persisted degree-oriented edge list, the closed-triangle
    * corner frame (lo, h1, h2) — one row per triangle). Callers
    * unpersist the first two when done. */
  private def triangleFrames(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    // one row per undirected pair (the index stores both directions of
    // a DISTINCT pair set, so the filter alone dedups)
    val und = e.filter(col("src") < col("dst")).persist()
    val nEdges = und.count() // materializes the persist
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .select(col("src").as("id"), col("d"))
    // orient from the (degree, id)-smaller endpoint; src < dst already,
    // so the degree tie breaks toward src. The wedge self-join below is
    // EXPLOSIVE (narrow (lo, hi) rows in, up to Σ C(fwd_deg, 2) wedge
    // rows out), so its input exchange is pinned with repartition-by-NUM
    // — AQE sizes exchanges by INPUT bytes and would coalesce this to
    // 1-2 tasks (the documented pre-explosion landmine; measured: 4 GB
    // sort pages at sf10). Counts are partition-invariant, so the pin
    // can never change the card.
    val wedgeParts = spark.conf.getOption("spark.sql.shuffle.partitions")
      .map(_.toInt).getOrElse(32)
    val oriented = und
      .join(deg.select(col("id").as("src"), col("d").as("ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("d").as("dd")), Seq("dst"))
      .select(
        when(col("ds") <= col("dd"), col("src")).otherwise(col("dst")).as("lo"),
        when(col("ds") <= col("dd"), col("dst")).otherwise(col("src")).as("hi"))
      .repartition(wedgeParts, col("lo"))
      .persist()
    // wedges out of the lowest-rank vertex; x.hi < y.hi makes the
    // closing pair (x.hi, y.hi) already least/greatest-ordered. The
    // closing-edge probe broadcasts the undirected pair list while it
    // fits (the parts_pagerank N-adaptive precedent) so the wedge
    // stream is FILTERED WHERE IT IS GENERATED — no shuffle or sort of
    // the explosion ever materializes; past the budget it falls back to
    // the shuffled equi-join (the 100-TB arm: wedge volume is bounded
    // by E^1.5, and narrow 16-byte rows shuffle fine).
    val closing =
      if (nEdges <= BroadcastTriEdgesMax) broadcast(und) else und
    val corners = oriented.as("x")
      .join(oriented.as("y"),
        col("x.lo") === col("y.lo") && col("x.hi") < col("y.hi"))
      .select(col("x.lo").as("lo"), col("x.hi").as("src"),
        col("y.hi").as("dst"))
      .join(closing, Seq("src", "dst"))
      .select(col("lo"), col("src").as("h1"), col("dst").as("h2"))
    (und, oriented, corners)
  }

  def triangleCard(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val (und, oriented, corners) = triangleFrames(edges)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .select(col("src").as("id"), col("d"))
    val tri = corners.agg(count(lit(1)).as("n_tri"))
    val gcard = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum((d * (d - 1)) DIV 2) AS BIGINT)").as("n_wedges"))
    val ecard = und.agg(count(lit(1)).as("n_edges"))
    val fwd = oriented.groupBy(col("lo")).agg(count(lit(1)).as("f"))
      .agg(max(col("f")).as("max_fwd_deg"))
    val card = gcard.crossJoin(ecard).crossJoin(tri).crossJoin(fwd)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_tri"),
        expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST((3 * n_tri * 1000000) DIV n_wedges AS BIGINT) END")
          .as("ccoef_fp"),
        col("max_fwd_deg"))
      .localCheckpoint(true)
    oriented.unpersist(false)
    und.unpersist(false)
    card
  }

  /** Triangle card straight off the materialized edge index — the
    * rank-many consumer form. */
  def triangleCardFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String): DataFrame =
    triangleCard(spark.table(table))

  /** Build + triangle card in one call — the registered
    * `knn_triangle_card` query. */
  def knnTriangleCard(emb: DataFrame, table: String = "graft_knn_triangle",
                      k: Int = 5, probes: Int = 2): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    triangleCardFromIndex(emb.sparkSession, table)
  }

  /** PER-NODE triangle counts, top-k (r17b) — the local-density twin of
    * the global card: a node's triangle count is how clique-like its
    * neighborhood is, so the head of this list is where the heaviest
    * near-duplicate clusters LIVE (the global coefficient says they
    * exist; this says where). Each closed triangle credits all three
    * corners (one narrow explode of the corner frame), the per-node
    * regroup is node-sized, and the top-k rides orderBy+limit —
    * Spark's distributed TakeOrdered, never a global sort. Determinism:
    * ties break toward the smaller vec_id, in-plan. */
  def triangleTopK(edges: DataFrame, topK: Int = 20): DataFrame = {
    val (und, oriented, corners) = triangleFrames(edges)
    val perNode = corners
      .select(explode(array(col("lo"), col("h1"), col("h2"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
    val top = perNode.orderBy(col("n_tri").desc, col("vec_id")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tri").desc, col("vec_id"))
    val out = top.withColumn("rnk", row_number().over(w).cast("int"))
      .orderBy(col("rnk"))
      .localCheckpoint(true)
    oriented.unpersist(false)
    und.unpersist(false)
    out
  }

  /** Per-node triangle top-k straight off the materialized edge index. */
  def triangleTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, topK: Int = 20): DataFrame =
    triangleTopK(spark.table(table), topK)

  /** Build + per-node triangle top-k in one call — the registered
    * `knn_triangle_topk` query. */
  def knnTriangleTopK(emb: DataFrame, table: String = "graft_knn_triangle",
                      k: Int = 5, probes: Int = 2, topK: Int = 20): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    triangleTopKFromIndex(emb.sparkSession, table, topK)
  }

  /** Eager-unpersist of a superseded localCheckpoint: the iteration
    * discipline shared with [[Dedup.componentsOf]] — truncated lineage
    * cannot recompute, so ONLY frames nothing references anymore may
    * unpersist. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** SemDeDup NEIGHBORHOODS off the kNN graph — rank-many consumer #3
    * (r12): connected components over the cos ≥ tau sub-graph of the
    * materialized edge index, one representative (the component-minimum
    * id) kept per semantic-duplicate neighborhood. This is the SemDeDup
    * recipe re-based on the ANN graph: the candidate generator is the
    * bounded kNN relation (≤ 2·k·N edges by construction — never
    * all-pairs), the threshold reads the EXACT pair cosine the index
    * already carries (zero vector re-touch), and the closure is the
    * O(log n) star contraction [[Dedup.componentsOf]] runs everywhere
    * else. Vectors outside every neighborhood keep themselves
    * (singleton components via the left join-back).
    */
  def semDeDupFromIndex(spark: org.apache.spark.sql.SparkSession,
                        emb: DataFrame, table: String,
                        tau: Double): DataFrame = {
    val pairs = spark.table(table)
      .filter(col("cos") >= tau && col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    Dedup.componentsOf(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("component_id").as("rep_id"),
        (col("doc_id") === col("component_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Build + dedup in one call — the registered `knn_semdedup` query. */
  def knnSemDeDup(emb: DataFrame, table: String = "graft_knn_semdedup",
                  k: Int = 5, probes: Int = 2,
                  tau: Double = DefaultTau): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    semDeDupFromIndex(emb.sparkSession, emb, table, tau)
  }

  /** QUALITY-KEEP SemDeDup (r14) — the representative policy the
    * SemDeDup recipe actually wants in a training pipeline: per
    * semantic-duplicate neighborhood keep the HIGHEST-QUALITY document
    * (the shared fixed-weight text-quality score, ties toward the
    * smaller id), not the arbitrary min-id. Components come from the
    * same cos ≥ τ closure over the kNN index; the keeper pick is one
    * component-sized struct-min (the negation rides the QUALITY — a
    * positive double, exactly negatable — never the id) plus one
    * node-sized join-back. Engine-exact end to end (the quality chain
    * is the hash-gated pipeline_quality_topq arithmetic), so the whole
    * row oracle-gates; like `knn_semdedup`, the DuckDB reach-closure is
    * the gate at driver scales (quadratic in component size beyond).
    */
  def semDeDupQualityFromIndex(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, emb: DataFrame,
                               table: String, tau: Double): DataFrame = {
    val comp = semDeDupFromIndex(spark, emb, table, tau)
      .select(col("vec_id"), col("rep_id").as("comp_id"))
    val q = graft.operators.TextOps.quality(docs)
      .select(col("doc_id").as("vec_id"), col("quality"))
    // LEFT join: the keeper domain is the embedding corpus, exactly as
    // in min-id knn_semdedup — a vector without a documents row (the
    // vec_id == doc_id invariant is an expectation of the data model,
    // not a precondition) stays in the output and simply never wins
    // the keep (its negated quality coalesces to the worst sentinel;
    // an all-doc-less component degrades to the min-id pick). An inner
    // join here would silently shrink the output domain (r14 ADVICE).
    val best = comp.join(q, Seq("vec_id"), "left")
      .groupBy(col("comp_id"))
      .agg(min(struct(coalesce(-col("quality"), lit(Double.MaxValue)).as("nq"),
        col("vec_id").as("bid"))).as("b"))
      .select(col("comp_id"), col("b.bid").as("best_id"))
    comp.join(best, "comp_id")
      .select(col("vec_id"), col("best_id").as("rep_id"),
        (col("vec_id") === col("best_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Build + quality-keep dedup in one call — the registered
    * `knn_semdedup_quality` query. */
  def knnSemDeDupQuality(docs: DataFrame, emb: DataFrame,
                         table: String = "graft_knn_semdedup_q",
                         k: Int = 5, probes: Int = 2,
                         tau: Double = DefaultTau): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    semDeDupQualityFromIndex(emb.sparkSession, docs, emb, table, tau)
  }

  /** COMBINED CONSUMER CARD off ONE index build (r15, closing the r14
    * build-once/rank-many pricing candidate): pay the O(probes·N^1.5)
    * kNN build exactly once, then run the full consumer suite — graph
    * health (node/edge counts, max degree), the PageRank peak, the
    * iterated-Luby MIS size and convergence depth, and the SemDeDup
    * neighborhood census — against the same bucketed layout, emitting
    * ONE single-row card. This is the query shape a curation pipeline
    * actually runs (index once, read every signal), and registering it
    * makes the bench contract price the build-once marginal cost
    * directly (the per-consumer marginals against a prebuilt index are
    * recorded in tools/scale_curves_r14.jsonl and r15.jsonl: at sf1 the
    * one-call rows are ~80% build).
    *
    * Every column is an integer or a fixed-point BIGINT, so the whole
    * card hash-gates against the composed oracle (rank chain + MIS
    * unroll + recursive reach closure in one statement). The four
    * consumer frames each reduce to ≤ 1 row before the final
    * cross-join attachment — node-sized work never rides it.
    */
  def consumerCardFromIndex(spark: org.apache.spark.sql.SparkSession,
                            emb: DataFrame, table: String,
                            rounds: Int = DefaultPrRounds,
                            scale: Long = DefaultRankScale,
                            tau: Double = DefaultTau): DataFrame = {
    import spark.implicits._
    val e = spark.table(table).select(col("src"), col("dst")).persist()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the symmetrized list holds each undirected pair twice, so the
    // degree sum is even and DIV 2 is exact integer arithmetic
    val gcard = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum(deg) DIV 2 AS BIGINT)").as("n_edges"),
      max(col("deg")).as("max_deg"))
    // ONE rank chain feeds both the peak card and the MIS loop (the
    // standalone consumers each run their own — bit-identical, same
    // function on the same edges). The top-1 row must materialize
    // BEFORE misLoop consumes the checkpointed ranks (superseded
    // rounds unpersist eagerly and truncated lineage cannot
    // recompute) — it is ONE bounded row, the model-artifact collect.
    val ranks = pageRankAdjacency(e, rounds, scale, symmetric = true)
    val top = rankCard(ranks, topK = 1).head()
    val prtop = Seq((top.getLong(0), top.getLong(1)))
      .toDF("pr_top_id", "pr_top_rank")
    val mis = misLoop(e, ranks, MisMaxRounds)
      .agg(count(lit(1)).as("mis_selected"),
        max(col("sel_round")).as("mis_rounds"))
    val sd = semDeDupFromIndex(spark, emb, table, tau)
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("keep").cast("long")).as("sd_reps"))
    val card = gcard.crossJoin(prtop).crossJoin(mis).crossJoin(sd)
      .localCheckpoint(true)
    e.unpersist(false)
    card
  }

  /** Build + full consumer suite in one call — the registered
    * `knn_consumer_card` query. */
  def knnConsumerCard(emb: DataFrame, table: String = "graft_knn_card",
                      k: Int = 5, probes: Int = 2, rounds: Int = DefaultPrRounds,
                      scale: Long = DefaultRankScale,
                      tau: Double = DefaultTau): DataFrame = {
    writeKnnEdgeIndex(emb, table, k, probes)
    consumerCardFromIndex(emb.sparkSession, emb, table, rounds, scale, tau)
  }

  /** The top-k co-purchase-centrality card over the lineitem graph. */
  def partsPageRank(lineitem: DataFrame, rounds: Int = 5, k: Int = 20,
                    scale: Long = DefaultRankScale): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("r").desc, col("id"))
    // the node set is the part dimension, which is NOT bounded — it
    // scales linearly with the corpus (~200k·sf) — so the per-round rank
    // broadcast is N-adaptive: measured node count vs
    // BroadcastRanksMaxNodes, broadcast below (every gate scale:
    // identical plans, zero per-round edge exchanges), shuffle join
    // beyond (the 100-TB arm). The co-purchase graph is symmetrized by
    // construction, so the symmetric fast path applies (bit-identity of
    // all choices spec'd in GraphSpec).
    // r17 opt (guide §1.2): the co-purchase build (collect_set + pair
    // explode + global distinct) is the expensive frame and
    // pageRankAdjacency consumes its edge argument twice (degree
    // aggregate + adjacency build) — persist so it runs once. The
    // cache is the narrow symmetrized pair list (bounded by
    // 21·|orders| rows); ranks come back as an eager checkpoint, so
    // it frees before the card is read.
    val e = coPurchaseEdges(lineitem).persist()
    val ranks = pageRankAdjacency(e, rounds, scale,
      symmetric = true, broadcastMaxNodes = Some(BroadcastRanksMaxNodes))
    e.unpersist(false)
    ranks
      .orderBy(col("r").desc, col("id"))
      .limit(k)
      .select(col("id").as("part_id"), col("r").as("rank_fp"),
        row_number().over(w).as("rnk"))
  }
}
