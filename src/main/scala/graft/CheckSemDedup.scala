package graft

import org.apache.spark.sql.functions._

/** sf1+ gate for `knn_semdedup` (r12): the DuckDB oracle's recursive
  * reachability closure is quadratic in COMPONENT size, and at tau low
  * enough to admit whole semantic clusters (the ScaleGen label clusters
  * connect at cos ≈ 0.6–0.8) its working set OOMs DuckDB at sf1 — the
  * same closure-shape ceiling the r11 knn_pagerank oracle hit, but not
  * fixable by materialization because reach IS the quadratic object.
  * The driver scales (sf0.001/0.01/0.1) gate through DuckDB as usual;
  * this main is the big-scale twin: it recomputes the neighborhood
  * labels with an exact driver-side union-find over the SAME
  * tau-filtered index pairs the operator consumed (collected once —
  * pair count is bounded by the kNN relation, ≤ 2·k·N rows) and
  * requires bit-equality of every (vec_id, rep_id, keep) row. Exits
  * nonzero on the first mismatch.
  *
  * Usage: runMain graft.CheckSemDedup <sfDir> [tau]
  */
object CheckSemDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // shared assert-loud preflight (r16 VERDICT #5): stale scratch wipe
    // + disk headroom for the sf10 candidate-sort spill + heap echo
    GatePreflight.run(sfDir, main = "CheckSemDedup")
    val tau = if (args.length > 1) args(1).toDouble else 0.4
    val spark = GraftSession.local()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val outDf = graft.operators.Graph.knnSemDeDup(emb, "graft_knn_semdedup_check",
      tau = tau)
    val pairsDf = spark.table("graft_knn_semdedup_check")
      .filter(col("cos") >= tau && col("src") < col("dst"))
      .select(col("src"), col("dst"))
    // count-before-collect (r12 ADVICE): a low tau on a bigger corpus
    // can grow the tau-pair set past what the checker's driver heap
    // holds — degrade LOUDLY with the sizes in hand, never die inside
    // collect(). ~32 B/tuple: 10⁸ rows ≈ 3 GB, a safe single-box cap.
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val (nOut, nPairs) = (outDf.count(), pairsDf.count())
    println(s"[check-semdedup] collecting $nOut output rows + $nPairs tau-pairs")
    require(nOut <= maxCollect && nPairs <= maxCollect,
      s"[check-semdedup] collect sizes ($nOut rows, $nPairs pairs) exceed " +
        s"the driver cap $maxCollect — raise GRAFT_CHECK_MAX_ROWS only with " +
        "the heap to match")
    val out = outDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
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
    var bad = 0L
    for ((id, rep, keep) <- out) {
      if (rep != find(id) || keep != (id == rep)) {
        if (bad < 5) System.err.println(
          s"[check-semdedup] MISMATCH vec $id: got (rep=$rep, keep=$keep), " +
            s"union-find says rep=${find(id)}")
        bad += 1
      }
    }

    // --- r14: the QUALITY-KEEP variant over the SAME index (no
    // rebuild) — rep = argmax quality within the union-find component
    // (ties toward the smaller id), replayed from the shared
    // fixed-weight score collected once (node-sized).
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val qual = graft.operators.TextOps.quality(docs)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byComp = out.map(_._1).groupBy(find)
    // a vector without a documents row never wins the keep (the
    // operator's left-join sentinel) — mirror it instead of crashing
    val bestOf = byComp.view.mapValues(ids =>
      ids.minBy(id => (-qual.getOrElse(id, -Double.MaxValue), id))).toMap
    val qOut = graft.operators.Graph
      .semDeDupQualityFromIndex(spark, docs, emb, "graft_knn_semdedup_check", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    var qbad = 0L
    if (qOut.length != out.length) qbad += math.abs(qOut.length - out.length)
    for ((id, rep, keep) <- qOut) {
      val want = bestOf(find(id))
      if (rep != want || keep != (id == want)) {
        if (qbad < 5) System.err.println(
          s"[check-semdedup] QUALITY MISMATCH vec $id: got (rep=$rep, " +
            s"keep=$keep), replay says rep=$want")
        qbad += 1
      }
    }
    bad += qbad
    val nKeep = out.count(_._3)
    println(s"[check-semdedup] $sfDir tau=$tau: ${out.length} rows, " +
      s"$nKeep representatives, ${pairs.length} tau-pairs, " +
      s"quality rows ${qOut.length}, mismatches=$bad (quality=$qbad)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
