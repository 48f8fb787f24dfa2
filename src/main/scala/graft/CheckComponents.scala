package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1+/sf10 gate for the MinHash COMPONENT family (r13 — round-12
  * VERDICT #5, the [[CheckSemDedup]] pattern extended): the recursive
  * reach-closure oracles of `dedup_components` / `dedup_components_star`
  * / `pipeline_clean_corpus_cc` are quadratic in component size and OOM
  * DuckDB past the driver scales, so the big-scale gate recomputes the
  * labels with an exact driver-side union-find over the SAME banded
  * MinHash pair list the operators consumed and requires bit-equality:
  *
  *  1. `dedup_components_star` (the O(log n) star contraction — the
  *     100-TB form) label-equals the union-find on every doc;
  *  2. `dedup_components` (min-label propagation) label-equals it too —
  *     the two operators' provable equality is spec'd at toy scale, this
  *     pins it at sf scale;
  *  3. `pipeline_clean_corpus_cc` keeps EXACTLY the union-find component
  *     minima of the quality+exact-dedup survivor graph, with each
  *     keeper's quality copied verbatim.
  *
  * Collect sizes are count-guarded first (the CheckSemDedup r12-ADVICE
  * discipline): pair lists are banded-bounded, never all-pairs, but a
  * degenerate corpus must fail loudly, not die inside collect().
  *
  * Usage: runMain graft.CheckComponents <sfDir>
  */
object CheckComponents {
  private def unionFind(pairs: Array[(Long, Long)]): Long => Long = {
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
    find
  }

  private def guardedPairs(df: DataFrame, what: String, maxCollect: Long): Array[(Long, Long)] = {
    val n = df.count()
    println(s"[check-components] collecting $n $what pairs")
    require(n <= maxCollect,
      s"[check-components] $what pair count $n exceeds the driver cap " +
        s"$maxCollect — raise GRAFT_CHECK_MAX_ROWS only with the heap to match")
    df.collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val spark = GraftSession.local()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val kEst = graft.operators.Dedup.sizedEstK(docs.count())
    var bad = 0L
    def report(what: String, mismatches: Long, rows: Long): Unit = {
      println(s"[check-components] $sfDir $what: $rows rows, mismatches=$mismatches")
      bad += mismatches
    }

    // --- 1+2: both component operators vs union-find over the same pairs
    val pairs = guardedPairs(
      graft.operators.Dedup.minhashPairs(docs, 0.5, 4, kEst).select("doc_a", "doc_b"),
      "minhash", maxCollect)
    val find = unionFind(pairs)
    for ((name, out) <- Seq(
      "dedup_components_star" ->
        graft.operators.Dedup.componentsLogN(docs, 0.5, 4, kEst = kEst),
      "dedup_components" ->
        graft.operators.Dedup.components(docs, 0.5, 4, kEst = kEst))) {
      val labels = out.select("doc_id", "component_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      var m = 0L
      for ((id, comp) <- labels) if (comp != find(id)) {
        if (m < 5) System.err.println(
          s"[check-components] $name MISMATCH doc $id: got $comp, union-find ${find(id)}")
        m += 1
      }
      report(name, m, labels.length)
    }

    // --- 3: clean_corpus_cc keeps exactly the survivor-graph minima
    val afterExact = graft.operators.TextOps.qualityExactSurvivors(docs).persist()
    val spairs = guardedPairs(
      graft.operators.Dedup.minhashPairs(afterExact, 0.5, 4, kEst).select("doc_a", "doc_b"),
      "survivor minhash", maxCollect)
    val sfind = unionFind(spairs)
    val survivors = afterExact.select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    afterExact.unpersist(false)
    val expected = survivors.filter { case (id, _) => sfind(id) == id }.toMap
    val got = graft.operators.TextOps.cleanCorpusComponents(docs, kEst = kEst)
      .select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    var m3 = 0L
    for ((id, q) <- got) if (!expected.contains(id) || expected(id) != q) m3 += 1
    for (id <- expected.keys) if (!got.contains(id)) m3 += 1
    report("pipeline_clean_corpus_cc", m3, got.size.toLong)

    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
