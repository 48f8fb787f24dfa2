package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Scale-curve measurement for the dedup/ANN families (round-9 VERDICT
  * #1): per scale-factor directory, prints ONE JSON line with each
  * variant's candidate-pair count, verified-pair count, and wall time,
  * plus the components round counts — the numbers behind SURVEY §5's
  * extrapolation claims (prefix-filter crossover, band populations,
  * O(diameter) vs O(log n) rounds).
  *
  * Candidate counts run the OPERATORS' own candidate plans: thresholds
  * opened to their vacuous bound (tau=0 Jaccard / 60-bit Hamming /
  * cosine −1) turn the verify filter into a no-op without touching the
  * plan shape, and the prefix/minhash candidate frames are the exact
  * private[graft] frames the operators join on. Dev tool, not part of
  * the engine surface.
  *
  * Usage: runMain graft.ScaleCurves <sfDir> [label]
  */
object ScaleCurves {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    // 32 shuffle partitions on every box keeps new curves comparable
    // with the recorded tools/scale_curves_r*.jsonl
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text").cache()
    val emb = Tables.load(spark, dir, "embeddings").cache()
    val nDocs = docs.count()
    val nVecs = emb.count()
    val hashes = Dedup.shingleHashes(docs)
    val nShingles = hashes.agg(sum("n_sh")).collect()(0).getLong(0)

    def family(candidates: => Long, pairs: => Long): (Long, Long, Double, Double) = {
      val (c, tc) = timed(candidates)
      val (p, tp) = timed(pairs)
      (c, p, tc, tp)
    }

    // tau opened to the vacuous bound = the same plan minus the verify cut
    val (fullC, fullP, fullTc, fullTp) = family(
      Dedup.ngramJaccardPairs(docs, tau = 0.0).count(),
      Dedup.ngramJaccardPairs(docs).count())
    val prefixRows = Dedup.prefixIndex(hashes, 1, 2).count()
    val (preC, preP, preTc, preTp) = family(
      Dedup.selfJoinCandidates(Dedup.prefixIndex(hashes, 1, 2)).count(),
      Dedup.ngramJaccardPrefixPairs(docs).count())
    val (mhC, mhP, mhTc, mhTp) = family(
      Dedup.minhashCandidates(hashes, 4).count(),
      Dedup.minhashPairs(docs).count())
    // the sized plan (round-10): same banding, size + est pre-filters
    // with kEst = sizedEstK(n) — candidates the verify join actually pays
    val kEstSized = Dedup.sizedEstK(nDocs)
    val (mhsC, mhsP, mhsTc, mhsTp) = family(
      Dedup.minhashCandidatesSized(hashes, 4, 0.5, kEstSized).count(),
      Dedup.minhashPairs(docs, kEst = kEstSized).count())
    val (shC, shP, shTc, shTp) = family(
      Dedup.simhashPairs(docs, tau = Dedup.SimhashBits).count(),
      Dedup.simhashPairs(docs).count())
    val (embC, embP, embTc, embTp) = family(
      Similarity.embeddingPairs(emb, tau = -1.0).count(),
      Similarity.embeddingPairs(emb).count())
    // near-copy threshold: at the default tau the true pair set is
    // quadratic whenever the corpus has tight clusters (every same-cluster
    // pair IS a match); tau=0.9 isolates the planted near-copies and shows
    // the operator's output scaling with the match count, not N²
    val (emb9P, emb9Tp) = timed(Similarity.embeddingPairs(emb, tau = 0.9).count())

    // topic/events family (round-9 VERDICT #8): wall time of the four
    // stateful/join shapes at each scale — compaction (hash agg),
    // SCD2 (window over key history), as-of (union + window), banded
    // range join — through the exact registered query plans
    val nEvents = Tables.load(spark, dir, "events").count()
    val topicFamily = Seq("topic_compact", "topic_scd2", "events_asof",
      "events_range_join").map { name =>
      val (_, sec) = timed(
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save())
      name -> sec
    }

    val pairs = Dedup.minhashPairs(docs).select("doc_a", "doc_b").cache()
    val edgePairs = pairs.count()
    val (_, propSec) = timed(Dedup.propagateMinLabels(pairs).count())
    val propRounds = Dedup.lastRounds
    val (_, starSec) = timed(Dedup.starContract(pairs).count())
    val starRounds = Dedup.lastRounds
    pairs.unpersist()

    def fam(c: Long, p: Long, tc: Double, tp: Double): String =
      f"""{"cand":$c,"pairs":$p,"cand_sec":$tc%.2f,"pairs_sec":$tp%.2f}"""
    println(
      s"""{"label":"$label","n_docs":$nDocs,"n_vecs":$nVecs,"n_shingles":$nShingles,""" +
      s""""ngram_full":${fam(fullC, fullP, fullTc, fullTp)},""" +
      s""""ngram_prefix":${fam(preC, preP, preTc, preTp)},"prefix_index_rows":$prefixRows,""" +
      s""""minhash":${fam(mhC, mhP, mhTc, mhTp)},""" +
      s""""minhash_sized":${fam(mhsC, mhsP, mhsTc, mhsTp)},"k_est":$kEstSized,""" +
      s""""simhash":${fam(shC, shP, shTc, shTp)},""" +
      s""""embedding":${fam(embC, embP, embTc, embTp)},""" +
      f""""embedding_t90":{"pairs":$emb9P,"pairs_sec":$emb9Tp%.2f},""" +
      s""""n_events":$nEvents,"topic_family":{${topicFamily.map { case (n, sec) =>
        f""""$n":$sec%.2f""" }.mkString(",")}},""" +
      f""""components":{"edge_pairs":$edgePairs,"prop_rounds":$propRounds,"prop_sec":$propSec%.2f,"star_rounds":$starRounds,"star_sec":$starSec%.2f}}""")
    spark.stop()
  }
}
