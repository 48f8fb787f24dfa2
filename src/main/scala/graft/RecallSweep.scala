package graft

import org.apache.spark.sql.functions._

/** Dev tool (r14): recall-vs-refine evidence for the PQ shortlist knob.
  * The PQ rows rerank a k·refine shortlist exactly; refine=4 is the
  * serving default, and the open question (SURVEY §7 round-15 (b)) is
  * whether refine needs an N-adaptive ladder like nlist. This sweeps
  * refine ∈ {1,2,4,8,16} for both PQ serving rows (cosine IVF-PQ and
  * augmented-space MIPS-PQ) against their EXACT baselines and prints
  * recall@10 — the probed-bucket candidate set is the recall CEILING
  * (refine→∞ cannot beat the full-vector IVF row), so the sweep shows
  * where the shortlist knob saturates at each corpus size.
  *
  * Usage: runMain graft.RecallSweep <sfDir>
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the printed table
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val isQuery = col("vec_id") < 8
    val S = graft.operators.Similarity
    import S.PqIndex
    import graft.functions.Codebooks.PqBook
    val fittedNarrow = PqIndex.Fitted(PqBook.Narrow)
    val fittedWide = PqIndex.Fitted(PqBook.Wide)
    val exactCos = S.bruteForceTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").cache()
    val exactMips = S.mipsTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").cache()
    val nCos = exactCos.count().toDouble
    val nMips = exactMips.count().toDouble
    // the ceilings: the full-vector IVF rows (every probed candidate
    // reranked exactly — what refine->inf converges to)
    val ceilCos = S.ivfTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id")
      .intersect(exactCos).count() / nCos
    // the registered serving path since late r15 — rides the
    // nlist+probes ladder, so its ceiling is the one that must hold
    // (not sag) across decades; the fixed-64 arm stays printed as the
    // documented opposite trade (flat recall at linear candidate cost)
    val ceilCosSized = S.ivfTopKSized(emb, isQuery, k = 10)
      .select("query_id", "corpus_id")
      .intersect(exactCos).count() / nCos
    val ceilMips = S.mipsIvfTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id")
      .intersect(exactMips).count() / nMips
    // the LADDERED MIPS fit (r16): fitted books at sizedNlist — the
    // registered sim_topk_mips_ivf_fitted path
    val mipsFit = S.mipsIvfTopKFittedSized(emb, isQuery, k = 10)
      .select("query_id", "corpus_id")
      .intersect(exactMips).count() / nMips
    println(f"[recall-sweep] $sfDir ceilings: cosine-IVF(fixed64)=$ceilCos%.3f " +
      f"cosine-IVF(sized)=$ceilCosSized%.3f mips-IVF(sized)=$ceilMips%.3f " +
      f"mips-IVF(sized FITTED)=$mipsFit%.3f")
    for (refine <- Seq(1, 2, 4, 8, 16)) {
      val rc = S.ivfPqTopK(emb, isQuery, k = 10, refine = refine)
        .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
      val rm = S.mipsIvfPqTopK(emb, isQuery, k = 10, refine = refine)
        .select("query_id", "corpus_id").intersect(exactMips).count() / nMips
      println(f"[recall-sweep] refine=$refine%-2d cosine-IVF-PQ=$rc%.3f mips-IVF-PQ=$rm%.3f")
    }
    // the registered serving row (late r15): coarse books + probes +
    // refine all on the corpus ladders — finer buckets shrink the PQ
    // approximation's per-probe candidate pool, so this line is the
    // honest serving recall the fixed-64 sweep above understates
    val rServing = S.ivfPqTopKSized(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] cosine-IVF-PQ(sized, registered) recall=$rServing%.3f")
    // the FITTED residual book on the same ladder (r16, r15 VERDICT #1):
    // same coarse books / probes / shortlist — the delta vs the line
    // above is pure residual-book quality
    val rResFit = S.ivfPqTopKSized(emb, isQuery, k = 10, index = PqIndex.ResFit)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] cosine-IVF-PQ(sized, FITTED residual book) recall=$rResFit%.3f")
    // the FULLY-fitted ladder (r16): laddered coarse k-means + residual
    // fit against those fitted centroids — the arm the r16 measurement
    // says actually lifts serving recall (a fitted residual book against
    // the RANDOM ladder shrinks tail scores and ranks worse)
    val rFitSized = S.ivfPqTopKFittedSized(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] cosine-IVF-PQ(sized, FITTED coarse+residual) recall=$rFitSized%.3f")
    // the recall-target frontier (r16, r15 VERDICT #2): base probes 16
    // pins fraction 1/8 on the same ladder — recall vs DOUBLE the
    // candidates, the one-parameter cost/recall dial
    val hi = S.probesForRecall("high")
    val ceilCosHr = S.ivfTopKSized(emb, isQuery, k = 10, probes = hi)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    val rServingHr = S.ivfPqTopKSized(emb, isQuery, k = 10, probes = hi)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] recall-target=high (base 16, fraction 1/8): " +
      f"cosine-IVF ceiling=$ceilCosHr%.3f cosine-IVF-PQ=$rServingHr%.3f " +
      f"(vs standard $ceilCosSized%.3f / $rServing%.3f at half the candidates)")
    // r17 frontier arms (r16 VERDICT #1/#7): the two recall levers
    // COMPOSED (fitted books x high probes — the registered fitted_hr
    // row), the refine-boost dial on the fitted book, and the
    // wide-residual-book (K=64) pricing arm at both probe targets
    val rFitHr = S.ivfPqTopKFittedSized(emb, isQuery, k = 10, probes = hi)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] cosine-IVF-PQ(sized, FITTED x HIGH probes — fitted_hr) recall=$rFitHr%.3f")
    val rFitR2 = S.ivfPqTopKSized(emb, isQuery, k = 10, index = fittedNarrow, refineMul = 2)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    val rFitR4 = S.ivfPqTopKSized(emb, isQuery, k = 10, index = fittedNarrow, refineMul = 4)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] fitted refine-boost: x2=$rFitR2%.3f x4=$rFitR4%.3f (vs x1 $rFitSized%.3f)")
    val rFitW = S.ivfPqTopKSized(emb, isQuery, k = 10, index = fittedWide)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    val rFitWHr = S.ivfPqTopKSized(emb, isQuery, k = 10, probes = hi, index = fittedWide)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] fitted WIDE book (K=64): standard=$rFitW%.3f high=$rFitWHr%.3f")
    // the two WINNING levers composed (sf1 showed probes non-binding on
    // the PQ rows but refine and code width both binding)
    val rFitWR4 = S.ivfPqTopKSized(emb, isQuery, k = 10, index = fittedWide, refineMul = 4)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    val rFitWR4Hr = S.ivfPqTopKSized(emb, isQuery, k = 10, probes = hi,
      index = fittedWide, refineMul = 4)
      .select("query_id", "corpus_id").intersect(exactCos).count() / nCos
    println(f"[recall-sweep] fitted WIDE x refine4: standard=$rFitWR4%.3f high=$rFitWR4Hr%.3f")
    exactCos.unpersist(); exactMips.unpersist()
    spark.stop()
  }
}
