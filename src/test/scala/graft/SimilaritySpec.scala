package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Codebooks
import graft.functions.Codebooks.PqBook
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  private def emb = Tables.load(spark, sf, "embeddings")
  private val isQuery = col("vec_id") < 8

  test("knn self-join: no self pairs, per-query ranks sequential from 1 and capped at k, " +
      "every neighbor lives in one of the query's probed buckets") {
    val g = Similarity.knnJoinIvf(emb).cache()
    assert(g.count() > 0)
    assert(g.filter(col("query_id") === col("corpus_id")).count() === 0)
    val ranks = g.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min(col("rnk")).as("lo"), max(col("rnk")).as("hi"))
    assert(ranks.filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("n") > 5)
      .count() === 0, "ranks must be 1..n with n <= k")
    // membership: neighbor's home bucket ∈ the query's probe set
    val v = Similarity.vectors(emb)
    val home = v.select(col("vec_id").as("corpus_id"),
      expr("graft_ivf_bucket(e)").as("cb"))
    val probes = v.select(col("vec_id").as("query_id"),
      expr("graft_ivf_probes(e, 2)").as("pb"))
    val outside = g.join(home, "corpus_id").join(probes, "query_id")
      .filter(!array_contains(col("pb"), col("cb")))
    assert(outside.count() === 0, "a neighbor outside the probed buckets is a join bug")
    g.unpersist()
  }

  test("embedding card conserves the table, pins the dim, and norms the fused kernel computes") {
    import graft.operators.Similarity
    val card = Similarity.embeddingStats(emb).cache()
    assert(card.agg(sum("n_vecs")).collect()(0).getLong(0) === emb.count())
    // a ragged dim column would break every fused kernel — the card is
    // where that surfaces first
    assert(card.filter(col("min_dim") =!= col("max_dim")).count() === 0)
    assert(card.filter(col("min_norm") < 0 || col("max_norm") < col("min_norm"))
      .count() === 0)
    assert(card.filter(col("n_zero") =!= 0L).count() === 0,
      "fixture has no zero vectors; a nonzero count here is a kernel bug")
    card.unpersist()
  }

  test("brute-force top-k returns exactly k ranked neighbors per query, cosine in [-1,1]") {
    val out = Similarity.bruteForceTopK(emb, isQuery, k = 10).cache()
    val perQuery = out.groupBy("query_id").count()
    assert(perQuery.filter(col("count") =!= 10).count() === 0)
    assert(out.filter(col("cos") < -1.0 || col("cos") > 1.0).count() === 0)
    assert(out.filter(col("query_id") === col("corpus_id")).count() === 0)
    out.unpersist()
  }

  test("MIPS top-k: magnitude-aware ranking — ip = cos·‖q‖·‖c‖ exactly, and the " +
      "ordering genuinely differs from cosine's somewhere") {
    val mips = Similarity.mipsTopK(emb, isQuery, k = 10).cache()
    assert(mips.groupBy("query_id").count().filter(col("count") =!= 10).count() === 0)
    assert(mips.filter(col("query_id") === col("corpus_id")).count() === 0)
    // consistency with the cosine scorer: ip ≈ cos·nq·nc (same graft_dot
    // fold — only the normalization differs; the divide-then-multiply
    // round trip costs a few ulps, so the bound is relative)
    val v = Similarity.vectors(emb)
    val joined = mips
      .join(v.select(col("vec_id").as("query_id"), col("nrm").as("nq")), "query_id")
      .join(v.select(col("vec_id").as("corpus_id"), col("nrm").as("nc")), "corpus_id")
      .join(Similarity.bruteForceTopK(emb, isQuery, k = 1000)
        .select(col("query_id"), col("corpus_id"), col("cos")),
        Seq("query_id", "corpus_id"))
    assert(joined.filter(
      abs(col("ip") - col("cos") * col("nq") * col("nc")) >
        lit(1e-9) * abs(col("ip"))).count() === 0)
    mips.unpersist()
    // the distinguishing property: cosine is SCALE-INVARIANT, MIPS is
    // not — blow one corpus vector up ×10⁴ and it becomes every query's
    // MIPS top-1 while the cosine ranking does not move at all
    val boosted = 42L
    val emb2 = emb.withColumn("embedding",
      when(col("vec_id") === boosted,
        transform(col("embedding"), x => x * lit(10000.0f)))
        .otherwise(col("embedding")))
    // (the boost amplifies NEGATIVE dots too — the boosted vector must win
    // exactly the queries it points the same way as)
    val likers = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .filter(col("corpus_id") === boosted && col("cos") > 0)
      .select("query_id")
    assert(likers.count() > 0, "fixture: someone must like vector 42")
    val mipsTop1 = Similarity.mipsTopK(emb2, isQuery, k = 1)
    assert(mipsTop1.join(likers, "query_id")
      .filter(col("corpus_id") =!= boosted).count() === 0,
      "the boosted vector must win every positively-aligned query under MIPS")
    val cosBefore = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id", "rnk")
    val cosAfter = Similarity.bruteForceTopK(emb2, isQuery, k = 10)
      .select("query_id", "corpus_id", "rnk")
    assert(cosAfter.exceptAll(cosBefore).count() === 0 &&
      cosBefore.exceptAll(cosAfter).count() === 0,
      "cosine must not move under a pure magnitude change")
  }

  test("MIPS-IVF: hits carry the exact raw inner product (bit-equal to the " +
      "exact MIPS baseline on shared pairs) and recall vs exact MIPS is " +
      "nontrivial and reported — the norm-augmentation reduction works") {
    val mips = Similarity.mipsTopK(emb, isQuery, k = 10).cache()
    val ivf = Similarity.mipsIvfTopK(emb, isQuery, k = 10).cache()
    assert(ivf.filter(col("query_id") === col("corpus_id")).count() === 0)
    // every per-query rank list is sequential from 1 (≤ k rows — probed
    // buckets can under-fill a query at toy scale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rnk"))
    assert(ivf.withColumn("expect", row_number().over(w))
      .filter(col("rnk") =!= col("expect")).count() === 0)
    // candidates are scored by the IDENTICAL raw-dot arithmetic as the
    // exact baseline: shared (query, corpus) pairs agree bit-for-bit
    val shared = ivf.join(
      mips.select(col("query_id"), col("corpus_id"), col("ip").as("ip_exact")),
      Seq("query_id", "corpus_id"))
    assert(shared.filter(col("ip") =!= col("ip_exact")).count() === 0,
      "MIPS-IVF hits must score the exact inner product")
    val hit = ivf.select("query_id", "corpus_id")
      .intersect(mips.select("query_id", "corpus_id")).count().toDouble
    val recall = hit / mips.count()
    info(f"MIPS-IVF (64 augmented centroids, 8 probes) top-10 recall vs exact MIPS: $recall%.2f")
    assert(recall > 0.05)
    mips.unpersist(); ivf.unpersist()
  }

  test("MIPS-IVF nlist ladder: the sized serving path keeps the bit-frozen " +
      "small codebook at gate scales, big codebooks come whole from the " +
      "fresh LCG region, and a big-codebook index still scores exact IPs") {
    import graft.functions.Codebooks
    // identity at every gate scale: ≤4096 vectors serve the frozen book
    assert(Similarity.sizedNlist(emb.count()) === Codebooks.NCentroids)
    assert(Codebooks.mipsCentroidsFor(Codebooks.NCentroids).map(_.toSeq).toSeq ===
      Codebooks.mipsCentroidsArr.map(_.toSeq).toSeq,
      "the n=64 ladder step must be the bit-frozen serving codebook")
    // raw generator positions of the big region start past every other
    // region's end (cosine big books stop at 12048*64)
    assert(Codebooks.MipsBigRowBase * (Codebooks.Dim + 1) > 12048 * Codebooks.Dim)
    // a big-codebook index at toy scale: same exact-ip arithmetic, only
    // recall moves (finer buckets admit fewer candidates per probe)
    val mips = Similarity.mipsTopK(emb, isQuery, k = 10).cache()
    val big = Similarity.mipsIvfTopKNlist(emb, isQuery, k = 10, nlist = 128).cache()
    val shared = big.join(
      mips.select(col("query_id"), col("corpus_id"), col("ip").as("ip_exact")),
      Seq("query_id", "corpus_id"))
    assert(shared.filter(col("ip") =!= col("ip_exact")).count() === 0,
      "big-codebook MIPS-IVF hits must score the exact inner product")
    val hit = big.select("query_id", "corpus_id")
      .intersect(mips.select("query_id", "corpus_id")).count().toDouble
    val recall = hit / mips.count()
    info(f"MIPS-IVF (128 augmented centroids, 8 probes) top-10 recall vs exact MIPS: $recall%.2f")
    assert(recall > 0.02)
    mips.unpersist(); big.unpersist()
  }

  test("fitted MIPS-IVF: the augmented-space fp k-means is deterministic, " +
      "fitted hits score the exact raw inner product, and recall vs exact " +
      "MIPS is measured against the formula book") {
    import graft.functions.Codebooks
    // the fit is the integer recurrence — bit-identical across runs
    val mx = Similarity.vectors(emb).filter(!isQuery).agg(max(col("nrm"))).head().getDouble(0)
    val fm = Similarity.sizedKmFitModulus(emb.count())
    val fit1 = Similarity.fitMipsCentroids(emb, isQuery, Codebooks.NCentroids, 3, fm, mx)
    val fit2 = Similarity.fitMipsCentroids(emb, isQuery, Codebooks.NCentroids, 3, fm, mx)
    assert(fit1.map(_.toSeq).toSeq === fit2.map(_.toSeq).toSeq)
    assert(fit1.length === Codebooks.NCentroids &&
      fit1.forall(_.length === Codebooks.Dim + 1))
    val mips = Similarity.mipsTopK(emb, isQuery, k = 10).cache()
    val fitted = Similarity.mipsIvfTopKFitted(emb, isQuery, k = 10).cache()
    // every fitted hit carries the exact raw dot (the rerank arithmetic
    // is the exact baseline's)
    val shared = fitted.join(
      mips.select(col("query_id"), col("corpus_id"), col("ip").as("ip_exact")),
      Seq("query_id", "corpus_id"))
    assert(shared.filter(col("ip") =!= col("ip_exact")).count() === 0)
    val n = mips.count().toDouble
    val rFit = fitted.select("query_id", "corpus_id")
      .intersect(mips.select("query_id", "corpus_id")).count() / n
    val formula = Similarity.mipsIvfTopK(emb, isQuery, k = 10)
    val rFormula = formula.select("query_id", "corpus_id")
      .intersect(mips.select("query_id", "corpus_id")).count() / n
    info(f"fitted MIPS-IVF recall@10 vs exact: $rFit%.3f (formula book: $rFormula%.3f)")
    assert(rFit > 0.02)
    mips.unpersist(); fitted.unpersist()
  }

  test("pq-code dedup: every non-zero vector grouped exactly once, keep = " +
      "min-id per (bucket, codes) group, counts conserve, and a planted " +
      "exact-duplicate embedding collides into one group") {
    val base = Similarity.pqCodeDedup(emb).cache()
    val nNonZero = Similarity.vectors(emb).filter(col("nrm") > 0).count()
    assert(base.count() === nNonZero, "one row per non-zero vector")
    assert(base.select("vec_id").distinct().count() === nNonZero)
    // group arithmetic: n_same rows share each (rep_id, codes_str) and
    // the keeper is the group min
    val byGroup = base.groupBy("bucket", "codes_str")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("lo"),
        first(col("n_same")).as("ns"), first(col("rep_id")).as("rep"))
    assert(byGroup.filter(col("n") =!= col("ns") || col("lo") =!= col("rep"))
      .count() === 0)
    assert(base.filter(col("keep") =!= (col("vec_id") === col("rep_id")))
      .count() === 0)
    // a byte-identical embedding MUST collide (same direction → same
    // bucket, same residual → same codes)
    import spark.implicits._
    val dup = emb.filter(col("vec_id") === 10L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val planted = Similarity.pqCodeDedup(emb.select(col("vec_id"), col("embedding"))
      .union(dup))
    val pair = planted.filter(col("vec_id").isin(10L, 900000L))
      .select("rep_id", "n_same").collect()
    assert(pair.length === 2 && pair.forall(_.getLong(0) == 10L) &&
      pair.forall(_.getLong(1) >= 2L),
      "an exact duplicate must land in vec 10's code group")
    base.unpersist()
  }

  test("PQ-compact MIPS: hits carry the exact raw inner product, the " +
      "shortlist rerank respects k, and recall vs exact MIPS is nontrivial " +
      "— the codes-resident serving form of the reduction works") {
    val mips = Similarity.mipsTopK(emb, isQuery, k = 10).cache()
    val pq = Similarity.mipsIvfPqTopK(emb, isQuery, k = 10).cache()
    assert(pq.filter(col("query_id") === col("corpus_id")).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rnk"))
    assert(pq.withColumn("expect", row_number().over(w))
      .filter(col("rnk") =!= col("expect")).count() === 0)
    // the exact rerank scores the IDENTICAL raw-dot arithmetic
    val shared = pq.join(
      mips.select(col("query_id"), col("corpus_id"), col("ip").as("ip_exact")),
      Seq("query_id", "corpus_id"))
    assert(shared.filter(col("ip") =!= col("ip_exact")).count() === 0,
      "PQ-MIPS hits must score the exact inner product")
    val hit = pq.select("query_id", "corpus_id")
      .intersect(mips.select("query_id", "corpus_id")).count().toDouble
    val recall = hit / mips.count()
    info(f"MIPS-IVF-PQ (64 buckets, 5x13 PQ, 8 probes, refine 4) top-10 recall vs exact MIPS: $recall%.2f")
    assert(recall > 0.05)
    // the PQ shortlist is a subset of the full-vector MIPS-IVF candidate
    // universe's buckets — same probes, same coarse book; recall can only
    // come from probed buckets (structural sanity: every hit shares a
    // bucket with its query in the augmented space)
    mips.unpersist(); pq.unpersist()
  }

  test("sized PQ refine: identity 4 at every driver-gate scale, doubling " +
      "per nlist-ladder step, and a wider shortlist is a superset-quality " +
      "rerank (recall can only rise — the RecallSweep evidence)") {
    assert(Similarity.sizedRefine(500) === 4)
    assert(Similarity.sizedRefine(4096) === 4)
    assert(Similarity.sizedRefine(20000) === 8)
    assert(Similarity.sizedRefine(65536) === 8)
    assert(Similarity.sizedRefine(1000000) === 16)
    assert(Similarity.sizedRefine(10000000) === 32)
    // at test scale the Sized rows are bit-identical to the fixed-4 form
    val fixedPq = Similarity.ivfPqTopK(emb, isQuery, k = 10, refine = 4)
    val sizedPq = Similarity.ivfPqTopKSized(emb, isQuery, k = 10)
    assert(sizedPq.exceptAll(fixedPq).count() === 0 &&
      fixedPq.exceptAll(sizedPq).count() === 0)
    val fixedMips = Similarity.mipsIvfPqTopK(emb, isQuery, k = 10, refine = 4)
    val sizedMips = Similarity.mipsIvfPqTopKSized(emb, isQuery, k = 10)
    assert(sizedMips.exceptAll(fixedMips).count() === 0 &&
      fixedMips.exceptAll(sizedMips).count() === 0)
  }

  test("LSH top-k scores candidates identically to brute force (only recall differs)") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val lsh = Similarity.lshTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    // every LSH hit exists in the exhaustive scoring with the same cosine
    assert(lsh.except(bf).count() === 0)
  }

  test("LSH top-10 recall vs brute-force top-10 is nontrivial and reported") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val lsh = Similarity.lshTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val hit = lsh.intersect(bf).count().toDouble
    val recall = hit / bf.count()
    info(f"sign-LSH (16 bands x 8 planes) top-10 recall vs brute force: $recall%.2f")
    assert(recall > 0.05) // random-vector corpus: buckets are near-uniform
    bf.unpersist(); lsh.unpersist()
  }

  test("IVF top-k hits score identically to brute force; recall reported") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val ivf = Similarity.ivfTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id"), col("cos")).cache()
    assert(ivf.except(bf).count() === 0)
    val bf10 = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val recall = ivf.select("query_id", "corpus_id").intersect(bf10).count().toDouble / bf10.count()
    info(f"IVF (64 centroids, 8 probes) top-10 recall vs brute force: $recall%.2f")
    assert(recall > 0.05)
    bf10.unpersist(); ivf.unpersist()
  }

  test("cosine IVF nlist ladder: the sized serving path is the fixed-book " +
      "plan at gate scales, a forced 128-book index still scores exact " +
      "cosines, and its hits stay inside brute force") {
    // identity at every gate scale: the sized path IS ivfTopK bit-for-bit
    assert(Similarity.sizedNlist(emb.count()) === graft.functions.Codebooks.NCentroids)
    val sized = Similarity.ivfTopKSized(emb, isQuery, k = 10)
    val fixed = Similarity.ivfTopK(emb, isQuery, k = 10)
    assert(sized.exceptAll(fixed).isEmpty && fixed.exceptAll(sized).isEmpty,
      "sized serving must equal the fixed-book plan below the ladder step")
    // a big-codebook index at toy scale: same exact-cosine arithmetic,
    // only recall moves (finer buckets admit fewer candidates per probe)
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val big = Similarity.ivfTopK(emb, isQuery, k = 10, nlist = 128)
      .select(col("query_id"), col("corpus_id"), col("cos")).cache()
    assert(big.except(bf).count() === 0,
      "big-codebook IVF hits must score the exact cosine")
    val bf10 = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val recall = big.select("query_id", "corpus_id")
      .intersect(bf10).count().toDouble / bf10.count()
    info(f"IVF (128 centroids, 8 probes) top-10 recall vs brute force: $recall%.2f")
    assert(recall > 0.02)
    bf10.unpersist(); big.unpersist()
  }

  test("cosine IVF-PQ nlist ladder: the sized serving path is the fixed-book " +
      "plan at gate scales, and a forced 128-book compact index still " +
      "reranks its shortlist to exact cosines inside brute force") {
    val sized = Similarity.ivfPqTopKSized(emb, isQuery, k = 10)
    val fixed = Similarity.ivfPqTopK(emb, isQuery, k = 10,
      refine = Similarity.sizedRefine(emb.count()))
    assert(sized.exceptAll(fixed).isEmpty && fixed.exceptAll(sized).isEmpty,
      "sized PQ serving must equal the fixed-book plan below the ladder step")
    // the big coarse book swaps ONLY the coarse references; the shared
    // residual PQ book quantizes against the new centroids and the
    // final rerank is still the exact cosine
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val big = Similarity.ivfPqTopKNlist(emb, isQuery, k = 10, nlist = 128,
      refine = 4)
      .select(col("query_id"), col("corpus_id"), col("cos")).cache()
    assert(big.except(bf).count() === 0,
      "big-codebook PQ hits must rerank to the exact cosine")
    assert(big.groupBy("query_id").count()
      .filter(col("count") > 10).count() === 0)
    big.unpersist()
  }

  test("k-means IVF: fitted codebook beats the LCG codebook at the default probes; sweep reported") {
    val bf10 = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val n = bf10.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "corpus_id").intersect(bf10).count() / n
    val lcg8 = recallOf(Similarity.ivfTopK(emb, isQuery, k = 10, probes = 8))
    val km8 = recallOf(Similarity.ivfTopKFitted(emb, isQuery, k = 10, probes = 8))
    val km48 = recallOf(Similarity.ivfTopKFitted(emb, isQuery, k = 10, probes = 48))
    info(f"recall@10: lcg/8probe=$lcg8%.3f kmeans/8probe=$km8%.3f kmeans/48probe=$km48%.3f")
    // the corpus is isotropic (no cluster structure), so recall at the
    // default 8/64 probes is moderate by design (measured: lcg 0.30,
    // kmeans 0.45 at sf0.001); the fitted codebook must still dominate
    // the arbitrary LCG codebook, and a 48/64-probe scan must be
    // near-exhaustive (measured 0.975)
    assert(km8 >= lcg8, s"fitted codebook ($km8) must beat LCG ($lcg8) at 8 probes")
    assert(km48 >= 0.9, s"48-probe recall should be near-exhaustive, got $km48")
    bf10.unpersist()
  }

  test("deterministic fit sample: modulus path == explicit-subset path; identity at gate scale") {
    import Similarity.{fitCentroidsWithModulus, sizedKmFitModulus, KmFitCap}
    // the ladder is identity through sf1 (n <= KmFitCap)
    assert(sizedKmFitModulus(500L) === 1L)
    assert(sizedKmFitModulus(KmFitCap) === 1L)
    assert(sizedKmFitModulus(200000L) === 4L)
    // m = 1 is bit-identical to the unsampled fit (the gate-scale claim)
    val full = Similarity.fitCentroids(emb, k = 16, iters = 2)
    val m1 = fitCentroidsWithModulus(emb, k = 16, iters = 2, m = 1L)
    assert(full.map(_.toSeq).toSeq === m1.map(_.toSeq).toSeq)
    // forcing m = 4 at driver scale must equal fitting the EXPLICITLY
    // pre-filtered subset (the predicate is the only sampling mechanism
    // — mirrors the oracle's kfsizing/vfit CTE pair)
    val m4 = fitCentroidsWithModulus(emb, k = 16, iters = 2, m = 4L)
    val subset = emb.filter(
      (((col("vec_id") % 2147483647L) * 48271L) % 2147483647L) % 4L === 0L)
    val nSub = subset.count()
    info(s"m=4 sample keeps $nSub of ${emb.count()} vectors")
    assert(nSub > 0 && nSub < emb.count())
    val explicit = fitCentroidsWithModulus(subset, k = 16, iters = 2, m = 1L)
    assert(m4.map(_.toSeq).toSeq === explicit.map(_.toSeq).toSeq)
    // a sampled fit still yields a full-shape book (empty clusters keep
    // their seed row — the book never shrinks under sampling)
    assert(m4.length === 16 && m4.forall(_.length === Similarity.Dim))
  }

  test("r18 driver-local fit loop == distributed fit loop bit-for-bit (cosine AND " +
      "augmented-MIPS shapes) — the fitLocal/fitDistributed pin for the k-means fit") {
    import graft.functions.Codebooks
    graft.functions.NativeHash.register(spark)
    val v = Similarity.vectors(emb)
      .withColumn("xh", expr("graft_fp_unit(e)"))
      .filter(col("xh").isNotNull)
      .select(col("xh"))
    val local = Similarity.fitLoopLocal(v, Codebooks.fpCentroidsFor(16),
      Similarity.Dim, 3)
    val dist = Similarity.fitLoopDistributed(emb, v.persist(),
      Codebooks.fpCentroidsFor(16), Similarity.Dim, 3, "graft_spec_fit_assign")
    v.unpersist()
    assert(local.map(_.toSeq).toSeq === dist.map(_.toSeq).toSeq,
      "driver-local k-means rounds must replay the distributed arithmetic exactly")
    // the non-trivial-dimension twin (Dim+1 exercises the dim plumbing)
    val m = Similarity.vectors(emb).filter(col("vec_id") % 100 =!= 0)
      .agg(max(col("nrm"))).head().getDouble(0)
    val va = Similarity.vectors(emb)
      .withColumn("ea",
        when(col("vec_id") % 100 === 0, concat(col("e"), array(lit(0.0))))
          .otherwise(concat(col("e"),
            array(sqrt(lit(m) * lit(m) - col("nrm") * col("nrm"))))))
      .withColumn("xh", expr("graft_fp_unit(ea)"))
      .filter(col("xh").isNotNull)
      .select(col("xh"))
    val localA = Similarity.fitLoopLocal(va, Codebooks.fpMipsCentroidsFor(16),
      Similarity.Dim + 1, 2)
    val distA = Similarity.fitLoopDistributed(emb, va.persist(),
      Codebooks.fpMipsCentroidsFor(16), Similarity.Dim + 1, 2,
      "graft_spec_mips_fit_assign")
    va.unpersist()
    assert(localA.map(_.toSeq).toSeq === distA.map(_.toSeq).toSeq)
  }

  test("driver-local fit loop fails loudly: a worker's kernel throw fails the fit, " +
      "and a fit row of the wrong width is rejected before any worker runs") {
    import graft.functions.Codebooks
    graft.functions.NativeHash.register(spark)
    val v = Similarity.vectors(emb)
      .withColumn("xh", expr("graft_fp_unit(e)"))
      .filter(col("xh").isNotNull)
      .select(col("xh"))
    // one seed row one component short: the assignment kernel throws on
    // the first row inside a worker thread; the fit must rethrow it
    // rather than merge the worker's partial sums
    val seeds = Codebooks.fpCentroidsFor(16)
    seeds(3) = seeds(3).init
    val e = intercept[IllegalArgumentException] {
      Similarity.fitLoopLocal(v, seeds, Similarity.Dim, 2)
    }
    assert(e.getMessage.contains("codebook expects"), e.getMessage)
    // rows of the wrong width never reach a worker
    val w = intercept[IllegalArgumentException] {
      Similarity.fitLoopLocal(v, Codebooks.fpMipsCentroidsFor(16), Similarity.Dim + 1, 2)
    }
    assert(w.getMessage.contains(s"expected ${Similarity.Dim + 1}"), w.getMessage)
  }

  test("register-blocked centroid cosines are bit-identical to the one-centroid " +
      "fold: k in {1,3,4,5,64,128,130}, boxed and unsafe rows, signed zeros, NaN, " +
      "a null element; the dimension-mismatch message is unchanged") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
    import graft.functions.VectorNativeImpl
    val dim = Similarity.Dim
    // the sequential reference: one index-order fold per centroid
    def reference(e: ArrayData, cents: Array[Array[Double]], cnorms: Array[Double]) = {
      var s2 = 0.0
      for (i <- 0 until e.numElements()) s2 += e.getDouble(i) * e.getDouble(i)
      val nrm = math.sqrt(s2)
      cents.indices.map { c =>
        var s = 0.0
        for (i <- 0 until e.numElements()) s += e.getDouble(i) * cents(c)(i)
        s / (nrm * cnorms(c))
      }
    }
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val toUnsafe = UnsafeProjection.create(Array[DataType](ArrayType(DoubleType, true)))
    def unsafe(a: GenericArrayData): ArrayData =
      toUnsafe(InternalRow(a)).getArray(0).copy()
    val rnd = new scala.util.Random(7)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian())
    val rows: Seq[Array[Any]] = Seq(
      gauss(dim).map(x => x: Any),
      // signed zeros in the vector: -0.0 products and sums
      gauss(dim).zipWithIndex.map { case (x, i) =>
        (if (i % 3 == 0) -0.0 else if (i % 3 == 1) 0.0 else x): Any },
      Array.fill[Any](dim)(-0.0),
      Array.fill[Any](dim)(0.0),
      gauss(dim).updated(17, Double.NaN).map(x => x: Any),
      gauss(dim).map(x => x: Any).updated(5, null))
    for (k <- Seq(1, 3, 4, 5, 64, 128, 130)) {
      val cents = Array.tabulate(k)(c =>
        if (c % 7 == 3) Array.tabulate(dim)(i => if (i % 2 == 0) -0.0 else 0.0)
        else gauss(dim))
      val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      for (r <- rows; e <- Seq(new GenericArrayData(r), unsafe(new GenericArrayData(r)))) {
        val want = reference(e, cents, cnorms)
        val got = VectorNativeImpl.centroidCos(e, cents, cnorms).toSeq
        assert(bits(got) === bits(want), s"k=$k ${e.getClass.getSimpleName}")
        // the argmax the bucket kernel takes from them
        assert(VectorNativeImpl.ivfBucket(e, cents, cnorms) ===
          VectorNativeImpl.ivfBucket(UnsafeArrayData.fromPrimitiveArray(
            (0 until dim).map(e.getDouble).toArray), cents, cnorms))
      }
    }
    // a short vector, and a ragged codebook whose 6th row is short: the
    // message names the first mismatched row, as the sequential loop did
    val cents8 = Array.fill(8)(gauss(dim))
    val short = intercept[IllegalArgumentException] {
      VectorNativeImpl.centroidCos(new GenericArrayData(gauss(dim - 1)), cents8, Array.fill(8)(1.0))
    }
    assert(short.getMessage ===
      s"graft codebook kernel: embedding has ${dim - 1} dims, codebook expects $dim")
    val ragged = cents8.clone()
    ragged(5) = gauss(dim - 2)
    ragged(6) = gauss(dim + 1)
    val bad = intercept[IllegalArgumentException] {
      VectorNativeImpl.centroidCos(new GenericArrayData(gauss(dim)), ragged, Array.fill(8)(1.0))
    }
    assert(bad.getMessage ===
      s"graft codebook kernel: embedding has $dim dims, codebook expects ${dim - 2}")
  }

  test("fused index fit == fitCentroidsWithModulus + a residual book fitted on a " +
      "Spark-side sample, at m = 1 (PQ samples from the k-means rows) and at a " +
      "forced m = 4 (own collects)") {
    import Similarity.fitCentroidsWithModulus
    // six rescaled copies with interleaved ids, so the narrow book's
    // 2048-row sample is a strict prefix by vec_id; plus a null id (sorts
    // first) and a zero vector at the smallest id (no x̂, never sampled)
    val copies = (0 until 6).map(j => emb
      .withColumn("vec_id", col("vec_id") * 6 + j)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0 + 0.01 * j))))
    val big = copies.reduce(_ unionByName _)
      .unionByName(emb.limit(1).withColumn("vec_id", lit(null).cast("long")))
      .unionByName(emb.limit(1).withColumn("vec_id", lit(-5L))
        .withColumn("embedding", transform(col("embedding"), x => x * lit(0.0))))
      .cache()
    assert(big.count() > PqBook.Narrow.fitSample)
    val books = Seq(PqBook.Narrow, PqBook.M16)
    for (m <- Seq(1L, 4L)) {
      val (cents, cnorms, pqs) = Similarity.fitIndex(big, 16, m, books)
      val refCents = fitCentroidsWithModulus(big, 16, 3, m)
      assert(cents.map(_.toSeq).toSeq === refCents.map(_.toSeq).toSeq, s"m=$m coarse book")
      assert(cnorms.toSeq === refCents.map(c => math.sqrt(c.map(x => x * x).sum)).toSeq)
      // the reference PQ sample is taken on the executors, independent of
      // the driver-side sample and bucket assignment: the fitted coarse
      // argmax as a Spark column over the x̂-non-null rows, first by vec_id
      val bucketFn = s"spec_fused_fit_bucket_$m"
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(bucketFn,
        exprs => graft.functions.IvfBucket(exprs.head, refCents, cnorms), "built-in")
      for ((book, pq) <- books.zip(pqs)) {
        val sample = Similarity.vectors(big)
          .withColumn("xh", expr("graft_fp_unit(e)"))
          .filter(col("xh").isNotNull)
          .select(col("vec_id"), col("xh"), call_function(bucketFn, col("e")).as("b"))
          .orderBy(col("vec_id")).limit(book.fitSample)
          .collect()
          .map(r => (r.getSeq[Double](1).toArray, r.getInt(2) - 1))
        // every row but the zero vector has an x̂
        assert(sample.length === math.min(book.fitSample.toLong, big.count() - 1))
        def flat(b: Array[Array[Array[Double]]]) = b.map(_.map(_.toSeq).toSeq).toSeq
        val ref = flat(Similarity.fitPqSample(sample, refCents, book, 5))
        val fused = flat(pq) == ref
        assert(fused, s"m=$m ${book.label}: fitIndex's residual book differs from the Spark-side sample's")
        val pub = flat(Similarity.fitPqCodebooks(big, refCents, cnorms, book = book)) == ref
        assert(pub, s"m=$m ${book.label}: fitPqCodebooks' residual book differs from the Spark-side sample's")
      }
    }
    big.unpersist()
  }

  test("LCG seed-region ledger: every PQ book's raw generator positions are " +
      "disjoint from the other books, the reserved 16x16 region, the planes, " +
      "the coarse regions and the stride-65 MIPS regions") {
    import graft.functions.Codebooks
    val dim = Codebooks.Dim.toLong
    // raw positions row*stride + d — the products both engines feed the
    // LCG, never the row ids (regions of different strides can collide
    // in position while their row ids look disjoint)
    def rows(from: Long, until: Long, stride: Long, width: Long): Set[Long] =
      (for (r <- from until until; d <- 0L until width) yield r * stride + d).toSet
    def bookPositions(b: PqBook): Set[Long] =
      (for (m <- 0 until b.m; k <- 0 until b.k; d <- 0 until b.sub)
        yield b.seedPosition(m, k, d)).toSet
    val fixed = Map(
      "planes" -> rows(0, Codebooks.NPlanes, dim, dim),
      "coarse" -> rows(200, 400, dim, dim),
      "coarse-big" -> rows(10000, 12048, dim, dim),
      "reserved-16x16" -> rows(40000, 40256, dim, dim),
      "mips-coarse" -> rows(Codebooks.MipsRowBase, Codebooks.MipsRowBase + Codebooks.NCentroids,
        dim + 1, dim + 1),
      "mips-pq" -> rows(Codebooks.MipsPqRowBase,
        Codebooks.MipsPqRowBase + Codebooks.MipsPqM * Codebooks.PqK, dim + 1, Codebooks.MipsPqSub),
      "mips-coarse-big" -> rows(Codebooks.MipsBigRowBase, Codebooks.MipsBigRowBase + 2048,
        dim + 1, dim + 1))
    val all = Seq(PqBook.Narrow, PqBook.Wide, PqBook.M16)
    val books = all.map(b => b.label -> bookPositions(b)).toMap
    assert(books.size === all.size, "book labels must be distinct")
    all.foreach { b =>
      assert(b.m * b.sub === Codebooks.Dim, s"${b.label}: subspaces must tile Dim")
      assert(books(b.label).size === b.m * b.k * b.sub,
        s"${b.label}: seed positions must not collide within the book")
    }
    // the narrow book IS the formula residual book's region
    assert(PqBook.Narrow.m === Codebooks.PqM && PqBook.Narrow.k === Codebooks.PqK)
    val regions = books.toSeq ++ fixed.toSeq
    for (i <- regions.indices; j <- regions.indices if i < j) {
      val ((a, pa), (b, pb)) = (regions(i), regions(j))
      if (books.contains(a) || books.contains(b))
        assert(pa.intersect(pb).isEmpty, s"LCG region $a overlaps $b")
    }
  }

  test("k-means IVF hits score identically to brute force (candidates are exact-ranked)") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val km = Similarity.ivfTopKFitted(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    assert(km.except(bf).count() === 0)
  }

  test("IVF-PQ: hits score identically to brute force; refine widens recall toward plain IVF") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val pq = Similarity.ivfPqTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    // the final rerank is exact over full vectors, so every hit's cosine
    // must appear verbatim in the exhaustive scoring
    assert(pq.except(bf).count() === 0)

    val bf10 = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val n = bf10.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "corpus_id").intersect(bf10).count() / n
    val r2 = recallOf(Similarity.ivfPqTopK(emb, isQuery, k = 10, refine = 2))
    val r8 = recallOf(Similarity.ivfPqTopK(emb, isQuery, k = 10, refine = 8))
    val ivf = recallOf(Similarity.ivfTopK(emb, isQuery, k = 10))
    info(f"recall@10: pq/refine2=$r2%.3f pq/refine8=$r8%.3f ivf(full vectors)=$ivf%.3f")
    // a larger shortlist is a superset ⇒ recall is monotone in refine,
    // and PQ can only LOSE vs exact-ranking every probed candidate
    assert(r8 >= r2)
    assert(r8 <= ivf + 1e-12,
      s"PQ shortlist reranks a subset of IVF's candidates, got pq=$r8 > ivf=$ivf")
    bf10.unpersist()
  }

  test("fitted IVF-PQ: hits score identically to brute force; fitted codebooks " +
      "beat the LCG codebooks at equal settings; rows-gate shape holds") {
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val fitted = Similarity.ivfPqTopKFitted(emb, isQuery, k = 10).cache()
    // exact final rerank: every hit's cosine appears in exhaustive scoring
    assert(fitted.select(col("query_id"), col("corpus_id"), col("cos")).except(bf).count() === 0)
    // rows-gate shape: k rows per query, rnk 1..k
    val perQuery = fitted.groupBy("query_id").count()
    assert(perQuery.filter(col("count") =!= 10).count() === 0)
    assert(fitted.filter(col("rnk") < 1 || col("rnk") > 10).count() === 0)

    val bf10 = Similarity.bruteForceTopK(emb, isQuery, k = 10)
      .select(col("query_id"), col("corpus_id")).cache()
    val n = bf10.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "corpus_id").intersect(bf10).count() / n
    val lcgPq = recallOf(Similarity.ivfPqTopK(emb, isQuery, k = 10))
    val fitPq = recallOf(fitted)
    val fitPq8 = recallOf(Similarity.ivfPqTopKFitted(emb, isQuery, k = 10, refine = 8))
    info(f"recall@10: pq-lcg=$lcgPq%.3f pq-fitted=$fitPq%.3f pq-fitted/refine8=$fitPq8%.3f")
    // the fitted coarse codebook already dominates LCG on this corpus
    // (kmeans spec above); data-fitted residual codes must preserve that
    // dominance at the full-path level
    assert(fitPq >= lcgPq,
      s"fitted IVF-PQ recall ($fitPq) must be >= LCG IVF-PQ recall ($lcgPq)")
    bf10.unpersist(); fitted.unpersist()
  }

  /** The refine the IVF-PQ plans ran before scoring it at generation:
    * the k·refine shortlist joined back to the whole vector table
    * (queries broadcast) and scored there by `score` over eq/nq/ec/nc —
    * the reference the fused refine must equal row for row. */
  private def joinRefine(v: DataFrame, approx: DataFrame, k: Int, refine: Int,
                         score: Column): DataFrame = {
    val shortlist = Similarity.rerankTopKTwoPhase(approx, k * refine)
      .select(col("query_id"), col("corpus_id"))
    val vq = v.select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val vc = v.select(col("vec_id").as("corpus_id"), col("e").as("ec"), col("nrm").as("nc"))
    Similarity.rerankTopK(shortlist.join(broadcast(vq), "query_id").join(vc, "corpus_id")
      .withColumn("cos", score), k)
  }

  /** The formula IVF-PQ index's approximate candidates (query_id,
    * corpus_id, cos) at `probes`. */
  private def pqApprox(v: DataFrame, isQ: Column, probes: Int): DataFrame = {
    val corpus = Similarity.pqCorpusIndex(v.filter(!isQ), expr("graft_ivf_bucket(e)"),
      expr("graft_pq_code_at(e, bucket)"))
    val queries = v.filter(isQ).select(col("vec_id").as("query_id"), col("e").as("eq"),
      explode(expr(s"graft_ivf_probes(e, $probes)")).as("bucket"))
    corpus.join(broadcast(queries), "bucket").select(col("query_id"), col("corpus_id"),
      expr("graft_pq_score(eq, bucket, codes)").as("cos"))
  }

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val order = Seq(col("query_id"), col("rnk"))
    val g = got.orderBy(order: _*).collect().toSeq
    val w = want.orderBy(order: _*).collect().toSeq
    assert(g.nonEmpty, s"$what: empty answer")
    assert(g === w, s"$what: the fused refine differs from the shortlist join")
  }

  /** Whether running `df` fails with ANSI DIVIDE_BY_ZERO; any other
    * failure propagates. */
  private def divideByZero(df: DataFrame): Boolean =
    try { df.collect(); false }
    catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")) => true
    }

  test("IVF-PQ refine at generation == the shortlist join, row for row: " +
      "null embeddings, a zero-norm corpus vector shortlisted (both throw) " +
      "and a candidate but not shortlisted (neither throws), PQ-MIPS too") {
    val nullId = 900001L
    val zeroId = 900002L
    val nullQueryId = 900003L
    val fx = emb.select(col("vec_id"), col("embedding"))
      .union(spark.range(1).select(lit(nullId).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .union(spark.range(1).select(lit(zeroId).as("vec_id"),
        array_repeat(lit(0.0f), Similarity.Dim).as("embedding")))
      .union(spark.range(1).select(lit(nullQueryId).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .cache()
    val v = Similarity.vectors(fx)
    val cosScore = expr("graft_dot(eq, ec)") / (col("nq") * col("nc"))

    // the default serving shape: the zero vector is not probed
    val q8 = col("vec_id") < 8 || col("vec_id") === nullQueryId
    sameRows(Similarity.ivfPqTopK(fx, q8, k = 10),
      joinRefine(v, pqApprox(v, q8, 8), 10, 4, cosScore), "probes 8")

    // every bucket probed, so the zero vector is every query's candidate;
    // queries that rank it below the top 10 by PQ score (ranked against
    // a smaller corpus, so a larger one can only push it further down)
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    val zeroRanks = pqApprox(v, col("vec_id") < 50, Similarity.NCentroids)
      .withColumn("r", row_number().over(wRank))
      .filter(col("corpus_id") === zeroId)
      .select(col("query_id"), col("r")).collect()
    assert(zeroRanks.length === 50, "the zero vector is a candidate of every query")
    val unlisted = zeroRanks.filter(_.getInt(1) > 10).map(_.getLong(0)).toSeq
    assert(unlisted.length >= 4, s"fixture: too few queries rank the zero vector low")
    val qLow = col("vec_id").isin(unlisted :+ nullQueryId: _*)
    sameRows(Similarity.ivfPqTopK(fx, qLow, k = 5, probes = Similarity.NCentroids, refine = 2),
      joinRefine(v, pqApprox(v, qLow, Similarity.NCentroids), 5, 2, cosScore),
      "zero vector a candidate, not shortlisted")

    // a shortlist wider than the corpus holds the zero vector: 0.0 / 0.0
    // under ANSI, in both forms
    assert(divideByZero(Similarity.ivfPqTopK(fx, q8, k = 10,
      probes = Similarity.NCentroids, refine = 100)), "fused form")
    assert(divideByZero(joinRefine(v, pqApprox(v, q8, Similarity.NCentroids), 10, 100,
      cosScore)), "shortlist join")

    // PQ-MIPS: the reference also keeps the argmax-repeating code kernel
    val probes = 8
    Similarity.registerMipsServing(fx, probes)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("spec_mips_pq_code",
      exprs => graft.functions.PqCode(exprs.head, Codebooks.mipsCentroidsArr,
        Codebooks.mipsCentroidNorms, Codebooks.mipsCentroidsHat, Codebooks.mipsPqCents),
      "built-in")
    val m = v.filter(!q8).agg(max(col("nrm"))).head().getDouble(0)
    val mipsCorpus = v.filter(!q8)
      .withColumn("ea", concat(col("e"), array(sqrt(lit(m) * lit(m) - col("nrm") * col("nrm")))))
      .select(col("vec_id").as("corpus_id"),
        call_function("graft_mips_bucket", col("ea")).as("bucket"),
        call_function("spec_mips_pq_code", col("ea")).as("codes"))
    val mipsQueries = v.filter(q8)
      .withColumn("eqa", concat(col("e"), array(lit(0.0))))
      .select(col("vec_id").as("query_id"), col("eqa"),
        explode(call_function(s"graft_mips_probes_$probes", col("eqa"))).as("bucket"))
    val mipsApprox = mipsCorpus.join(broadcast(mipsQueries), "bucket")
      .select(col("query_id"), col("corpus_id"), call_function("graft_mips_pq_score",
        col("eqa"), col("bucket"), col("codes")).as("cos"))
    sameRows(Similarity.mipsIvfPqTopK(fx, q8, k = 10, probes = probes),
      joinRefine(v, mipsApprox, 10, 4, expr("graft_dot(eq, ec)"))
        .withColumnRenamed("cos", "ip"), "PQ-MIPS")
    fx.unpersist()
  }

  test("r17b m16 fitted serving: the registered m16 point (16x64 book, " +
      "8192-row sample) exact-reranks and keeps the rows-gate shape") {
    // the registered m16 composition: 16 subspaces x 64 codes, 8192-row
    // fit sample (41000.. seed region), x4 shortlist
    val m16 = Similarity.ivfPqTopKSized(emb, isQuery, k = 10,
      index = Similarity.PqIndex.Fitted(PqBook.M16), refineMul = 4).cache()
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    assert(m16.select(col("query_id"), col("corpus_id"), col("cos"))
      .except(bf).count() === 0, "final rerank must be exact")
    val perQuery = m16.groupBy("query_id").count()
    assert(perQuery.filter(col("count") =!= 10).count() === 0)
    assert(m16.filter(col("rnk") < 1 || col("rnk") > 10).count() === 0)
    m16.unpersist()
  }

  test("r17b pq_error_card: bands conserve the vector count, sum/max cohere, " +
      "the m16 book's total error beats the narrow book's, and the card is " +
      "deterministic") {
    val card = Similarity.pqErrorCard(emb).collect()
    assert(card.length === 2)
    val byBook = card.map(r => r.getString(0) -> r).toMap
    assert(byBook.keySet === Set("narrow", "m16"))
    card.foreach { r =>
      val n = r.getLong(1)
      val sum = r.getDecimal(2)
      val mx = r.getLong(3)
      val (lo, mid, hi) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(lo + mid + hi === n, "error bands must conserve the vector count")
      assert(sum.compareTo(java.math.BigDecimal.valueOf(mx)) >= 0,
        "total error must be at least the max")
      assert(sum.compareTo(java.math.BigDecimal.valueOf(mx).multiply(
        java.math.BigDecimal.valueOf(n))) <= 0,
        "total error must be at most n * max")
      // r18 divergence-robust construction pin: per-vector errors are
      // fixed-point at the COARSE 10^6 grid (unit-space residual sums are
      // O(1), so max_err_fp ~ 1e5..1e6; at the old brittle 10^12 grid it
      // sat near 1e11 and a 1-ulp engine divergence flipped the trunc).
      assert(mx > 0L && mx < 100000000L,
        s"max_err_fp=$mx must sit on the coarse fp-1e6 grid (O(1e5..1e6))")
    }
    // the corpus-level property the card exists to surface: the 16-
    // subspace book quantizes strictly better than the narrow default
    assert(byBook("m16").getDecimal(2).compareTo(
      byBook("narrow").getDecimal(2)) < 0,
      "m16 total quantization error must beat the narrow book's")
    // deterministic fit + kernel: a second invocation is bit-identical
    val again = Similarity.pqErrorCard(emb).collect()
    assert(card.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("r16 fitted serving ladder: the sized fully-fitted row equals ivfPqTopKFitted " +
      "bit-for-bit at gate scale; the resfit row exact-reranks, is deterministic " +
      "(the batch/stream book-sharing guarantee), and its fitted residual book " +
      "genuinely moves off the formula seeds") {
    // at gate scale the ladders are identities (nlist 64, probes 8,
    // refine 4), so the sized fully-fitted row IS ivfPqTopKFitted
    val fitted = Similarity.ivfPqTopKFitted(emb, isQuery, k = 10)
    val sized = Similarity.ivfPqTopKFittedSized(emb, isQuery, k = 10)
    assert(sized.exceptAll(fitted).isEmpty && fitted.exceptAll(sized).isEmpty,
      "sized fully-fitted serving must equal the fixed form below the ladder step")
    // resfit: the final rerank is exact, so every hit's cosine appears
    // verbatim in exhaustive scoring
    val bf = Similarity.bruteForceTopK(emb, isQuery, k = 1000)
      .select(col("query_id"), col("corpus_id"), col("cos"))
    val r1 = Similarity.ivfPqTopKSized(emb, isQuery, k = 10,
      index = Similarity.PqIndex.ResFit).cache()
    assert(r1.select(col("query_id"), col("corpus_id"), col("cos"))
      .except(bf).count() === 0)
    // determinism: an independent second fit+serve is bit-identical —
    // this is what lets batch and the streaming twin each call the
    // shared builder and still share books exactly
    val r2 = Similarity.ivfPqTopKSized(emb, isQuery, k = 10,
      index = Similarity.PqIndex.ResFit)
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty,
      "the residual fit must be deterministic")
    // and the fit is not a no-op: the fitted book differs from its
    // formula-seed starting point somewhere
    val cents = graft.functions.Codebooks.centroidsArr
    val cnorms = graft.functions.Codebooks.centroidNorms
    val pqFit = Similarity.fitPqCodebooks(emb, cents, cnorms,
      fpRef = graft.functions.Codebooks.fpCentroidsFor(64))
    assert(pqFit.flatten.flatten.toSeq !=
      graft.functions.Codebooks.pqCents.flatten.flatten.toSeq,
      "five fit rounds must move the residual book off the LCG seeds")
    r1.unpersist()
  }

  test("concurrent fitted queries use their OWN codebooks (no holder cross-contamination)") {
    // two fits with different parameters race fit→analyze on purpose;
    // per-fit function names + closed-over arrays must keep each query's
    // codebook its own, so each concurrent result equals its serial twin
    val serialA = Similarity.ivfTopKFitted(emb, isQuery, k = 10, iters = 1)
      .select("query_id", "corpus_id", "cos").collect().toSet
    val serialB = Similarity.ivfTopKFitted(emb, isQuery, k = 10, iters = 3)
      .select("query_id", "corpus_id", "cos").collect().toSet
    val results = new java.util.concurrent.ConcurrentHashMap[String, Set[org.apache.spark.sql.Row]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(
      new Thread(() => {
        start.await()
        results.put("a", Similarity.ivfTopKFitted(emb, isQuery, k = 10, iters = 1)
          .select("query_id", "corpus_id", "cos").collect().toSet)
      }),
      new Thread(() => {
        start.await()
        results.put("b", Similarity.ivfTopKFitted(emb, isQuery, k = 10, iters = 3)
          .select("query_id", "corpus_id", "cos").collect().toSet)
      }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    assert(results.get("a") === serialA, "concurrent 1-iter fit must equal its serial twin")
    assert(results.get("b") === serialB, "concurrent 3-iter fit must equal its serial twin")
  }

  test("int8 quantization: codes bounded and envelope-saturating, error within " +
      "the midpoint bound, one row per vector") {
    val out = Similarity.quantizeInt8(emb).cache()
    assert(out.count() === emb.count())
    val codes = out.select(col("vec_id"),
      split(col("codes"), ",").cast("array<long>").as("cs"))
    assert(codes.filter(size(col("cs")) =!= Similarity.Dim).count() === 0)
    assert(codes.filter(exists(col("cs"), c => c < 0 || c > 255)).count() === 0)
    // the envelope is corpus-derived, so BOTH extremes are realized
    val flat = codes.select(explode(col("cs")).as("c"))
    assert(flat.agg(min("c")).head().getLong(0) === 0L)
    assert(flat.agg(max("c")).head().getLong(0) === 255L)
    // midpoint reconstruction error is bounded by half a quantization
    // step of the WIDEST dim: (mx-mn)/510 (+ float slack)
    val spans = emb
      .select(posexplode(expr("CAST(embedding AS ARRAY<DOUBLE>)")).as(Seq("d", "x")))
      .groupBy("d").agg((max("x") - min("x")).as("span"))
    val worst = spans.agg(max("span")).head().getDouble(0)
    assert(out.filter(col("max_abs_err") > worst / 510.0 * 1.0000001).count() === 0)
    assert(out.filter(col("max_abs_err") < 0).count() === 0)
    out.unpersist()
  }

  test("semantic decontamination: a planted colinear paraphrase is flagged with its " +
      "eval source as best match; verdicts respect tau; eval rows excluded") {
    // plant: corpus vector 3's embedding scaled by 1.01 becomes eval
    // vector 4100041 (% 41 == 0) — a same-direction "paraphrase": cosine
    // 1 up to float rounding, and sign-LSH bands are scale-invariant so
    // every band collides (recall cannot miss it)
    val src = emb.filter(col("vec_id") === 3)
      .select(lit(4100041L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f)).as("embedding"),
        col("label"))
    val planted = emb.unionByName(src)
    val out = Similarity.decontaminateSemantic(planted,
      col("vec_id") % 41 === 0, tau = 0.4).cache()
    val hit = out.filter(col("vec_id") === 3).head()
    assert(hit.getAs[Boolean]("contaminated"))
    assert(hit.getAs[Long]("best_eval") === 4100041L)
    assert(hit.getAs[Double]("best_cos") > 0.999)
    // verdict ⇔ threshold, candidate-less rows survive with n_cand = 0,
    // and no eval vector appears as a corpus row
    assert(out.filter(col("contaminated") && col("best_cos") < 0.4).count() === 0)
    assert(out.filter(!col("contaminated") && col("best_cos") >= 0.4).count() === 0)
    assert(out.filter(col("n_cand") === 0 && col("best_eval").isNotNull).count() === 0)
    assert(out.filter(col("vec_id") % 41 === 0).count() === 0)
    assert(out.count() === planted.filter(col("vec_id") % 41 =!= 0).count())
    out.unpersist()
  }

  test("embedding near-dup pairs verify exact cosine above threshold, canonical order") {
    val p = Similarity.embeddingPairs(emb, tau = 0.4).cache()
    assert(p.filter(col("vec_a") >= col("vec_b")).count() === 0)
    assert(p.filter(col("cos") < 0.4).count() === 0)
    p.unpersist()
  }

  test("semantic (cluster-confined) near-dup pairs: exact cosines, same-bucket only, " +
      "each pair emitted once") {
    val p = Similarity.semanticPairs(emb, tau = 0.4).cache()
    assert(p.count() > 0, "sf0.001 corpus has same-cluster near-dups")
    assert(p.filter(col("vec_a") >= col("vec_b")).count() === 0)
    assert(p.filter(col("cos") < 0.4).count() === 0)
    // one bucket per vector ⇒ no duplicate pairs by construction
    assert(p.groupBy("vec_a", "vec_b").count().filter(col("count") > 1).count() === 0)
    // SemDeDup confinement is real: every emitted pair shares its coarse
    // cluster, and cross-cluster near-dups are (by design) not emitted
    val assigned = Similarity.vectors(emb)
      .select(col("vec_id"), expr("graft_ivf_bucket(e)").as("bucket")).cache()
    val ba = assigned.select(col("vec_id").as("vec_a"), col("bucket").as("bucket_a"))
    val bb = assigned.select(col("vec_id").as("vec_b"), col("bucket").as("bucket_b"))
    assert(p.join(ba, "vec_a").join(bb, "vec_b")
      .filter(col("bucket_a") =!= col("bucket_b")).count() === 0)
    // exact-verify contract: every emitted pair is a true near-dup with
    // the bit-identical brute-force cosine (same kernel, same fold order)
    val vv = Similarity.vectors(emb)
    val xa = vv.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"))
    val xb = vv.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"))
    val brute = xa.crossJoin(xb).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b", "cos")
    assert(p.except(brute).count() === 0,
      "every semantic pair must appear in the exhaustive pair set with identical cosine")
    assigned.unpersist(); p.unpersist()
  }

  test("sized kNN nlist: the ladder tracks sqrt(N) within the LCG budget, " +
      "and at gate scales the sized graph is IDENTICAL to the fixed-64 one") {
    assert(Similarity.sizedNlist(0L) === 64)
    assert(Similarity.sizedNlist(4096L) === 64)
    assert(Similarity.sizedNlist(4097L) === 128)
    assert(Similarity.sizedNlist(65536L) === 128)
    assert(Similarity.sizedNlist(65537L) === 512)
    assert(Similarity.sizedNlist(1048576L) === 512)
    assert(Similarity.sizedNlist(1048577L) === 2048)
    assert(Similarity.sizedNlist(Long.MaxValue) === 2048)
    // the big-ladder codebooks come from the fresh 10000.. LCG region:
    // no row is shared with the ≤200 codebooks, and the ≤200 codebooks
    // are bit-identical to what every gate shipped
    val small = graft.functions.Codebooks.centroidsFor(200)
    val big = graft.functions.Codebooks.centroidsFor(512)
    assert(small === graft.functions.Codebooks.centroidsFor(200))
    assert(!big.take(200).zip(small).exists { case (a, b) => a == b },
      "big-ladder rows must not reuse the small-region rows")
    val fixed = Similarity.knnJoinIvf(emb)
    val sized = Similarity.knnJoinIvfSized(emb)
    assert(sized.except(fixed).count() === 0 && fixed.except(sized).count() === 0,
      "<= 4096 vectors must produce the identical kNN graph")
  }

  test("sized probes: identity through every DuckDB-gated scale (nlist <= 128), " +
      "then base*(nlist/128) so the probed fraction holds on the nlist ladder") {
    // identity wherever oracles gate — plans and oracle text unchanged
    for (n <- Seq(0L, 500L, 2000L, 4096L, 20000L, 65536L)) {
      assert(Similarity.sizedProbes(2, n) === 2)
      assert(Similarity.sizedProbes(8, n) === 8)
    }
    // ladder: fraction pinned at base/128 (the largest gated ratio)
    assert(Similarity.sizedProbes(2, 200000L) === 8)   // nlist 512
    assert(Similarity.sizedProbes(8, 200000L) === 32)
    assert(Similarity.sizedProbes(2, 2000000L) === 32) // nlist 2048
    assert(Similarity.sizedProbes(8, 2000000L) === 128)
    // the fraction claim itself: probes/nlist constant past the gates
    for (n <- Seq(200000L, 2000000L)) {
      val nl = Similarity.sizedNlist(n)
      assert(Similarity.sizedProbes(8, n).toDouble / nl === 8.0 / 128.0)
    }
  }

  test("semantic delta: every NEW vector classified exactly once, both arms " +
      "populated, asymmetry real (new never matches new), and the verdict " +
      "agrees with the bucket-confined brute force") {
    val isNew = col("vec_id") % 5 === 4
    val d = Similarity.semanticDelta(emb, isNew, tau = 0.4).cache()
    val nNew = Similarity.vectors(emb).filter(isNew).count()
    assert(d.count() === nNew, "one classification per new vector")
    assert(d.filter(col("verdict") === "near_dup").count() > 0)
    assert(d.filter(col("verdict") === "novel").count() > 0)
    // a near_dup's best match is a BASE vector with cos >= tau; a novel
    // either had no same-bucket base candidates or none above tau
    assert(d.filter(col("verdict") === "near_dup" &&
      (col("best_base") % 5 === 4 || col("best_cos") < 0.4)).count() === 0)
    assert(d.filter(col("verdict") === "novel" && col("best_cos") >= 0.4)
      .count() === 0)
    // candidate-less new vectors surface as n_cand = 0 + null best match
    assert(d.filter(col("n_cand") === 0 && col("best_base").isNotNull).count() === 0)
    // brute-force cross-check: the best base match within the bucket, by
    // (cos DESC, base_id), with the bit-identical kernel cosine
    val vv = Similarity.vectors(emb)
    val assigned = vv.select(col("vec_id"), expr("graft_ivf_bucket(e)").as("bucket"))
    val nw = assigned.filter(isNew)
    val base = assigned.filter(!isNew)
      .select(col("vec_id").as("base_id"), col("bucket"))
    val xa = vv.select(col("vec_id"), col("e").as("ea"), col("nrm").as("na"))
    val xb = vv.select(col("vec_id").as("base_id"), col("e").as("eb"), col("nrm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("base_id"))
    val brute = nw.join(base, "bucket").join(xa, "vec_id").join(xb, "base_id")
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("base_id").as("best_base"), col("cos").as("best_cos"))
    assert(d.filter(col("best_base").isNotNull)
      .select("vec_id", "best_base", "best_cos")
      .except(brute).count() === 0,
      "best matches must equal the bucket-confined brute force exactly")
    d.unpersist()
  }
}
