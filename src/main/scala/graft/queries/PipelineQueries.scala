package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.Codebooks.PqBook
import graft.operators.{Bpe, Dedup, Multimodal, Similarity, TextOps}
import graft.operators.Similarity.PqIndex
import graft.sources.Tables

/** SURVEY.md §2c — the LLM-training-data pipeline ops over `documents` /
  * `embeddings`, each paired with DuckDB oracle SQL that replays the same
  * integer/float arithmetic (same constants, same fold order), developed
  * and validated in tools/proto_pipeline.py.
  */
object PipelineQueries {

  private val M = TextFunctions.HashMod
  private val P = TextFunctions.MinhashP
  import Dedup.{MinhashK, minhashA, minhashB}
  import Similarity.Dim
  import graft.functions.Codebooks.{EmbBands, PlanesPerBand, NPlanes, NCentroids}

  private val JaccardTau = 0.5
  private val HammingTau = 6
  private val CosTau = 0.4
  private val MhBands = 4
  private val ShBands = 4
  private val ShBits = Dedup.SimhashBits / ShBands // 15-bit band values
  private val Probes = 8
  private val TopK = 10
  // ANN-graph construction defaults — tighter than serving (see
  // Similarity.knnJoinIvf)
  private val KnnK = 5
  private val KnnProbes = 2

  /** Repetition-filter thresholds (text_repetition): chosen so the gate
    * splits this corpus meaningfully (319/500 kept at sf0.01) — real
    * deployments tune per corpus; both engines interpolate the same
    * constants.
    */
  private val Dup2Max = 0.05
  private val TopTokMax = 0.12

  private def queryPred = col("vec_id") < 8

  /** Corpus row count for the sized-banding queries — parquet metadata
    * count, one tiny job; bench reps reuse the cache. Keyed by the
    * parquet file's (path, length, mtime) so a REGENERATED directory in
    * a warm JVM (ScaleGen rewrites) re-derives kEst instead of gating a
    * stale plan against the oracle's live COUNT(*).
    */
  private val nDocsCache = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]
  private def nDocs(s: SparkSession, dir: String): Long = {
    val f = new java.io.File(s"$dir/documents.parquet")
    nDocsCache.getOrElseUpdate((f.getPath, f.length, f.lastModified),
      Tables.load(s, dir, "documents").count())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents")).orderBy(col("content_hash"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), JaccardTau)
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_ngram_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefixPairs(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.load(s, dir, "documents"), JaccardTau, MhBands,
          Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_a"), col("doc_b"))),
    // the sizing decision card (r10): what sizedEstK chose for THIS
    // corpus and the per-stage candidate mass it bought
    "dedup_sizing_card" -> ((s, dir) =>
      Dedup.sizingCard(Tables.load(s, dir, "documents"), JaccardTau, MhBands,
        nDocs(s, dir))),
    // incremental snapshot delta (r10): the recurring-ingestion
    // classification — each NEW-shard doc vs the BASE corpus only
    // (exact_dup / near_dup / novel); the new side probes base indexes,
    // never itself
    "corpus_delta" -> ((s, dir) =>
      Dedup.snapshotDelta(Tables.load(s, dir, "documents"),
          col("doc_id") % 5 === 4, JaccardTau, MhBands,
          Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_id"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), HammingTau, ShBands)
        .orderBy(col("doc_a"), col("doc_b"))),
    // estimator-calibration card (r9): signature estimate next to the
    // exact Jaccard it stands in for, per banded candidate
    "dedup_minhash_est" -> ((s, dir) =>
      Dedup.minhashEstimate(Tables.load(s, dir, "documents"), MhBands)
        .orderBy(col("doc_a"), col("doc_b"))),
    // containment pairs (r9): the asymmetric measure — embedded/quoted
    // documents that symmetric Jaccard structurally misses
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b"))),
    // band-occupancy sizing card (r9): per-band buckets, worst bucket,
    // and the in-bucket candidate mass the verify join would pay
    "dedup_band_stats" -> ((s, dir) =>
      Dedup.bandStats(Tables.load(s, dir, "documents"), MhBands)
        .orderBy(col("band_id"))),
    // Cluster-level dedup (r7): connected components of the MinHash
    // near-dup graph by iterative min-label propagation — the
    // transitively-correct keeper rule (oracle: recursive closure).
    "dedup_components" -> ((s, dir) =>
      Dedup.components(Tables.load(s, dir, "documents"), JaccardTau, MhBands,
          kEst = Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_id"))),
    // same components, O(log n) rounds: alternating large-star/small-star
    // contraction (r8) — provably equal labels, diameter-independent
    // round count; shares dedup_components' recursive-closure oracle.
    "dedup_components_star" -> ((s, dir) =>
      Dedup.componentsLogN(Tables.load(s, dir, "documents"), JaccardTau, MhBands,
          kEst = Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_id"))),
    // the duplication report (r8): clusters per size, docs per size —
    // two tiny aggregates over the component labels.
    "dedup_cluster_stats" -> ((s, dir) =>
      Dedup.clusterStats(Tables.load(s, dir, "documents"), JaccardTau, MhBands,
        kEst = Dedup.sizedEstK(nDocs(s, dir)))),
    // similarity histogram over UNthresholded banded candidates (r8):
    // the tuning card for the tau decision; min/max only per bin, so the
    // doubles stay order-independent.
    "dedup_pair_hist" -> ((s, dir) =>
      Dedup.pairHist(Tables.load(s, dir, "documents"), MhBands)),
    // component dedup over the EMBEDDING near-dup graph (r8): the same
    // star contraction on the sign-LSH + exact-cosine pair list —
    // cluster-correct semantic dedup (SemDeDup keeper rule done right).
    "dedup_embedding_cc" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val pairs = Similarity.embeddingPairs(emb, CosTau)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.componentsOf(emb.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("component_id"))
        .orderBy(col("vec_id"))
    }),
    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingPairs(Tables.load(s, dir, "embeddings"), CosTau)
        .orderBy(col("vec_a"), col("vec_b"))),
    // SemDeDup-style semantic dedup (r6): candidates confined to each
    // vector's nearest-centroid CLUSTER (one bucket per vector) instead
    // of LSH bands — the smallest candidate index of the family.
    // SEMANTIC snapshot delta (r11): the embedding-space face of
    // corpus_delta — new-shard vectors classified vs the base via
    // cluster-confined exact cosine; new is never self-joined
    "embedding_delta" -> ((s, dir) =>
      Similarity.semanticDelta(Tables.load(s, dir, "embeddings"),
          col("vec_id") % 5 === 4, CosTau)
        .orderBy(col("vec_id"))),
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticPairs(Tables.load(s, dir, "embeddings"), CosTau)
        .orderBy(col("vec_a"), col("vec_b"))),
    // embedding-space decontamination (r9): eval vectors sign-LSH banded
    // and broadcast, corpus probes the bands, exact-cosine verify — the
    // semantic twin of pipeline_decontaminate_fuzzy for PARAPHRASED leaks
    "pipeline_decontaminate_semantic" -> ((s, dir) =>
      Similarity.decontaminateSemantic(Tables.load(s, dir, "embeddings"),
        col("vec_id") % 41 === 0, CosTau).orderBy(col("vec_id"))),
    // quantization-collision dedup (r15): vectors whose PQ encodings
    // collide are indistinguishable to the compact index — code
    // identity as a zero-vector-read near-dup signal; ONE hash agg on
    // the ~12-byte (bucket, codes) key, no pair join anywhere
    "dedup_pq_codes" -> ((s, dir) =>
      Similarity.pqCodeDedup(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id"))),
    // PQ quantization-error decision card (r17b): both registered book
    // shapes scored against the shared laddered coarse fit — the
    // in-engine twin of the driver-side MSE sweeps (paired with
    // RecallSweep: MSE and recall can DISAGREE — the resfit lesson).
    "pq_error_card" -> ((s, dir) =>
      Similarity.pqErrorCard(Tables.load(s, dir, "embeddings"))),
    "sim_topk_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // MIPS (r9): exact top-k by RAW dot product — magnitude-aware
    // retrieval; the norm-augmentation reduction is the scale path
    "sim_topk_mips" -> ((s, dir) =>
      Similarity.mipsTopK(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // MIPS at scale (r13): the Bachrach norm-augmentation reduction the
    // sim_topk_mips row documents, shipped — corpus vectors append
    // sqrt(M²−‖x‖²), queries append 0, candidates ride an IVF index over
    // a fresh 65-dim LCG codebook, exact raw-ip rerank (engine-exact;
    // recall vs the exact MIPS baseline swept in SimilaritySpec).
    "sim_topk_mips_ivf" -> ((s, dir) =>
      Similarity.mipsIvfTopK(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // PQ-compact MIPS serving (r14): codes-resident augmented-space
    // index (5×13 PQ over the 65-dim reduction), shortlist by the
    // approximate augmented cosine, exact raw-ip rerank.
    "sim_topk_mips_ivf_pq" -> ((s, dir) =>
      Similarity.mipsIvfPqTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // MIPS-IVF over a DATA-FITTED augmented codebook (r15): fixed-point
    // spherical k-means in the 65-dim Bachrach space (seeds = the
    // rows-600 MIPS LCG integers), then the identical bucket/probe/
    // exact-raw-ip plan — the sim_topk_ivf_kmeans parity for the MIPS
    // family; the oracle unrolls the fit as CTEs (full hash gate) and
    // recall-vs-formula-book is swept in SimilaritySpec.
    "sim_topk_mips_ivf_fitted" -> ((s, dir) =>
      // r16: the LADDERED fit (identity at driver scales — fit books
      // ride sizedNlist, probes sizedProbes; oracle mirrors via
      // mnlsizing/mpsizing + the sized fit seeds)
      Similarity.mipsIvfTopKFittedSized(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    "sim_topk_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // cosine IVF serving on the nlist+probes ladder (late r15 — the
    // MIPS serving row's shape): identity books at every DuckDB-gated
    // scale, √N books with a pinned probed fraction beyond
    "sim_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // the HIGH-recall-target serving point (r16, r15 VERDICT #2): the
    // same sized serving plan with base probes from
    // probesForRecall("high") — fraction 1/8 pinned on the ladder,
    // recovering the 0.8-recall ceiling class at double candidate cost
    // (the r15 sweep's measured trade); one parameter, own oracle
    "sim_topk_ivf_hr" -> ((s, dir) =>
      Similarity.ivfTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK,
        probes = Similarity.probesForRecall("high"))
        .orderBy(col("query_id"), col("rnk"))),
    // kNN SELF-join (r9): every vector's top-k neighbors over its
    // probed IVF buckets — the ANN-graph construction pass
    "sim_knn_join_ivf" -> ((s, dir) =>
      Similarity.knnJoinIvfSized(Tables.load(s, dir, "embeddings"), KnnK, KnnProbes)
        .orderBy(col("query_id"), col("rnk"))),
    // PageRank over the kNN similarity graph (r11): the ANN edge list
    // symmetrized into the fixed-point power iteration — representative/
    // diversity selection over the embedding corpus
    "knn_pagerank" -> ((s, dir) =>
      graft.operators.Graph.knnPageRank(Tables.load(s, dir, "embeddings"),
        KnnK, KnnProbes).orderBy(col("rnk"))),
    // build-once/rank-many (r12): the kNN edge list lands as a bucketed
    // table and the rank runs FROM the index — same answers by
    // construction (oracle shared verbatim: layout never changes
    // results), zero-Exchange edge scans plan-pinned in GraphSpec
    "knn_pagerank_indexed" -> ((s, dir) =>
      graft.operators.Graph.knnPageRankIndexed(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes).orderBy(col("rnk"))),
    // rank-many consumer #2 (r12): one Luby MIS round with the
    // fixed-point rank as priority — an independent set of
    // locally-dominant representatives, straight off the same bucketed
    // edge index (integer compares only, engine-exact)
    "knn_diversity_sample" -> ((s, dir) =>
      graft.operators.Graph.knnDiversitySample(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // iterated Luby MIS (r13): the diversity sample run to its fixed
    // point — select local priority maxima, delete closed neighborhoods,
    // re-randomize priorities per round, repeat until no node remains.
    // Output is a TRUE maximal independent set (independence +
    // maximality spec'd on a planted graph), each node tagged with its
    // selection round; round 1 equals knn_diversity_sample's set.
    "knn_diversity_mis" -> ((s, dir) =>
      graft.operators.Graph.knnDiversityMis(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // MIS representative assignment (r13): selected nodes keep
    // themselves; every unselected node maps to its best selected kNN
    // neighbor (exact index cos, ties to the smaller id) — total by
    // MAXIMALITY, the prototype-assignment / semantic-clustering card.
    "knn_mis_assign" -> ((s, dir) =>
      graft.operators.Graph.knnMisAssign(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // per-representative cluster card (r14): members absorbed + the
    // tightest/loosest member cosine — order-free aggregates over the
    // shared assignment, one node-sized groupBy.
    "knn_mis_cluster_stats" -> ((s, dir) =>
      graft.operators.Graph.knnMisClusterStats(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // ANN-graph health card (r14): degree histogram of the symmetrized
    // kNN graph — all-integer, rides the bucketed index layout.
    "knn_degree_card" -> ((s, dir) =>
      graft.operators.Graph.knnDegreeCard(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // second-order graph health card (r17b): degree-ordered oriented
    // triangle count + global clustering coefficient — near-clique dup
    // clusters surface here before any dedup pass runs; per-vertex work
    // bounded by C(fwd_deg, 2) regardless of hub degree.
    "knn_triangle_card" -> ((s, dir) =>
      graft.operators.Graph.knnTriangleCard(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // per-node triangle top-k (r17b): the local-density twin — where the
    // heaviest near-clique neighborhoods live; TakeOrdered top-k.
    "knn_triangle_topk" -> ((s, dir) =>
      graft.operators.Graph.knnTriangleTopK(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes)),
    // rank-many consumer #3 (r12): SemDeDup neighborhoods — connected
    // components over the cos >= tau sub-graph of the index (the exact
    // pair cosine rides the index; no vector is re-touched), one
    // representative kept per semantic-duplicate neighborhood
    "knn_semdedup" -> ((s, dir) =>
      graft.operators.Graph.knnSemDeDup(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes, tau = CosTau)),
    // quality-keep SemDeDup (r14): per neighborhood keep the
    // highest-quality document (the shared fixed-weight score, ties to
    // the smaller id) — the representative policy a training pipeline
    // actually wants.
    "knn_semdedup_quality" -> ((s, dir) =>
      graft.operators.Graph.knnSemDeDupQuality(
        Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes, tau = CosTau)),
    // combined consumer card (r15): ONE index build priced with the
    // full consumer suite — graph health, PageRank peak, iterated-Luby
    // MIS size/depth, SemDeDup census — a single-row all-integer card
    "knn_consumer_card" -> ((s, dir) =>
      graft.operators.Graph.knnConsumerCard(Tables.load(s, dir, "embeddings"),
        k = KnnK, probes = KnnProbes, tau = CosTau)),
    // IVF-PQ: compact-index ANN — candidates scored from (bucket, 8 PQ
    // residual codes) alone; full vectors only for the exact rerank of
    // the top k·refine shortlist (round-3 §7 stretch).
    "sim_topk_ivf_pq" -> ((s, dir) =>
      Similarity.ivfPqTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // FITTED residual book on the coarse ladder (r16, r15 VERDICT #1):
    // the same laddered coarse books and sized probes/shortlist, but the
    // residual sub-codebooks come from the per-subspace fixed-point
    // k-means fit against the laddered book — the recall lift the sized
    // formula book left on the table (0.100 @ sf10); fit unrolled as
    // oracle CTEs, batch and stream share Similarity.pqServing.
    "sim_topk_ivf_pq_resfit" -> ((s, dir) =>
      Similarity.ivfPqTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK,
        index = PqIndex.ResFit)
        .orderBy(col("query_id"), col("rnk"))),
    // IVF over a k-means-fitted codebook (the offline fit a production
    // deployment broadcasts). r12: the fit is FIXED-POINT (integer dots,
    // BIGINT sums, truncating-division means — Similarity.fitCentroids)
    // so the fitted codebook is engine-exact and the oracle unrolls the
    // fit as CTEs — full hash gate; recall swept in SimilaritySpec.
    "sim_topk_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopKFitted(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // IVF-PQ over DATA-DERIVED codebooks: k-means coarse centroids plus
    // per-subspace residual k-means sub-codebooks (round-5 VERDICT #6).
    // r12: BOTH fits are fixed-point (integer residual k-means over the
    // first-2048 sample) — full hash gate; recall-vs-LCG is swept in
    // SimilaritySpec.
    "sim_topk_ivf_pq_fitted" -> ((s, dir) =>
      Similarity.ivfPqTopKFitted(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // fully-fitted compact index on the CORPUS LADDERS (r16): laddered
    // coarse k-means + residual book fitted against it — the
    // recall-lifting serving arm (sf10 0.175 / sf1 0.263 vs the formula
    // ladder's 0.100 / 0.150; a residual-only fit against the random
    // ladder SHRINKS tail scores and ranks worse — see
    // sim_topk_ivf_pq_resfit's honest negative result).
    "sim_topk_ivf_pq_fitted_sized" -> ((s, dir) =>
      Similarity.ivfPqTopKFittedSized(Tables.load(s, dir, "embeddings"), queryPred, TopK)
        .orderBy(col("query_id"), col("rnk"))),
    // the two r16 recall levers COMPOSED (r17, r16 VERDICT #1): the
    // fully-fitted laddered books served at probesForRecall("high") —
    // fraction 1/8 pinned, double candidate cost; same fitted books as
    // the row above (probes never enter the fit), so the oracle swaps
    // only its psizing base.
    "sim_topk_ivf_pq_fitted_hr" -> ((s, dir) =>
      Similarity.ivfPqTopKFittedSized(Tables.load(s, dir, "embeddings"), queryPred, TopK,
        probes = Similarity.probesForRecall("high"))
        .orderBy(col("query_id"), col("rnk"))),
    // the HIGH-QUALITY fitted serving point (r17, measured winner of
    // the r16 VERDICT #1/#7 frontier): the probe dial is NOT binding on
    // the PQ rows (fitted x high == fitted at sf1) — the binding levers
    // are residual-code width and shortlist width. K=64 book + refine
    // x4 at standard probes: recall@10 0.263 -> 0.725 at sf1;
    // serving-score cost per candidate UNCHANGED (M lookups + one
    // Dim-dot), price = 4x offline encode + 4x shortlist vector reads
    // (40 rows/query).
    "sim_topk_ivf_pq_fitted_hq" -> ((s, dir) =>
      Similarity.ivfPqTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK,
        index = PqIndex.Fitted(PqBook.Wide), refineMul = 4)
        .orderBy(col("query_id"), col("rnk"))),
    // the 16-SUBSPACE wide-book serving point (r17b — the measured new
    // frontier): quartering the per-subspace dim was the unswept dial,
    // and it dominates — M=16 × K=64 × an 8192-row fit sample (128
    // rows/cell, the narrow book's density) × refine ×4 at standard
    // probes: recall@10 0.725 → 0.963 sf1 / 0.488 → 0.875 sf10 vs the
    // hq row. Serving cost class unchanged (16 table lookups + the
    // same Dim-dot per candidate; code bytes 8 → 16 small ints);
    // price = 4× offline encode distances and the same 40
    // full-vector shortlist reads/query. Seeds: the 41000.. region.
    "sim_topk_ivf_pq_fitted_m16" -> ((s, dir) =>
      Similarity.ivfPqTopKSized(Tables.load(s, dir, "embeddings"), queryPred, TopK,
        index = PqIndex.Fitted(PqBook.M16), refineMul = 4)
        .orderBy(col("query_id"), col("rnk"))),
    // the kNN GRAPH BUILD over the fitted laddered book (r17, r16
    // VERDICT #3): identical candidate/score/rerank plan to
    // sim_knn_join_ivf — only the bucket geometry adapts to the data.
    // The KnnSkewBench evidence: the planted 500-spoke hub is recovered
    // 499/500 at probes=2 vs the LCG book's 382/500 (tight clusters do
    // NOT co-bucket under a random book).
    "sim_knn_join_ivf_fitted" -> ((s, dir) =>
      Similarity.knnJoinIvfFittedSized(Tables.load(s, dir, "embeddings"), KnnK, KnnProbes)
        .orderBy(col("query_id"), col("rnk"))),
    "text_lang_id" -> ((s, dir) =>
      TextOps.langId(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_quality" -> ((s, dir) =>
      TextOps.quality(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_tokens" -> ((s, dir) =>
      TextOps.tokens(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // Gopher-style repetition signals + filter verdict (r7): fused
    // one-pass kernel, shuffle-free scan-speed gate.
    "text_repetition" -> ((s, dir) =>
      TextOps.repetition(Tables.load(s, dir, "documents"), Dup2Max, TopTokMax)
        .orderBy(col("doc_id"))),
    // Corpus-fitted BPE tokenizer (r11): FIT = 16 greedy merges over the
    // top-256 word types (pair counts integer-exact, fixed rounds); the
    // oracle replays each round's argmax + greedy merge pass in SQL
    "tokenizer_fit" -> ((s, dir) =>
      Bpe.fitTable(Tables.load(s, dir, "documents")).orderBy(col("merge_rank"))),
    // SCORE face: tokens-per-doc under the fitted merges — one fused
    // kernel call per doc, merge table baked in (fit/score split)
    "text_bpe_tokens" -> ((s, dir) =>
      Bpe.fitAndScore(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // the tokenizer ARTIFACT face (r11): the actual segmentation string
    // (US within words, RS between), count recomputed FROM the string
    "text_bpe_segments" -> ((s, dir) =>
      Bpe.fitAndSegment(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // Zipf profile card (r8): rank x frequency products over the top-k
    // vocabulary — flatness reads as Zipf conformance; all integers.
    "corpus_zipf_card" -> ((s, dir) =>
      TextOps.zipfCard(Tables.load(s, dir, "documents"), 20).orderBy(col("rank"))),
    // burstiness card (r8): cf/df per top token — concentration signal
    // separating function words from boilerplate repetition
    "corpus_burstiness" -> ((s, dir) =>
      TextOps.burstiness(Tables.load(s, dir, "documents"), 20)
        .orderBy(col("cf").desc, col("token"))),
    // Corpus vocabulary report (r7): token frequency top-k, partial-agg
    // shuffle + TakeOrdered, deterministic tie-break by token.
    "corpus_token_topk" -> ((s, dir) =>
      // k=20 < |vocab| so the cut actually selects (ties broken by token)
      TextOps.tokenTopK(Tables.load(s, dir, "documents"), k = 20)),
    // Corpus phrase report (r7): top bigrams via lead-window gram
    // construction — no UDF, one doc_id shuffle + TakeOrdered.
    "corpus_ngram_topk" -> ((s, dir) =>
      TextOps.ngramTopK(Tables.load(s, dir, "documents"))),
    // association lift card (r9): top collocations by n_ab·T/(n_a·n_b)
    // at min support — what raw bigram counts can't rank
    "corpus_lift_topk" -> ((s, dir) =>
      TextOps.liftTopK(Tables.load(s, dir, "documents"))),
    // per-doc keyword extraction (r9): fixed-point integer TF-IDF —
    // rank-equivalent to the float form, bit-exact in both engines
    "corpus_tfidf_topk" -> ((s, dir) =>
      TextOps.tfidfTopK(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rk"))),
    // OOV-rate quality card (r9): the integer-exact KenLM-filter
    // stand-in — fit top-200 vocab once, score docs by vocabulary miss
    "text_oov_rate" -> ((s, dir) =>
      TextOps.oovRate(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // cross-source mirror detection (r9): source pairs ranked by shared
    // RARE shingles — rarity is the signal AND the join's skew bound
    "corpus_mirror_pairs" -> ((s, dir) =>
      TextOps.mirrorPairs(Tables.load(s, dir, "documents"))
        .orderBy(col("rnk"))),
    // one-row dataset card (r9): the datasheet summary — volume,
    // composition, dup mass, split census, all exact integers
    "pipeline_dataset_card" -> ((s, dir) =>
      TextOps.datasetCard(Tables.load(s, dir, "documents"))),
    // weighted-fair interleave (r9): the mixture as an ORDERING — a
    // WFQ virtual clock in fixed-point integers, sharded windows
    "pipeline_interleave" -> ((s, dir) =>
      TextOps.interleave(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "doc_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    "mm_meta" -> ((s, dir) =>
      Multimodal.meta(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // video frame-sampling work list (r6): every 4th frame's integer
    // byte window — the pre-decode stage of the multimodal pipeline,
    // exact integer arithmetic end to end.
    "mm_framesample" -> ((s, dir) =>
      Multimodal.frameSample(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("frame_idx"))),
    // Audio segmentation work list (r7): 10ms windows at 50% hop —
    // the overlapping-window analogue of mm_framesample.
    "mm_audiowindow" -> ((s, dir) =>
      Multimodal.audioWindows(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("win_idx"))),
    // Per-language equi-depth quality deciles (r7): the mixture block
    // between raw scores and top-q cuts.
    "pipeline_quality_deciles" -> ((s, dir) =>
      TextOps.qualityDeciles(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "pipeline_clean_corpus" -> ((s, dir) =>
      TextOps.cleanCorpus(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // the 100-TB form: same pipeline, near-dup stage = banded MinHash
    // (round-3 VERDICT #2 — the flagship must ride a scale-safe stage)
    "pipeline_clean_corpus_minhash" -> ((s, dir) =>
      TextOps.cleanCorpusMinhash(Tables.load(s, dir, "documents"),
          kEst = Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_id"))),
    // transitively-correct flagship (r7): near-dup stage keeps one doc
    // per connected component instead of dropping pairwise losers
    "pipeline_clean_corpus_cc" -> ((s, dir) =>
      TextOps.cleanCorpusComponents(Tables.load(s, dir, "documents"),
          kEst = Dedup.sizedEstK(nDocs(s, dir)))
        .orderBy(col("doc_id"))),
    "pipeline_token_pack" -> ((s, dir) =>
      TextOps.tokenPack(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // pack plan → actual training sequences (r8): per-pack ordered
    // concatenation with an EOS separator; payload bounded by the token
    // budget by construction.
    "pipeline_concat_packs" -> ((s, dir) =>
      TextOps.concatPacks(Tables.load(s, dir, "documents"))
        .orderBy(col("shard"), col("pack_id"))),
    // benchmark set = every 97th doc (deterministic eval sample)
    "pipeline_decontaminate" -> ((s, dir) =>
      TextOps.decontaminate(Tables.load(s, dir, "documents"), col("doc_id") % 97 === 0)
        .orderBy(col("doc_id"))),
    // span-granularity form: a hit is an 8-word contiguous span shared
    // with the eval set, not a single 3-gram (round-3 §7 candidate)
    "pipeline_decontaminate_span" -> ((s, dir) =>
      TextOps.decontaminateSpans(Tables.load(s, dir, "documents"), col("doc_id") % 97 === 0)
        .orderBy(col("doc_id"))),
    // NEAR-duplicate decontamination (r8): banded-MinHash candidates
    // against the eval set, exact-Jaccard verify, best match per doc —
    // catches lightly-edited eval copies exact n-gram containment misses
    "pipeline_decontaminate_fuzzy" -> ((s, dir) =>
      Dedup.decontaminateFuzzy(Tables.load(s, dir, "documents"), col("doc_id") % 97 === 0,
        JaccardTau, MhBands).orderBy(col("doc_id"))),
    // repeated-substring corpus card (r8): per-doc share of 8-word spans
    // occurring in >= 2 docs (ExactSubstr boilerplate signal)
    "corpus_span_dupes" -> ((s, dir) =>
      TextOps.spanDupes(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // C4 line-level filtering (r9): deterministic page fixture (the
    // corpus has no line structure), then the real per-line rules —
    // terminal punct, min words, brace/lorem/javascript blacklist
    "pipeline_clean_lines" -> ((s, dir) =>
      TextOps.cleanLines(TextOps.toPages(Tables.load(s, dir, "documents")))
        .orderBy(col("doc_id"))),
    // ExactSubstr span REMOVAL (r9): rewrite docs dropping every word
    // covered by an 8-word span occurring in >= 2 documents — the
    // rewrite stage corpus_span_dupes is the audit card for
    "pipeline_span_dedup" -> ((s, dir) =>
      TextOps.spanDedup(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // PII redaction (r9): coin-planted contact-string fixture (the
    // corpus has none), then typed in-place masking via native regexes
    "pipeline_pii_redact" -> ((s, dir) =>
      TextOps.redactPii(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // in-document line dedup (r9): Dolma within-page pass — repeated
    // boilerplate lines of the built pages drop, first occurrence kept
    "pipeline_dedup_lines" -> ((s, dir) =>
      TextOps.dedupLines(TextOps.toPages(Tables.load(s, dir, "documents")))
        .orderBy(col("doc_id"))),
    // DSIR-shaped importance weighting (r8): fixed-point likelihood
    // ratios toward the eval-split target distribution, integer-summed
    "pipeline_importance" -> ((s, dir) =>
      TextOps.importanceWeights(Tables.load(s, dir, "documents"), col("doc_id") % 97 === 0)
        .orderBy(col("doc_id"))),
    // canonical-form normalization (r8): NFC + casefold + whitespace
    // collapse in one native kernel call — the pre-dedup cleaning stage
    "pipeline_normalize" -> ((s, dir) =>
      TextOps.normalize(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    "pipeline_quality_topq" -> ((s, dir) =>
      TextOps.qualityTopQ(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // data-mixture sampling with a deterministic rate rule per source
    // (20 + 7*srcnum mod 80 percent) — the content-hash coin makes the
    // "random" sample exactly replayable by the oracle.
    "pipeline_mixture" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val rates = docs.select("source").distinct()
        .withColumn("rate_pct",
          (lit(20) + pmod(coalesce(
            when(col("source").rlike("\\d"),
              regexp_extract(col("source"), "(\\d+)", 1).cast("int")),
            lit(0)) * 7, lit(80))).cast("int"))
      TextOps.mixtureSample(docs, rates).orderBy(col("doc_id"))
    }),
    // sketch-thresholded 100-TB form, registered as the VALIDATED card
    // (r15 VERDICT #5): the engine-specific percentile sketch runs
    // distributed exactly as in TextOps.qualityTopQApprox, and the row
    // emits what IS engine-reproducible — per-lang doc counts plus
    // in-plan verdicts that the cutoff and the kept fraction sit inside
    // the GK sketch's proven rank band — so the DuckDB hash gate is
    // live (a broken sketch flips a boolean). The raw selection stays
    // pinned by TextOpsSpec's rank-band + exact-filter replay.
    "pipeline_quality_topq_approx" -> ((s, dir) =>
      TextOps.qualityTopQApproxCard(Tables.load(s, dir, "documents")).orderBy(col("lang"))),
    // per-(source, lang) corpus card (r8): stratum inventory from
    // order-independent aggregates only (counts, int sums, min/max).
    "corpus_source_stats" -> ((s, dir) =>
      TextOps.sourceStats(Tables.load(s, dir, "documents"))),
    // deterministic content-hash holdout split (r8): duplicated text
    // lands in ONE split — no train/eval leakage through near-copies.
    "pipeline_split" -> ((s, dir) =>
      TextOps.holdoutSplit(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))),
    // quality-tiered deterministic upsampling (r8): top decile repeats
    // maxEpochs times, linear taper to 1 — mixture weighting as a
    // bounded narrow explode.
    "pipeline_upsample" -> ((s, dir) =>
      TextOps.qualityUpsample(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("epoch"))),
    // per-label embedding data card (r8): counts, dim min/max, norm
    // range from the fused index-order fold, zero-vector count.
    "embedding_stats" -> ((s, dir) =>
      Similarity.embeddingStats(Tables.load(s, dir, "embeddings"))),
    // int8 scalar quantization (r8): per-dim min/max envelope fitted
    // once (64 rows, driver-collected like the k-means fit), codes +
    // midpoint-reconstruction error as a narrow literal-array map
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id"))),
    // fixed-point PCA (r12): ONE exact-BIGINT covariance pass (the
    // graft_outer_sum aggregate, map-side-combinable long[2080]
    // buffers), a driver-local BigInt power iteration with max-norm
    // rescaling (no sqrt — integer end to end), and a one-map-pass
    // projection whose double fold stays under 2^53 and is therefore
    // bit-exact. Zero vectors are outside the fit's domain -> null.
    "embedding_pca_project" -> ((s, dir) =>
      graft.operators.Pca.project(Tables.load(s, dir, "embeddings"))),
    // top-k deflated PCA (r13): the same ONE covariance pass (now fitted
    // on the N-adaptive deterministic id sample — 100-TB-safe, count-
    // guarded against BIGINT wrap), Hotelling deflation driver-local in
    // BigInt over the SAME collected triangle (zero extra distributed
    // passes), one scoring map pass for all axes. Variance-ordered wide
    // columns proj1_fp..proj4_fp; zero vectors -> null on every axis.
    "embedding_pca_topk" -> ((s, dir) =>
      graft.operators.Pca.projectTopK(Tables.load(s, dir, "embeddings"))),
    // reconstruction-residual outlier card (r13): the curation consumer
    // the axes exist for — energy the top-4 principal directions fail
    // to explain, per vector (high resid_frac = off-distribution /
    // junk; the SSL-prototype + SemDeDup-outlier recipe). Exact-integer
    // projections + ONE pinned IEEE residual shape -> hash-gated.
    "embedding_pca_outliers" -> ((s, dir) =>
      graft.operators.Pca.outliers(Tables.load(s, dir, "embeddings"))),
    // spectrum card (r13): per-axis fixed-point eigenvalue estimate +
    // explained-variance share — the "how concentrated is this corpus"
    // number, 4 rows, same one distributed pass as every PCA op.
    "embedding_pca_card" -> ((s, dir) =>
      graft.operators.Pca.varianceCard(Tables.load(s, dir, "embeddings"))),
    // whitened residual vectors (r13): the outliers card's
    // per-component face — x with its top-4 axis components projected
    // out, truncated to fixed-point longs and packed as a comma string
    // (check.py hashes scalar columns only).
    "embedding_pca_whiten" -> ((s, dir) =>
      graft.operators.Pca.whiten(Tables.load(s, dir, "embeddings"))),
    // per-doc n-gram novelty (r8): share of shingles with corpus df==1 —
    // the boilerplate signal pairwise near-dup misses; reuses the
    // prefix-dedup shingle+dfreq plan, shingle-less docs kept with null.
    "corpus_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // log2 length histogram (r8): bit-length bins (integer-exact both
    // engines), one pruned-column scan + partial agg.
    "corpus_length_hist" -> ((s, dir) =>
      TextOps.lengthHist(Tables.load(s, dir, "documents"))),
    // curriculum order (r8): decile-major anneal, sharded-shuffled
    // within tiers; reader order = (decile, bucket, pos).
    "pipeline_curriculum" -> ((s, dir) =>
      TextOps.curriculum(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // sharded deterministic training-order shuffle (r8): ONE exchange on
    // bucket + buckets-way parallel in-shard sorts; reader order =
    // (bucket, pos); salt-per-epoch reshuffles.
    "pipeline_shuffle" -> ((s, dir) =>
      TextOps.shardedShuffle(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // per-source cap (r9): RefinedWeb/Dolma "no host dominates" — keep
    // ≤10 docs per source by hash rank; map-side WindowGroupLimit bounds
    // the shuffle by sources×cap×tasks.
    "pipeline_sample_stratified" -> ((s, dir) =>
      TextOps.stratifiedCap(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // Batched mapPartitions decode (r8: oracle-green, was rows-only) —
    // audio blobs are REAL RIFF/WAVE containers whose chunk walk
    // recovers header fields + sample payload; every output column is an
    // integer the oracle replays by formula. Only the stub float feature
    // vector stays outside the gate (MultimodalSpec covers it).
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(s,
        Multimodal.asBlobs(Tables.load(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("format"), col("size_bytes"), col("checksum"),
          col("width"), col("height"), col("sample_rate"), col("channels"),
          col("bits_per_sample"), col("data_len"), col("n_frames"))
        .orderBy(col("doc_id"))),
    // Column-level WAV round trip (r8): wrap → chunk-walk parse as native
    // expressions; the one media container trivial enough to be built and
    // parsed byte-exactly with no codec library.
    "mm_wav_meta" -> ((s, dir) =>
      Multimodal.wavMeta(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // image twin of mm_wav_meta (r8): real BMP wrap + header parse +
    // decoded-pixel hash, oracle-replayed by formula + closed-form fold
    "mm_bmp_meta" -> ((s, dir) =>
      Multimodal.bmpMeta(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // REAL PNG decode (r10): the tiled raster crosses an actual zlib
    // codec (javax.imageio) in the batched seam; lossless roundtrip ⇒
    // the pixel hash keeps the BMP closed form; truncated-byte arm ⇒
    // nulls, never a throw
    "mm_decode_png" -> ((s, dir) =>
      Multimodal.pngDecode(s, Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // First LOSSY codec (r11): real JPEG encode/decode; only the exact
    // columns (dims, byte count, decode_ok) are gated — the
    // reconstruction-error bound lives in MultimodalSpec
    "mm_decode_jpeg" -> ((s, dir) =>
      Multimodal.jpegDecode(s, Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // MJPEG video through the lossy seam (r12): real JPEG frames inside
    // '00dc' AVI chunks, decoded frame-by-frame through the same codec;
    // exact columns gated, per-frame reconstruction bound spec-pinned
    "mm_decode_mjpeg" -> ((s, dir) =>
      Multimodal.mjpegDecode(s, Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // image resize (r9): nearest-neighbor 8×8 thumbnail of the genuine
    // BMP; picked-pixel hash replayed byte-by-byte from the tiling
    "mm_resize" -> ((s, dir) =>
      Multimodal.bmpResize(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // audio resample (r9): decimation by 4 over the genuine WAV's data
    // chunk; picked-sample hash replayed positionally from the text
    "mm_resample" -> ((s, dir) =>
      Multimodal.audioResample(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // G.711 mu-law companding roundtrip (r11): the audio-CODEC data
    // point — lossy but CLOSED-FORM, so codes, reconstruction, and the
    // worst error are all oracle-gated (the strongest lossy gate)
    "mm_ulaw" -> ((s, dir) =>
      Multimodal.ulawRoundtrip(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // perceptual image hash + dup grouping (r9): 64-bit aHash of the
    // genuine BMP, brightness-shift invariant; equal hashes counted
    "mm_phash" -> ((s, dir) =>
      Multimodal.bmpPhash(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // per-frame video fingerprint strip (r9): one aHash row per AVI
    // frame — the sequence video near-dup matches on
    "mm_video_phash" -> ((s, dir) =>
      Multimodal.aviPhash(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("frame_idx"))),
    // energy-delta audio fingerprint (r9): 15 sign-of-derivative bits
    // over 16 equal windows — level-invariant, the audio aHash
    "mm_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprint(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // video face (r8): minimal valid uncompressed AVI round trip —
    // RIFF-tree walk, frame/idx1 counts, all-frames pixel hash
    "mm_avi_meta" -> ((s, dir) =>
      Multimodal.aviMeta(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))))

  // ---- oracle SQL ----------------------------------------------------

  /** polyhash fragment: left fold (h*31+cp) mod M over codepoints. */
  private def poly(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s,''), ch -> CAST(ascii(ch) AS BIGINT))), (h, cp) -> (h*31+cp) % $M)"""

  /** The graft_build_page replay (10-word lines, coin-driven suffix /
    * boilerplate), integer-for-integer — `built(doc_id, lines)` — shared
    * by the pipeline_clean_lines and pipeline_dedup_lines oracles so the
    * two page replays can never drift.
    */
  private def builtPagesCte: String =
    s"""ws AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w, ${poly("text")} AS base
       |  FROM documents),
       |built AS (
       |  SELECT doc_id,
       |    [CASE
       |       WHEN (base + i*2654435761) % 100 >= 90 AND (base + i*2654435761) % 100 < 95
       |         THEN 'lorem ipsum dolor sit amet.'
       |       WHEN (base + i*2654435761) % 100 >= 95
       |         THEN 'please enable javascript to continue.'
       |       ELSE array_to_string(w[i*10+1 : i*10+10], ' ') ||
       |            CASE WHEN (base + i*2654435761) % 100 < 55 THEN '.'
       |                 WHEN (base + i*2654435761) % 100 < 70 THEN '!'
       |                 WHEN (base + i*2654435761) % 100 >= 80 THEN ' function() { return 1; }.'
       |                 ELSE '' END
       |     END
       |     for i in generate_series(0, (len(w)+9)//10 - 1)] AS lines
       |  FROM ws)""".stripMargin

  /** Distinct 3-gram shingle hashes per doc, as in Dedup.shingleHashes:
    * per-word polyhash combined with ((h1*31+h2) mod M * 31 + h3) mod M.
    * CTE body parameterized by source relation for composite pipelines.
    */
  private def shingleCteBody(src: String): String =
    s"""ws AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM $src),
       |whs AS (
       |  SELECT doc_id, list_transform(w, s -> ${poly("s")}) AS wh FROM ws),
       |hs0 AS (
       |  SELECT doc_id,
       |         list_distinct([(((wh[i]*31 + wh[i+1]) % $M) * 31 + wh[i+2]) % $M
       |                        for i in generate_series(1, greatest(len(wh)-2, 0))]) AS hs
       |  FROM whs),
       |hashes AS (
       |  SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs0)""".stripMargin

  private val ShingleCte = "WITH " + shingleCteBody("documents")

  private def mhSig: String = (0 until MinhashK).map { j =>
    s"list_min(list_transform(hs, h -> (h*${minhashA(j)}+${minhashB(j)}) % $P)) AS s$j"
  }.mkString(", ")

  private def mhBandKeys: String = (0 until MhBands).map { b =>
    "concat_ws(',', " + (0 until MinhashK / MhBands).map(r => s"s${b * (MinhashK / MhBands) + r}").mkString(", ") + s") AS band$b"
  }.mkString(", ")

  private def bandList(n: Int): String = (0 until n).map(b => s"band$b").mkString(", ")

  /** The SIZED MinHash pair stage (round-9 VERDICT #3) as one shared CTE
    * block — `sizing` through `verify` — replayed verbatim by every
    * oracle that embeds the dedup_minhash candidate machinery (pairs,
    * components ×2, cluster stats, both clean-corpus flagships, the
    * sizing card). kest is derived IN SQL from count(documents) with the
    * same step rule as Dedup.sizedEstK, the extended signature is
    * generated from the same (j·2654435761, j·1013904223) mod p params
    * by list comprehension (never unrolled columns), and the two
    * pre-verify filters mirror Dedup.minhashCandidatesSized: the
    * lossless length filter on the band join and the
    * ⌈kest·tau/2⌉-matches estimator cut (kest/4 for tau = 1/2 — exact in
    * both engines). Expects a `hashes(doc_id, hs, n_sh)` CTE in scope.
    */
  /** Oracle for the snapshot-ADVANCING delta stream: the corpus_delta
    * machinery unrolled over `splits` sequential shards, with the base
    * membership set accumulating each stage's novel docs —
    * base(k+1) = base(k) ∪ novel(k). The shard id replays
    * TopicStream.orderedSplitInput's offset-range rule
    * (chunk = max(doc_id) DIV splits + 1; shard = doc_id DIV chunk).
    * The global CTEs (shingles, sizing, signatures, band explosion) are
    * corpus_delta's verbatim; only the per-stage base joins differ.
    */
  def deltaAdvanceOracleSql(splits: Int): String = {
    val global =
      s"""
         |, sizing AS (SELECT CASE WHEN COUNT(*) <= 2000 THEN 16
         |  WHEN COUNT(*) <= 20000 THEN 32 ELSE 64 END AS kest FROM documents),
         |chunk AS (SELECT MAX(doc_id) // $splits + 1 AS c FROM documents),
         |ch AS (SELECT doc_id, md5(text) AS chash, doc_id % 5 = 4 AS is_new,
         |       doc_id // (SELECT c FROM chunk) AS shard FROM documents),
         |sig AS (SELECT doc_id, hs, n_sh, $mhSig FROM hashes WHERE len(hs) > 0),
         |mh_sg AS (SELECT doc_id,
         |  [list_min(list_transform(hs, h -> (h * (CASE WHEN (j*2654435761) % $P = 0
         |     THEN 1 ELSE (j*2654435761) % $P END) + (j*1013904223) % $P) % $P))
         |   for j in generate_series(1, kest)] AS sg
         |  FROM sig CROSS JOIN sizing),
         |bands AS (SELECT doc_id, n_sh, $mhBandKeys FROM sig),
         |mh_ex AS (SELECT doc_id, n_sh, band_id, band_val FROM bands
         |          UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
         |base0 AS (SELECT doc_id FROM ch WHERE NOT is_new)""".stripMargin
    val stages = (0 until splits).map { k =>
      s"""
         |, exact$k AS (
         |  SELECT n.doc_id, MIN(b.doc_id) AS exact_id
         |  FROM ch n JOIN ch b ON n.chash = b.chash
         |       JOIN base$k bs ON bs.doc_id = b.doc_id
         |  WHERE n.is_new AND n.shard = $k
         |  GROUP BY n.doc_id),
         |cand$k AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS base_id
         |  FROM mh_ex a JOIN ch ca ON ca.doc_id = a.doc_id AND ca.is_new
         |                           AND ca.shard = $k
         |       JOIN mh_ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |       JOIN base$k cb ON cb.doc_id = b.doc_id
         |  WHERE least(a.n_sh, b.n_sh) >= $JaccardTau * greatest(a.n_sh, b.n_sh)),
         |candf$k AS (
         |  SELECT cand$k.doc_id AS doc_id, cand$k.base_id AS base_id
         |  FROM cand$k JOIN mh_sg sa ON sa.doc_id = cand$k.doc_id
         |              JOIN mh_sg sb ON sb.doc_id = cand$k.base_id
         |              CROSS JOIN sizing
         |  WHERE CAST(len(list_filter([sa.sg[i] = sb.sg[i]
         |          for i in generate_series(1, kest)], x -> x)) AS BIGINT)
         |        >= CAST(ceil(kest * $JaccardTau / 2) AS BIGINT)),
         |near0$k AS (
         |  SELECT candf$k.doc_id AS doc_id, candf$k.base_id AS base_id,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
         |         len(ha.hs) AS na, len(hb.hs) AS nb
         |  FROM candf$k JOIN hashes ha ON ha.doc_id = candf$k.doc_id
         |               JOIN hashes hb ON hb.doc_id = candf$k.base_id),
         |near$k AS (
         |  SELECT doc_id, base_id AS near_id, jaccard FROM (
         |    SELECT doc_id, base_id,
         |      CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY CAST(inter AS DOUBLE)/(na+nb-inter) DESC, base_id) AS rk
         |    FROM near0$k WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau)
         |  WHERE rk = 1),
         |cls$k AS (
         |  SELECT n.doc_id, n.shard,
         |    CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |         WHEN r.near_id IS NOT NULL THEN 'near_dup'
         |         ELSE 'novel' END AS status,
         |    COALESCE(e.exact_id, r.near_id) AS base_id,
         |    CASE WHEN e.exact_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |         ELSE r.jaccard END AS jaccard
         |  FROM ch n LEFT JOIN exact$k e ON e.doc_id = n.doc_id
         |            LEFT JOIN near$k r ON r.doc_id = n.doc_id
         |  WHERE n.is_new AND n.shard = $k),
         |base${k + 1} AS (SELECT doc_id FROM base$k UNION ALL
         |  SELECT doc_id FROM cls$k WHERE status = 'novel')""".stripMargin
    }.mkString
    val union = (0 until splits).map(k => s"SELECT * FROM cls$k").mkString(" UNION ALL ")
    ShingleCte + global + stages +
      s"\nSELECT doc_id, shard, status, base_id, jaccard FROM ($union) ORDER BY doc_id"
  }


  /** Oracle for the semantic snapshot-ADVANCING delta stream: the
    * embedding_delta machinery unrolled over `splits` sequential shards
    * with the base membership accumulating each stage's novel VECTORS —
    * base(k+1) = base(k) ∪ novel(k). Shard id replays the
    * orderedSplitInput offset-range rule (chunk = max(vec_id) DIV splits
    * + 1). The centroid/assignment CTEs are embedding_delta's verbatim;
    * only the per-stage base joins differ (the deltaAdvanceOracleSql
    * pattern in embedding space).
    */
  def semanticDeltaAdvanceOracleSql(splits: Int): String = {
    val global =
      s"""
         |, $ivfCentroidCtes,
         |chunk AS (SELECT MAX(vec_id) // $splits + 1 AS c FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, list_position(cc, list_max(cc)) AS bucket,
         |         vec_id % 5 = 4 AS is_new,
         |         vec_id // (SELECT c FROM chunk) AS shard
         |  FROM ccs),
         |base0 AS (SELECT vec_id FROM assigned WHERE NOT is_new)""".stripMargin
    val stages = (0 until splits).map { k =>
      s"""
         |, cand$k AS (
         |  SELECT n.vec_id, b.vec_id AS base_id
         |  FROM assigned n JOIN assigned b ON n.bucket = b.bucket
         |       JOIN base$k bs ON bs.vec_id = b.vec_id
         |  WHERE n.is_new AND n.shard = $k),
         |verify$k AS (
         |  SELECT c.vec_id, c.base_id,
         |         ${dotSql("vn.e", "vb.e")} / (vn.nrm * vb.nrm) AS cos
         |  FROM cand$k c JOIN v vn ON vn.vec_id = c.vec_id
         |                JOIN v vb ON vb.vec_id = c.base_id),
         |ranked$k AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY vec_id) AS n_cand,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, base_id) AS rk
         |  FROM verify$k),
         |cls$k AS (
         |  SELECT a.vec_id, CAST(COALESCE(r.n_cand, 0) AS BIGINT) AS n_cand,
         |         r.base_id AS best_base, r.cos AS best_cos,
         |         CASE WHEN r.cos >= $CosTau THEN 'near_dup' ELSE 'novel' END AS verdict,
         |         a.shard
         |  FROM assigned a LEFT JOIN (SELECT * FROM ranked$k WHERE rk = 1) r
         |       ON r.vec_id = a.vec_id
         |  WHERE a.is_new AND a.shard = $k),
         |base${k + 1} AS (SELECT vec_id FROM base$k UNION ALL
         |  SELECT vec_id FROM cls$k WHERE verdict = 'novel')""".stripMargin
    }.mkString
    val union = (0 until splits).map(k => s"SELECT * FROM cls$k").mkString(" UNION ALL ")
    NormCte + global + stages +
      s"\nSELECT vec_id, n_cand, best_base, best_cos, verdict, shard FROM ($union) ORDER BY vec_id"
  }

  /** Non-printing separator for BPE segment strings in the oracle (a
    * symbol list folded into one VARCHAR — list_reduce's accumulator must
    * share the element type). Corpus words are printable tokens, so the
    * unit separator can never appear inside a symbol.
    */
  /** Word separator for the segmented-document artifact (record
    * separator - BpeSep separates symbols WITHIN a word).
    */
  private val BpeRS = "\u001e"

  private val BpeSep = "\u001f"

  /** One greedy BPE merge pass as a DuckDB string fold: merge when the
    * incoming symbol equals `bRef` and the last UNCONSUMED symbol equals
    * `aRef` — scanning resumes after a merged symbol, exactly
    * BpeImpl.mergePass. A NULL (a, b) — the no-pairs-left stage — makes
    * every WHEN comparison NULL, so the fold rebuilds seg unchanged.
    */
  private def bpeFold(segCol: String, aRef: String, bRef: String): String =
    // single line: this fragment is interpolated into strings that run
    // stripMargin AFTERWARDS, which would eat the first pipe of any
    // line-leading `||`
    s"list_reduce(list_prepend('', string_split($segCol, '$BpeSep')), " +
      "(acc, s) -> CASE WHEN acc = '' THEN s " +
      s"WHEN s = $bRef AND (CASE WHEN strpos(acc, '$BpeSep') = 0 THEN acc " +
      s"ELSE string_split(acc, '$BpeSep')[-1] END) = $aRef " +
      s"THEN CASE WHEN strpos(acc, '$BpeSep') = 0 THEN acc || s " +
      s"ELSE substr(acc, 1, length(acc) - length($aRef) - 1) || " +
      s"'$BpeSep' || $aRef || s END " +
      s"ELSE acc || '$BpeSep' || s END)"

  /** The BPE fit unrolled: word counts -> top-V fit vocabulary -> per
    * round r the weighted adjacent-pair argmax (count DESC, a, b — the
    * deterministic tie) and the greedy merge application. Produces CTEs
    * pr0/best0/fv1 ... up to fv`rounds`.
    */
  private def bpeFitCtes(vocabSize: Int, rounds: Int): String = {
    val head =
      s"""WITH wc AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '[\\s\\x{1F}\\x{1E}]+')) AS word
         |    FROM documents) WHERE word <> '' GROUP BY word),
         |topv AS MATERIALIZED (SELECT word, freq FROM wc ORDER BY freq DESC, word LIMIT $vocabSize),
         |fv0 AS MATERIALIZED (SELECT word, freq,
         |  array_to_string(string_split(word, ''), '$BpeSep') AS seg FROM topv)""".stripMargin
    val stages = (0 until rounds).map { r =>
      s"""
         |, pr$r AS (
         |  SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest([{'a': ss[i], 'b': ss[i+1]}
         |      for i in generate_series(1, len(ss)-1)]) AS p
         |    FROM (SELECT freq, string_split(seg, '$BpeSep') AS ss FROM fv$r))
         |  GROUP BY 1, 2),
         |best$r AS MATERIALIZED (SELECT a, b, cnt FROM pr$r ORDER BY cnt DESC, a, b LIMIT 1),
         |fv${r + 1} AS MATERIALIZED (
         |  SELECT word, freq, ${bpeFold("seg", "b.a", "b.b")} AS seg
         |  FROM fv$r LEFT JOIN best$r b ON TRUE)""".stripMargin
    }.mkString
    head + stages
  }

  private def sizedMhCtes: String =
    s"""sizing AS (SELECT CASE WHEN COUNT(*) <= 2000 THEN 16
       |  WHEN COUNT(*) <= 20000 THEN 32 ELSE 64 END AS kest FROM documents),
       |sig AS (SELECT doc_id, hs, n_sh, $mhSig FROM hashes WHERE len(hs) > 0),
       |mh_sg AS (SELECT doc_id,
       |  [list_min(list_transform(hs, h -> (h * (CASE WHEN (j*2654435761) % $P = 0
       |     THEN 1 ELSE (j*2654435761) % $P END) + (j*1013904223) % $P) % $P))
       |   for j in generate_series(1, kest)] AS sg
       |  FROM sig CROSS JOIN sizing),
       |bands AS (SELECT doc_id, n_sh, $mhBandKeys FROM sig),
       |mh_ex AS (SELECT doc_id, n_sh, band_id, band_val FROM bands
       |          UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
       |mh_cand0 AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.n_sh AS na0, b.n_sh AS nb0
       |  FROM mh_ex a JOIN mh_ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
       |                            AND a.doc_id < b.doc_id),
       |cand AS (
       |  SELECT doc_a, doc_b FROM mh_cand0
       |  WHERE least(na0, nb0) >= $JaccardTau * greatest(na0, nb0)),
       |candf AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN mh_sg sa ON sa.doc_id = doc_a
       |            JOIN mh_sg sb ON sb.doc_id = doc_b
       |            CROSS JOIN sizing
       |  WHERE CAST(len(list_filter([sa.sg[i] = sb.sg[i]
       |          for i in generate_series(1, kest)], x -> x)) AS BIGINT)
       |        >= CAST(ceil(kest * $JaccardTau / 2) AS BIGINT)),
       |verify AS (
       |  SELECT doc_a, doc_b,
       |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
       |         len(ha.hs) AS na, len(hb.hs) AS nb
       |  FROM candf JOIN hashes ha ON ha.doc_id = doc_a
       |             JOIN hashes hb ON hb.doc_id = doc_b)""".stripMargin

  /** The tiled-polyhash closed form for BMP pixel hashes, as two CTEs
    * following a `geo` CTE with (doc_id, text, checksum, data_len,
    * total): pixels tile the payload k = total//n times plus an r-byte
    * prefix, and H(A||B) = (H(A)·31^|B| + H(B)) mod M, so pn = 31^n,
    * pr = 31^r, hk = fold_k(h → h·pn + H(data)) and the hash is
    * (hk·pr + hr) mod M — all folds bounded by the payload length or k,
    * never by the w·3·h pixel count the kernel walks.
    */
  private def bmpPixelCtes(srcFilter: String): String =
    s"""pxa AS (
       |  SELECT doc_id, checksum AS hd, data_len AS n, total,
       |    list_reduce(list_prepend(CAST(1 AS BIGINT),
       |      [CAST(31 AS BIGINT) for i in generate_series(1, data_len)]),
       |      (p, x) -> (p*x) % $M) AS pn,
       |    list_reduce(list_prepend(CAST(1 AS BIGINT),
       |      [CAST(31 AS BIGINT) for i in generate_series(1, total % data_len)]),
       |      (p, x) -> (p*x) % $M) AS pr,
       |    ${poly("substr(text, 1, CAST(total % data_len AS INT))")} AS hr
       |  FROM geo WHERE ${srcFilter}data_len > 0),
       |px AS (
       |  SELECT doc_id,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       [hd for i in generate_series(1, total // n)]),
       |       (acc, x) -> (acc*pn + x) % $M) * pr + hr) % $M AS pixel_hash
       |  FROM pxa)""".stripMargin

  /** 60-bit universal-hash simhash (SimHash60Impl): bit i votes on the
    * parity of (h·Aᵢ+Bᵢ) mod 2³¹-1 — shingle hashes carry only ~30 bits,
    * so raw bit votes can't fill a wide signature. 60 bits keep the
    * packed BIGINT non-negative (sign-free shifts in both engines).
    */
  private def simhashExpr: String = (0 until Dedup.SimhashBits).map { i =>
    s"(CASE WHEN 2*list_sum(list_transform(hs, h -> (((h*${Dedup.simhashBitA(i)}+${Dedup.simhashBitB(i)}) % $P) & 1))) > len(hs) THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
  }.mkString(" + ")

  /** The dedup_components closure: minhash pair stage (the dedup_minhash
    * oracle verbatim) + recursive reachability min → a `labels(doc_id,
    * component_id)` CTE shared by the components query and the
    * cluster-size report.
    */
  private def componentsLabelCtes: String =
    "WITH RECURSIVE " + shingleCteBody("documents") +
      s"""
         |, $sizedMhCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verify
         |  WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT d.doc_id,
         |         CAST(least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS BIGINT) AS component_id
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id)""".stripMargin

  /** Normalized double vectors + norms, as in Similarity.vectors.
    * Split body/header so composers that need a RECURSIVE header emit
    * it themselves ([[knnRankedCtes]]) instead of patching the text
    * after the fact (r12 ADVICE). */
  private val NormCteBody =
    """v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      [x*x for x in CAST(embedding AS DOUBLE[])]), (s,x) -> s+x)) AS nrm
      |  FROM embeddings)""".stripMargin

  private val NormCte = "WITH " + NormCteBody

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$a[i]*$b[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)"

  /** The deterministic k-means fit sample (r17, mirrors
    * Similarity.sizedKmFitModulus / kmFitFilter verbatim): identity at
    * every driver-gate scale and sf1 (n <= 65536 -> km = 1, vfit ==
    * vfu), the minstd-id sample beyond — the 100-TB fit shape, now the
    * GATED shape. The fit rounds (asg/ms) scan vfit; SERVING CTEs (ccs/
    * accs) and the PQ residual sample (pqFitCtes' samp) stay on the
    * full corpus — the fit/score split.
    */
  private val kfSampleCtes: String =
    s"""kfsizing AS (SELECT CASE WHEN COUNT(*) <= ${graft.operators.Similarity.KmFitCap} THEN 1
       |  ELSE (COUNT(*) + ${graft.operators.Similarity.KmFitCap - 1}) // ${graft.operators.Similarity.KmFitCap} END AS km FROM embeddings),
       |vfit AS MATERIALIZED (
       |  SELECT vec_id, xh FROM vfu, kfsizing
       |  WHERE ((vec_id % 2147483647) * 48271) % 2147483647 % km = 0),
       |""".stripMargin

  /** Shared IVF CTEs: SQL-generated nlist-centroid codebook (same LCG as
    * Codebooks.centroidsFor), per-centroid norms, and each vector's
    * c-ordered centroid-cosine list.
    */
  private def ivfCentroidCtes: String =
    s"""cent AS (
       |  SELECT c, [CAST((((1103515245*((c+200)*$Dim+i) + 12345) % 2001) - 1000) AS DOUBLE)/1000.0
       |             for i in generate_series(0, ${Dim - 1})] AS cv
       |  FROM generate_series(0, ${NCentroids - 1}) AS t(c)),
       |cn AS (SELECT c, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM cent),
       |ccs AS (
       |  SELECT vec_id, list(${dotSql("e", "cv")} / (nrm * cnrm) ORDER BY c) AS cc
       |  FROM v CROSS JOIN cn GROUP BY vec_id)""".stripMargin

  /** The kNN-graph variant of [[ivfCentroidCtes]]: nlist derived from
    * count(embeddings) exactly as Similarity.sizedNlist derives it —
    * generate the LCG budget's 200 rows and keep c < nl (a table
    * function cannot take a subquery bound). ≤ 4096 vectors yields the
    * serving default, so gate-scale results are bit-identical to the
    * fixed CTE's.
    */
  private def ivfCentroidCtesSized: String =
    s"""nlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
       |  WHEN COUNT(*) <= 65536 THEN 128
       |  WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
       |cent AS (
       |  SELECT c, [CAST((((1103515245*((c + CASE WHEN nl <= 200 THEN 200 ELSE 10000 END)*$Dim+i) + 12345) % 2001) - 1000) AS DOUBLE)/1000.0
       |             for i in generate_series(0, ${Dim - 1})] AS cv
       |  FROM generate_series(0, 2047) AS t(c), nlsizing WHERE c < nl),
       |cn AS (SELECT c, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM cent),
       |ccs AS (
       |  SELECT vec_id, list(${dotSql("e", "cv")} / (nrm * cnrm) ORDER BY c) AS cc
       |  FROM v CROSS JOIN cn GROUP BY vec_id)""".stripMargin

  /** FIXED-POINT spherical k-means fit, unrolled (r12 — the oracle that
    * flips the fitted-codebook rows to full hash gates). Produces, after
    * `iters` rounds over the fp unit vectors: `vfu(vec_id, xh)` (the
    * BIGINT fixed-point unit vectors, zero vectors excluded) and
    * `fc{iters}(c, cv)` — the fitted fp codebook — plus the serving
    * `cn2`/`ccs` CTEs over it (ccs shaped exactly like ivfCentroidCtes'
    * so the probe/rank replay is shared verbatim). Mirrors
    * Similarity.fitCentroids / graft_fp_unit step for step: floor(e·S)
    * ints, floor(x·S/√n2) normalize, INTEGER dot argmax with
    * first-position-of-max ties (the kernel's common-positive-divisor
    * argument — see fitCentroids scaladoc), truncating `//` means,
    * empty clusters/zero means keep the previous row.
    */
  private def kmeansFitCtes(iters: Int, sized: Boolean = false): String = {
    def sumSq(arr: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [x*x for x in $arr]), (s,x) -> s+x)"
    def fpn(arr: String, n2: String) =
      s"[CAST(floor(CAST(x AS DOUBLE)*1000000.0/sqrt(CAST($n2 AS DOUBLE))) AS BIGINT) for x in $arr]"
    // sized (r16): seeds from the LADDERED row regions — c+200 for
    // nl <= 200 (bit-identical to the fixed head at every gate scale,
    // where nl = 64), the fresh 10000.. region beyond — mirroring
    // Codebooks.fpCentroidsFor; requires nlsizing in scope.
    val sg = if (sized)
      s"""sg AS (
         |  SELECT c, [(((1103515245*((c + CASE WHEN nl <= 200 THEN 200 ELSE 10000 END)*$Dim+i) + 12345) % 2001) - 1000)
         |             for i in generate_series(0, ${Dim - 1})] AS g
         |  FROM generate_series(0, 2047) AS t(c), nlsizing WHERE c < nl),""".stripMargin
    else
      s"""sg AS (
         |  SELECT c, [(((1103515245*((c+200)*$Dim+i) + 12345) % 2001) - 1000)
         |             for i in generate_series(0, ${Dim - 1})] AS g
         |  FROM generate_series(0, ${NCentroids - 1}) t(c)),""".stripMargin
    val head =
      s"""vfp AS (
         |  SELECT vec_id, [CAST(floor(e[i]*1000000.0) AS BIGINT)
         |                  for i in generate_series(1,$Dim)] AS xf FROM v),
         |vfu AS MATERIALIZED (
         |  SELECT vec_id, ${fpn("xf", "n2")} AS xh
         |  FROM (SELECT vec_id, xf, ${sumSq("xf")} AS n2 FROM vfp) WHERE n2 > 0),
         |$kfSampleCtes$sg
         |fc0 AS MATERIALIZED (
         |  SELECT c, ${fpn("g", "n2")} AS cv
         |  FROM (SELECT c, g, ${sumSq("g")} AS n2 FROM sg))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s""",
         |asg$t AS MATERIALIZED (
         |  SELECT vec_id, list_position(dd, list_max(dd)) AS bucket FROM (
         |    SELECT u.vec_id,
         |           list(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             [u.xh[i]*f.cv[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)
         |             ORDER BY f.c) AS dd
         |    FROM vfit u CROSS JOIN fc${t - 1} f GROUP BY u.vec_id)),
         |ms$t AS (
         |  SELECT a.bucket, i, SUM(u.xh[i]) AS sm, COUNT(*) AS cnt
         |  FROM asg$t a JOIN vfit u USING (vec_id)
         |       CROSS JOIN generate_series(1, $Dim) t(i)
         |  GROUP BY a.bucket, i),
         |mm$t AS (
         |  SELECT bucket, mv, ${sumSq("mv")} AS n2m FROM (
         |    SELECT bucket, list(sm // cnt ORDER BY i) AS mv FROM ms$t GROUP BY bucket)),
         |fc$t AS MATERIALIZED (
         |  SELECT p.c,
         |         CASE WHEN m.bucket IS NULL OR m.n2m = 0 THEN p.cv
         |              ELSE ${fpn("m.mv", "m.n2m")} END AS cv
         |  FROM fc${t - 1} p LEFT JOIN mm$t m ON m.bucket = p.c + 1)""".stripMargin
    }.mkString
    val serve =
      s""",
         |cn2 AS MATERIALIZED (
         |  SELECT c, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm
         |  FROM (SELECT c, CAST(cv AS DOUBLE[]) AS cv FROM fc$iters)),
         |ccs AS MATERIALIZED (
         |  SELECT vec_id, list(${dotSql("e", "cv")} / (nrm * cnrm) ORDER BY c) AS cc
         |  FROM v CROSS JOIN cn2 GROUP BY vec_id)""".stripMargin
    head + rounds + serve
  }

  /** Fixed-point PCA replay (r12, sampled fit r13): vfp/vfu are
    * kmeansFitCtes' fp-unit CTEs verbatim; the FIT pass (cov) runs over
    * `vfit` — the N-adaptive deterministic id sample (psizing derives
    * m = ⌈n/FitCap⌉ from count(embeddings) exactly as
    * Pca.sizedFitModulus does; identity at every gate scale) — while
    * SCORING stays corpus-wide over vfu (the fit/score split). cov sums
    * the exact upper triangle of Σ x̂·x̂ᵀ (DuckDB SUM(BIGINT) widens to
    * HUGEINT — the Spark aggregate's long[] is exact to ~9.2·10⁶
    * sampled rows, now ENFORCED by its count slot); the
    * unrolled rounds run C·v, take MAX(ABS(·)) and rescale by the
    * truncating `//` in HUGEINT, mirroring Pca.fitAxes' BigInt
    * arithmetic term for term; a zero C·v keeps the previous v (the
    * CASE — unreachable on a nonempty corpus, but the guard must agree
    * on both sides). Final projection: an integer SUM, order-free.
    */
  private def pcaHeadCtes: String = {
    val fitCap = graft.operators.Pca.FitCap
    def sumSq(arr: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [x*x for x in $arr]), (s,x) -> s+x)"
    NormCte +
      s""",
         |psizing AS (SELECT CASE WHEN COUNT(*) <= $fitCap THEN 1
         |  ELSE (COUNT(*) + ${fitCap - 1}) // $fitCap END AS m FROM embeddings),
         |vfp AS (
         |  SELECT vec_id, [CAST(floor(e[i]*1000000.0) AS BIGINT)
         |                  for i in generate_series(1,$Dim)] AS xf FROM v),
         |vfu AS MATERIALIZED (
         |  SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0/sqrt(CAST(n2 AS DOUBLE))) AS BIGINT) for x in xf] AS xh
         |  FROM (SELECT vec_id, xf, ${sumSq("xf")} AS n2 FROM vfp) WHERE n2 > 0),
         |vfit AS (
         |  SELECT vec_id, xh FROM vfu, psizing
         |  WHERE ${graft.operators.Pca.fitFilterSqlText}),
         |uidx AS (
         |  SELECT a.i AS i, b.j AS j
         |  FROM generate_series(1, $Dim) a(i), generate_series(1, $Dim) b(j)
         |  WHERE b.j >= a.i),
         |cov AS MATERIALIZED (
         |  SELECT i, j, SUM(xh[i]*xh[j]) AS cs FROM vfit, uidx GROUP BY i, j),
         |covf AS MATERIALIZED (
         |  SELECT i, j, cs FROM cov
         |  UNION ALL SELECT j AS i, i AS j, cs FROM cov WHERE i <> j)""".stripMargin
  }

  private def pcaProjectOracle: String = {
    val S = graft.operators.Pca.Scale
    val rounds = graft.operators.Pca.Rounds
    val head = pcaHeadCtes +
      s""",
         |p0 AS (SELECT i, CAST($S AS HUGEINT) AS pv FROM generate_series(1, $Dim) t(i))""".stripMargin
    val chain = (1 to rounds).map { t =>
      s""",
         |w$t AS MATERIALIZED (
         |  SELECT c.i, SUM(CAST(c.cs AS HUGEINT) * p.pv) AS wv
         |  FROM covf c JOIN p${t - 1} p ON p.i = c.j GROUP BY c.i),
         |m$t AS (SELECT MAX(ABS(wv)) AS m FROM w$t),
         |p$t AS MATERIALIZED (
         |  SELECT w.i, CASE WHEN m.m = 0 THEN p.pv
         |                   ELSE (w.wv * $S) // m.m END AS pv
         |  FROM w$t w JOIN p${t - 1} p ON p.i = w.i CROSS JOIN m$t m)""".stripMargin
    }.mkString
    head + chain +
      s"""
         |SELECT vv.vec_id, pr.proj_fp
         |FROM v vv LEFT JOIN (
         |  SELECT u.vec_id,
         |         CAST(SUM(u.xh[p.i] * CAST(p.pv AS BIGINT)) AS BIGINT) AS proj_fp
         |  FROM vfu u CROSS JOIN p$rounds p GROUP BY u.vec_id) pr
         |  ON pr.vec_id = vv.vec_id
         |ORDER BY vv.vec_id""".stripMargin
  }

  /** Top-k deflated PCA replay (`embedding_pca_topk`, r13): per axis a,
    * the same unrolled max-norm power chain over cf{a} (cf1 = covf in
    * HUGEINT), then Hotelling deflation — wf = C·v, λ_fp = (vᵀCv) //
    * (vᵀv), cf{a+1} = cf{a} − (λ_fp·vᵢ·vⱼ) // (vᵀv) — mirroring
    * Pca.fitAxes' BigInt recurrence term for term (den ≥ 10¹² > 0 by
    * the max-norm pin; all per-term magnitudes ≤ ~10³⁰ ≪ int128).
    * Projections: one integer SUM per axis over the corpus-wide vfu.
    */
  /** Shared head + per-axis deflation chains of the top-k PCA oracles
    * (`embedding_pca_topk` appends per-axis projections,
    * `embedding_pca_outliers` the residual arithmetic). */
  private def pcaTopkCtes: String = {
    val S = graft.operators.Pca.Scale
    val rounds = graft.operators.Pca.TopkRounds
    val nAxes = graft.operators.Pca.Axes
    val head = pcaHeadCtes +
      s""",
         |cf1 AS (SELECT i, j, CAST(cs AS HUGEINT) AS cs FROM covf)""".stripMargin
    val axes = (1 to nAxes).map { a =>
      val p0 =
        s""",
           |pa${a}_0 AS (SELECT i, CAST($S AS HUGEINT) AS pv FROM generate_series(1, $Dim) t(i))""".stripMargin
      val chain = (1 to rounds).map { t =>
        s""",
           |wa${a}_$t AS MATERIALIZED (
           |  SELECT c.i, SUM(c.cs * p.pv) AS wv
           |  FROM cf$a c JOIN pa${a}_${t - 1} p ON p.i = c.j GROUP BY c.i),
           |ma${a}_$t AS (SELECT MAX(ABS(wv)) AS m FROM wa${a}_$t),
           |pa${a}_$t AS MATERIALIZED (
           |  SELECT w.i, CASE WHEN m.m = 0 THEN p.pv
           |                   ELSE (w.wv * $S) // m.m END AS pv
           |  FROM wa${a}_$t w JOIN pa${a}_${t - 1} p ON p.i = w.i CROSS JOIN ma${a}_$t m)""".stripMargin
      }.mkString
      // wf/lm for EVERY axis (the spectrum card reads the last axis'
      // Rayleigh quotient too); the deflated matrix only below nAxes
      val rayleigh =
        s""",
           |wf$a AS MATERIALIZED (
           |  SELECT c.i, SUM(c.cs * p.pv) AS wv
           |  FROM cf$a c JOIN pa${a}_$rounds p ON p.i = c.j GROUP BY c.i),
           |lm$a AS (
           |  SELECT ((SELECT SUM(p.pv * w.wv) FROM pa${a}_$rounds p JOIN wf$a w ON w.i = p.i)
           |          // (SELECT SUM(pv * pv) FROM pa${a}_$rounds)) AS lam,
           |         (SELECT SUM(pv * pv) FROM pa${a}_$rounds) AS den)""".stripMargin
      val deflate = if (a == nAxes) "" else
        s""",
           |cf${a + 1} AS MATERIALIZED (
           |  SELECT c.i, c.j, c.cs - (l.lam * pi.pv * pj.pv) // l.den AS cs
           |  FROM cf$a c JOIN pa${a}_$rounds pi ON pi.i = c.i
           |       JOIN pa${a}_$rounds pj ON pj.i = c.j
           |       CROSS JOIN lm$a l)""".stripMargin
      p0 + chain + rayleigh + deflate
    }.mkString
    head + axes
  }

  /** The per-axis projection LEFT JOIN text shared by the two top-k
    * consumers (corpus-wide scoring over vfu — zero vectors absent ⇒
    * null through the left join). */
  private def pcaProjJoins(nAxes: Int, rounds: Int): String =
    (1 to nAxes).map { a =>
      s"""LEFT JOIN (
         |  SELECT u.vec_id,
         |         CAST(SUM(u.xh[p.i] * CAST(p.pv AS BIGINT)) AS BIGINT) AS proj
         |  FROM vfu u CROSS JOIN pa${a}_$rounds p GROUP BY u.vec_id) pr$a
         |  ON pr$a.vec_id = vv.vec_id""".stripMargin
    }.mkString("\n")

  private def pcaTopkOracle: String = {
    val rounds = graft.operators.Pca.TopkRounds
    val nAxes = graft.operators.Pca.Axes
    val projCols = (1 to nAxes).map(a => s"pr$a.proj AS proj${a}_fp").mkString(", ")
    pcaTopkCtes +
      s"""
         |SELECT vv.vec_id, $projCols
         |FROM v vv
         |${pcaProjJoins(nAxes, rounds)}
         |ORDER BY vv.vec_id""".stripMargin
  }

  /** Spectrum card (`embedding_pca_card`, r13): per axis, λ_fp = the
    * lm{a} CTE's truncating Rayleigh quotient (exact integers both
    * engines) and share = CAST(λ)/CAST(trace) — one pinned IEEE shape
    * over the same integers (both casts round identically; λ and trace
    * can exceed 2⁵³, the CAST is the ONE deterministic rounding).
    * trace = Σ Cᵢᵢ off the cov diagonal.
    */
  private def pcaCardOracle: String = {
    val nAxes = graft.operators.Pca.Axes
    val union = (1 to nAxes).map { a =>
      s"""SELECT CAST($a AS INT) AS axis, CAST(l.lam AS BIGINT) AS lam_fp,
         |       CAST(l.lam AS DOUBLE) / CAST(t.trace AS DOUBLE) AS share
         |FROM lm$a l CROSS JOIN tr t""".stripMargin
    }.mkString("\nUNION ALL\n")
    pcaTopkCtes +
      s""",
         |tr AS (SELECT CAST(SUM(cs) AS HUGEINT) AS trace FROM cov WHERE i = j)
         |SELECT axis, lam_fp, share FROM (
         |$union)
         |ORDER BY axis""".stripMargin
  }

  /** Whitened residual vectors (`embedding_pca_whiten`, r13): per
    * component, the pinned chain x̂ᵢ − Σ_a (projᵈ·v_aᵢᵈ)/denᵈ
    * left-associated, trunc()::BIGINT (toward zero — Spark's
    * cast-to-long; a bare CAST of a DOUBLE would ROUND in DuckDB and
    * diverge), packed by array_to_string (longs format identically
    * both engines). Zero vectors → NULL via the CASE (a comprehension
    * over a NULL list would yield a list of NULLs, not NULL).
    */
  private def pcaWhitenOracle: String = {
    val rounds = graft.operators.Pca.TopkRounds
    val nAxes = graft.operators.Pca.Axes
    val axCtes = (1 to nAxes).map { a =>
      s""",
         |ax$a AS (SELECT list(CAST(pv AS DOUBLE) ORDER BY i) AS v FROM pa${a}_$rounds),
         |dn$a AS (SELECT CAST(SUM(pv * pv) AS DOUBLE) AS den FROM pa${a}_$rounds)""".stripMargin
    }.mkString
    val terms = (1 to nAxes).map(a =>
      s"(CAST(pr$a.proj AS DOUBLE) * ax$a.v[i]) / dn$a.den")
    val chain = terms.foldLeft("CAST(u.xh[i] AS DOUBLE)")((acc, t) => s"($acc - $t)")
    val crosses = (1 to nAxes).map(a => s"CROSS JOIN ax$a CROSS JOIN dn$a").mkString(" ")
    pcaTopkCtes + axCtes +
      s"""
         |SELECT vv.vec_id,
         |  CASE WHEN u.vec_id IS NULL THEN NULL ELSE
         |    array_to_string([CAST(trunc($chain) AS BIGINT)
         |                     for i in generate_series(1, $Dim)], ',')
         |  END AS wfp
         |FROM v vv
         |LEFT JOIN vfu u ON u.vec_id = vv.vec_id
         |${pcaProjJoins(nAxes, rounds)}
         |$crosses
         |ORDER BY vv.vec_id""".stripMargin
  }

  /** Reconstruction-residual outliers (`embedding_pca_outliers`, r13):
    * n2x and every proj are exact integers (< 2⁵³); den_a re-derives as
    * SUM(pv·pv) (the same integer Pca.outliers interpolates as a
    * literal); the residual is the ONE pinned IEEE shape — r_a =
    * (projᵈ·projᵈ)/denᵈ (the square is rounded past 2⁵³ but it is one
    * deterministic multiply), resid left-associated n2x − r₁ − r₂ − r₃
    * − r₄, frac = resid/n2x — identical bits both engines.
    */
  private def pcaOutliersOracle: String = {
    val rounds = graft.operators.Pca.TopkRounds
    val nAxes = graft.operators.Pca.Axes
    val dens = (1 to nAxes).map { a =>
      s""",
         |dn$a AS (SELECT CAST(SUM(pv * pv) AS DOUBLE) AS den FROM pa${a}_$rounds)""".stripMargin
    }.mkString
    val rTerms = (1 to nAxes).map(a =>
      s"(CAST(pr$a.proj AS DOUBLE) * CAST(pr$a.proj AS DOUBLE) / dn$a.den)")
    val resid = rTerms.foldLeft("CAST(n2.n2x AS DOUBLE)")((acc, r) => s"($acc - $r)")
    val crossDens = (1 to nAxes).map(a => s"CROSS JOIN dn$a").mkString(" ")
    pcaTopkCtes + dens +
      s""",
         |n2 AS (
         |  SELECT vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [x*x for x in xh]), (s,x) -> s+x) AS n2x FROM vfu)
         |SELECT vv.vec_id, $resid AS resid,
         |       $resid / CAST(n2.n2x AS DOUBLE) AS resid_frac
         |FROM v vv
         |LEFT JOIN n2 ON n2.vec_id = vv.vec_id
         |${pcaProjJoins(nAxes, rounds)}
         |$crossDens
         |ORDER BY vv.vec_id""".stripMargin
  }

  /** FIXED-POINT per-subspace PQ residual k-means, unrolled (r12) — the
    * data-fitted sub-codebooks over the INTEGER residuals x̂ − ĉfp_b of
    * the first-`book.fitSample` sample, seeded by the LCG integers ·250 (the
    * /4000 value scale in fp). Requires vfu + ccs CTEs in scope (the
    * coarse bucket b is the SERVING assignment — exactly
    * Similarity.fitPqCodebooks) plus `coarseRef(c, cv)` — the fp-scale
    * coarse book residuals subtract against (the fitted fc{iters} for
    * the fully-fitted row; the fp-normalized laddered book `cfp` for
    * the resfit row, r16). Produces pq{iters}(m, k, pv) with 0-based k
    * and BIGINT fp code vectors.
    */
  /** The shared triangle-enumeration CTEs (r17b): symmetrized edges →
    * degrees → undirected pairs → the (degree, id)-oriented edge list →
    * the closed-triangle corner frame (lo, h1, h2), one row per
    * triangle — the exact Graph.triangleFrames construction. Composes
    * after [[knnRankedCtes]]. */
  private val triangleCtes: String =
    s""",
       |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY 1),
       |und AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs),
       |orient AS MATERIALIZED (
       |  SELECT CASE WHEN da.d <= db.d THEN u.src ELSE u.dst END AS lo,
       |         CASE WHEN da.d <= db.d THEN u.dst ELSE u.src END AS hi
       |  FROM und u JOIN deg da ON da.id = u.src JOIN deg db ON db.id = u.dst),
       |corners AS MATERIALIZED (
       |  SELECT x.lo AS lo, x.hi AS h1, y.hi AS h2
       |  FROM orient x JOIN orient y ON y.lo = x.lo AND y.hi > x.hi
       |       JOIN und c ON c.src = x.hi AND c.dst = y.hi)""".stripMargin

  private def pqFitCtes(coarseRef: String, iters: Int,
                        book: PqBook = PqBook.Narrow,
                        prefix: String = ""): String = {
    // `book` fixes the residual-book shape exactly as it does for
    // Similarity.fitPqCodebooks — subspace count, codes per subspace,
    // first-rows sample and LCG seed region (Codebooks.PqBook, the one
    // ledger); the CTE text below references them only through it.
    // prefix (r17b): CTE-name prefix so TWO book fits can share one
    // statement (pq_error_card) — "" keeps the text byte-identical for
    // every existing gate.
    val (maxSample, pqK, seedRowBase) = (book.fitSample, book.k, book.seedRowBase)
    val PqM = book.m
    val PqSub = book.sub
    def p(name: String) = s"$prefix$name"
    val head =
      s""",
         |${p("samp")} AS MATERIALIZED (
         |  SELECT u.vec_id, u.xh, list_position(s.cc, list_max(s.cc)) AS b
         |  FROM vfu u JOIN ccs s USING (vec_id)
         |  ORDER BY u.vec_id LIMIT $maxSample),
         |${p("pres")} AS MATERIALIZED (
         |  SELECT s.vec_id, m,
         |         [s.xh[m*$PqSub+d] - f.cv[m*$PqSub+d]
         |          for d in generate_series(1,$PqSub)] AS r
         |  FROM ${p("samp")} s JOIN $coarseRef f ON f.c = s.b - 1
         |       CROSS JOIN generate_series(0, ${PqM - 1}) t(m)),
         |${p("pq0")} AS MATERIALIZED (
         |  SELECT m, k, [(((1103515245*(($seedRowBase+m*$pqK+k)*$Dim+d) + 12345) % 2001) - 1000) * 250
         |                for d in generate_series(0, ${PqSub - 1})] AS pv
         |  FROM generate_series(0, ${PqM - 1}) tm(m)
         |       CROSS JOIN generate_series(0, ${pqK - 1}) tk(k))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s""",
         |${p(s"pa$t")} AS (
         |  SELECT vec_id, m, list_position(ds, list_min(ds)) - 1 AS k FROM (
         |    SELECT r.vec_id, r.m,
         |           list(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             [(r.r[d]-q.pv[d])*(r.r[d]-q.pv[d]) for d in generate_series(1,$PqSub)]),
         |             (s,x) -> s+x) ORDER BY q.k) AS ds
         |    FROM ${p("pres")} r JOIN ${p(s"pq${t - 1}")} q ON q.m = r.m GROUP BY r.vec_id, r.m)),
         |${p(s"ps$t")} AS (
         |  SELECT a.m, a.k, d, SUM(r.r[d]) AS sm, COUNT(*) AS cnt
         |  FROM ${p(s"pa$t")} a JOIN ${p("pres")} r ON r.vec_id = a.vec_id AND r.m = a.m
         |       CROSS JOIN generate_series(1, $PqSub) td(d)
         |  GROUP BY a.m, a.k, d),
         |${p(s"pq$t")} AS MATERIALIZED (
         |  SELECT p.m, p.k, CASE WHEN s.k IS NULL THEN p.pv ELSE s.nv END AS pv
         |  FROM ${p(s"pq${t - 1}")} p LEFT JOIN (
         |    SELECT m, k, list(sm // cnt ORDER BY d) AS nv FROM ${p(s"ps$t")} GROUP BY m, k) s
         |    ON s.m = p.m AND s.k = p.k)""".stripMargin
    }.mkString
    head + rounds
  }

  /** The PQ quantization-error decision card replay (r17b): ONE shared
    * laddered coarse fit (kmeansFitCtes sized), BOTH registered
    * residual-book fits against it (pqFitCtes — the narrow 8×16 default
    * and the prefixed 16×64 m16 book), then every vector's serving-space
    * reconstruction error Σ_m min_k ‖r_m − pq_m[k]‖² folded exactly as
    * the graft_pq_error kernel does (per-k left fold, ascending-m left
    * fold, trunc at the COARSE fp 10⁶ — r18: at 10¹² a 1-ulp chain
    * divergence reached a trunc boundary and flipped the driver-box
    * hash), reduced to one row per book. Sums
    * aggregate in DECIMAL(38,0) (BIGINT per-vector values, HUGEINT sum
    * cast — 10⁹⁺ vectors cannot overflow).
    */
  private def pqErrorCardOracle: String = {
    def bookCtes(suffix: String, pqRef: String, book: PqBook): String = {
      val sub = book.sub
      s""",
         |pqv$suffix AS (SELECT m, k, [CAST(x AS DOUBLE)/1000000.0 for x in pv] AS pv FROM $pqRef),
         |dm$suffix AS (
         |  SELECT vec_id, q.m AS m,
         |         list_min(list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           [(r.r[q.m*$sub+d]-q.pv[d])*(r.r[q.m*$sub+d]-q.pv[d])
         |            for d in generate_series(1,$sub)]), (s,x) -> s+x))) AS emin
         |  FROM vres r CROSS JOIN pqv$suffix q GROUP BY vec_id, q.m),
         |errs$suffix AS (
         |  SELECT vec_id,
         |         CAST(trunc(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list(emin ORDER BY m)), (s,x) -> s+x) * 1000000.0) AS BIGINT) AS err_fp
         |  FROM dm$suffix GROUP BY vec_id),
         |card$suffix AS (
         |  SELECT COUNT(*) AS n_vecs,
         |         CAST(SUM(err_fp) AS DECIMAL(38,0)) AS sum_err_fp,
         |         MAX(err_fp) AS max_err_fp,
         |         CAST(SUM(CASE WHEN err_fp < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_err_lo,
         |         CAST(SUM(CASE WHEN err_fp >= 100000 AND err_fp < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_err_mid,
         |         CAST(SUM(CASE WHEN err_fp >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_err_hi
         |  FROM errs$suffix)""".stripMargin
    }
    NormCte +
      s"""
         |, nlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
         |  WHEN COUNT(*) <= 65536 THEN 128
         |  WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
         |${kmeansFitCtes(3, sized = true)}${pqFitCtes("fc3", 5)}${
           pqFitCtes("fc3", 5, PqBook.M16, prefix = "w")},
         |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn2),
         |vb AS (SELECT vec_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
         |vres AS MATERIALIZED (
         |  SELECT v.vec_id,
         |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
         |  FROM vb JOIN v USING (vec_id) JOIN chat ON chat.c = vb.bucket - 1)${
           bookCtes("n", "pq5", PqBook.Narrow)}${bookCtes("w", "wpq5", PqBook.M16)}
         |SELECT '${PqBook.Narrow.label}' AS book, * FROM cardn
         |UNION ALL SELECT '${PqBook.M16.label}' AS book, * FROM cardw
         |ORDER BY book""".stripMargin
  }

  /** The fully-FITTED laddered IVF-PQ serve replay (r16; parameterized
    * r17): laddered coarse fp k-means (kmeansFitCtes sized — seeds from
    * the 10000.. region past nl 200, fit rounds over the kfsizing/vfit
    * deterministic sample) + the residual fit against the FITTED book
    * (pqFitCtes over fc3), then the sized serve (ps-driven probes,
    * rf-driven shortlist) over the fitted chat/pqv. `baseProbes` is the
    * recall-target dial (8 = standard, 16 = high — probesForRecall);
    * the fit CTEs are probe-independent, so both registered rows replay
    * the IDENTICAL books.
    */
  private def ivfPqFittedSizedOracle(baseProbes: Int,
                                     book: PqBook = PqBook.Narrow,
                                     refineMul: Int = 1): String = {
    val PqM = book.m
    val PqSub = book.sub
    val pqK = book.k
    val coarse = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[q.e[i]/q.nrm * ch.ch[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)"
    val terms = s"flatten([[q.e[m*$PqSub+d]/q.nrm * pqf.pq[m*$pqK + codes[m+1]][d] " +
      s"for d in generate_series(1,$PqSub)] for m in generate_series(0,${PqM - 1})])"
    NormCte +
      s"""
         |, nlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
         |  WHEN COUNT(*) <= 65536 THEN 128
         |  WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
         |psizing AS (SELECT CASE WHEN nl <= 128 THEN $baseProbes
         |  ELSE $baseProbes * (nl // 128) END AS ps FROM nlsizing),
         |rsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN 4
         |    WHEN COUNT(*) <= 65536 THEN 8
         |    WHEN COUNT(*) <= 1048576 THEN 16 ELSE 32 END AS rf FROM embeddings),
         |${kmeansFitCtes(3, sized = true)}${pqFitCtes("fc3", 5, book)},
         |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn2),
         |pqv AS (SELECT m, k, [CAST(x AS DOUBLE)/1000000.0 for x in pv] AS pv FROM pq5),
         |pqf AS (SELECT list(pv ORDER BY m*$pqK + k) AS pq FROM pqv),
         |cb AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM ccs WHERE vec_id >= 8),
         |sres AS (
         |  SELECT cb.corpus_id, cb.bucket,
         |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
         |  FROM cb JOIN v ON v.vec_id = cb.corpus_id JOIN chat ON chat.c = cb.bucket - 1),
         |sdists AS (
         |  SELECT corpus_id, bucket, m,
         |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           [(r[m*$PqSub+d] - pv[d]) * (r[m*$PqSub+d] - pv[d])
         |            for d in generate_series(1,$PqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
         |  FROM sres CROSS JOIN pqv GROUP BY corpus_id, bucket, m),
         |scodes AS MATERIALIZED (
         |  SELECT corpus_id, bucket,
         |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
         |  FROM sdists GROUP BY corpus_id, bucket),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, ${16 * baseProbes}) if p <= ps]) AS bucket
         |  FROM ccs, psizing WHERE vec_id < 8),
         |cand AS (SELECT DISTINCT query_id, corpus_id, bucket, codes FROM scodes JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id,
         |         list_reduce(list_prepend($coarse, $terms), (s,x) -> s+x) AS acos
         |  FROM cand JOIN v q ON q.vec_id = query_id
         |            JOIN chat ch ON ch.c = bucket - 1
         |            CROSS JOIN pqf),
         |short AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, corpus_id) AS srnk
         |    FROM scored)
         |  CROSS JOIN rsizing WHERE srnk <= $TopK * rf * $refineMul),
         |exact AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM short JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM exact)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin
  }

  /** The AUGMENTED-space twin of [[kmeansFitCtes]] (r15 — the
    * sim_topk_mips_ivf_fitted gate): the same fixed-point k-means
    * recurrence over the (Dim+1)-dim Bachrach reduction — `va` appends
    * the exact-IEEE augmentation (queries 0, corpus sqrt(mx²−nrm²)
    * over the SQL-computed corpus max, the mmax shape the formula-book
    * MIPS oracle already uses), seeds come from the rows-600 MIPS LCG
    * integers (Codebooks.seedMipsCentroidsFp mirrored), and the serve
    * CTEs close with `accs` — each vector's augmented cosine list
    * against the fitted book, shaped exactly like the formula oracle's
    * accs so the probe/rank replay is shared verbatim.
    */
  private def mipsKmeansFitCtes(iters: Int, sized: Boolean = false): String = {
    val d1 = Dim + 1
    def dotA(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$a[i]*$b[i] for i in generate_series(1,$d1)]), (s,x) -> s+x)"
    def sumSq(arr: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [x*x for x in $arr]), (s,x) -> s+x)"
    def fpn(arr: String, n2: String) =
      s"[CAST(floor(CAST(x AS DOUBLE)*1000000.0/sqrt(CAST($n2 AS DOUBLE))) AS BIGINT) for x in $arr]"
    val head =
      s"""mmax AS (SELECT MAX(nrm) AS mx FROM v WHERE vec_id >= 8),
         |va AS (
         |  SELECT vec_id, CASE WHEN vec_id < 8 THEN list_append(e, 0.0)
         |                      ELSE list_append(e, sqrt(mx*mx - nrm*nrm)) END AS ea
         |  FROM v CROSS JOIN mmax),
         |vfp AS (
         |  SELECT vec_id, [CAST(floor(ea[i]*1000000.0) AS BIGINT)
         |                  for i in generate_series(1,$d1)] AS xf FROM va),
         |vfu AS MATERIALIZED (
         |  SELECT vec_id, ${fpn("xf", "n2")} AS xh
         |  FROM (SELECT vec_id, xf, ${sumSq("xf")} AS n2 FROM vfp) WHERE n2 > 0),
         |${kfSampleCtes}sg AS (
         |  SELECT c, [(((1103515245*((c+${
           if (sized) s"CASE WHEN nl <= $NCentroids THEN ${graft.functions.Codebooks.MipsRowBase} ELSE ${graft.functions.Codebooks.MipsBigRowBase} END"
           else graft.functions.Codebooks.MipsRowBase.toString})*$d1+i) + 12345) % 2001) - 1000)
         |             for i in generate_series(0, ${d1 - 1})] AS g
         |  FROM ${if (sized) "generate_series(0, 2047) AS t(c), mnlsizing WHERE c < nl"
                  else s"generate_series(0, ${NCentroids - 1}) t(c)"}),
         |fc0 AS MATERIALIZED (
         |  SELECT c, ${fpn("g", "n2")} AS cv
         |  FROM (SELECT c, g, ${sumSq("g")} AS n2 FROM sg))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s""",
         |asg$t AS MATERIALIZED (
         |  SELECT vec_id, list_position(dd, list_max(dd)) AS bucket FROM (
         |    SELECT u.vec_id,
         |           list(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             [u.xh[i]*f.cv[i] for i in generate_series(1,$d1)]), (s,x) -> s+x)
         |             ORDER BY f.c) AS dd
         |    FROM vfit u CROSS JOIN fc${t - 1} f GROUP BY u.vec_id)),
         |ms$t AS (
         |  SELECT a.bucket, i, SUM(u.xh[i]) AS sm, COUNT(*) AS cnt
         |  FROM asg$t a JOIN vfit u USING (vec_id)
         |       CROSS JOIN generate_series(1, $d1) t(i)
         |  GROUP BY a.bucket, i),
         |mm$t AS (
         |  SELECT bucket, mv, ${sumSq("mv")} AS n2m FROM (
         |    SELECT bucket, list(sm // cnt ORDER BY i) AS mv FROM ms$t GROUP BY bucket)),
         |fc$t AS MATERIALIZED (
         |  SELECT p.c,
         |         CASE WHEN m.bucket IS NULL OR m.n2m = 0 THEN p.cv
         |              ELSE ${fpn("m.mv", "m.n2m")} END AS cv
         |  FROM fc${t - 1} p LEFT JOIN mm$t m ON m.bucket = p.c + 1)""".stripMargin
    }.mkString
    val serve =
      s""",
         |cn2 AS MATERIALIZED (
         |  SELECT c, cv, sqrt(${dotA("cv", "cv")}) AS cnrm
         |  FROM (SELECT c, CAST(cv AS DOUBLE[]) AS cv FROM fc$iters)),
         |accs AS MATERIALIZED (
         |  SELECT vec_id, list(${dotA("ea", "cv")} / (sqrt(${dotA("ea", "ea")}) * cnrm) ORDER BY c) AS cc
         |  FROM va CROSS JOIN cn2 GROUP BY vec_id)""".stripMargin
    head + rounds + serve
  }

  /** The kNN candidate/score/rank CTEs (the sim_knn_join_ivf replay up
    * to `ranked(query_id, corpus_id, cos, rnk)`), shared by every
    * kNN-graph oracle; `pairs` keeps the exact cos (bit-identical in
    * both orientations — per-element products commute and both folds
    * run in index order), so the threshold consumers read it verbatim.
    */
  private def knnRankedCtes(recursive: Boolean = false): String =
    (if (recursive) "WITH RECURSIVE " else "WITH ") + NormCteBody +
    s"""
       |, $ivfCentroidCtesSized,
       |psizing AS (SELECT CASE WHEN nl <= 128 THEN $KnnProbes
       |  ELSE $KnnProbes * (nl // 128) END AS ps FROM nlsizing),
       |corpus AS (
       |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id,
       |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
       |                 for p in generate_series(1, ${16 * KnnProbes}) if p <= ps]) AS bucket
       |  FROM ccs, psizing),
       |cand AS (
       |  SELECT DISTINCT query_id, corpus_id
       |  FROM corpus JOIN probes USING (bucket) WHERE query_id <> corpus_id),
       |scored AS (
       |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
       |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
       |  FROM scored),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT least(query_id, corpus_id) AS pa,
       |         greatest(query_id, corpus_id) AS pb, cos
       |  FROM ranked WHERE rnk <= $KnnK)""".stripMargin

  /** The symmetrized edge list + the unrolled fixed-point PageRank
    * recurrence over it (r0..r`rounds` chained; graph CTEs MATERIALIZED
    * so the rounds replay one edge list — the r11 sf1 fix). Composes
    * after [[knnRankedCtes]].
    */
  private def knnRankChain(rounds: Int, s: Long): String = {
    val head =
      s""",
         |edges AS MATERIALIZED (
         |  SELECT pa AS src, pb AS dst FROM pairs
         |  UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CAST($s AS BIGINT) AS r FROM nodes)""".stripMargin
    val chain = (1 to rounds).map { t =>
      s""",
         |r$t AS (
         |  SELECT n.id,
         |    CAST((15 * $s) // 100 + (85 * COALESCE(sh.m, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.r // d.d) AS m
         |    FROM edges e JOIN r${t - 1} p ON p.id = e.src JOIN deg d ON d.id = e.src
         |    GROUP BY e.dst) sh ON sh.id = n.id)""".stripMargin
    }.mkString
    head + chain
  }

  /** kNN-graph pagerank replay, shared VERBATIM by `knn_pagerank` and
    * its build-once/rank-many twin `knn_pagerank_indexed` (r12 — the
    * bucketed edge layout must never change answers): the
    * sim_knn_join_ivf CTEs build the top-k neighbor pairs, then the
    * parts_pagerank integer power iteration runs over the symmetrized
    * edge list (r0..r5 chained).
    */
  private lazy val knnPagerankOracle: String =
    knnRankedCtes() + knnRankChain(5, 1000000000000L) +
      s"""
         |SELECT id AS vec_id, r AS rank_fp,
         |  CAST(row_number() OVER (ORDER BY r DESC, id) AS INT) AS rnk
         |FROM r5 ORDER BY r DESC, id LIMIT 20""".stripMargin

  /** Luby-round diversity sample (`knn_diversity_sample`): a node is
    * selected iff its r5 rank beats every neighbor's, ties toward the
    * smaller id — a pure integer predicate over the same rank chain the
    * pagerank oracle replays, so the selected set is engine-exact.
    */
  private lazy val knnDiversityOracle: String =
    knnRankedCtes() + knnRankChain(5, 1000000000000L) +
      s"""
         |SELECT me.id AS vec_id, me.r AS rank_fp, d.d AS deg
         |FROM r5 me JOIN deg d ON d.id = me.id
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM edges e JOIN r5 nb ON nb.id = e.dst
         |  WHERE e.src = me.id
         |    AND (nb.r > me.r OR (nb.r = me.r AND nb.id < me.id)))
         |ORDER BY rank_fp DESC, vec_id""".stripMargin

  /** Iterated Luby MIS (`knn_diversity_mis`, r13): the unrolled
    * fixed-point of the diversity sample — per round t, pri_t is the
    * shared Graph.misPrioritySql formula (round 1 = the r5 rank, later
    * rounds the per-round LCG re-randomization), sel{t} keeps every
    * still-alive node whose priority beats all live neighbors' (NOT
    * EXISTS — the r12 diversity predicate restricted to live edges),
    * and al{t} deletes the selected closed neighborhoods. Rounds past
    * convergence are no-ops on the empty alive set, so the fixed
    * [[graft.operators.Graph.MisMaxRounds]]-deep unroll gates any
    * corpus whose Scala loop converged within the same fuse.
    */
  private def knnMisChainCtes(recursive: Boolean = false): String = {
    val rounds = graft.operators.Graph.MisMaxRounds
    val chain = (1 to rounds).map { t =>
      val pri = graft.operators.Graph.misPrioritySql(t, "id", "r")
      s""",
         |pri$t AS MATERIALIZED (SELECT id, r, $pri AS pri FROM al${t - 1}),
         |le$t AS MATERIALIZED (
         |  SELECT e.src, e.dst, ps.pri AS spri
         |  FROM edges e JOIN pri$t ps ON ps.id = e.src
         |       JOIN pri$t pd ON pd.id = e.dst),
         |sel$t AS MATERIALIZED (
         |  SELECT p.id, p.r FROM pri$t p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM le$t e
         |    WHERE e.dst = p.id
         |      AND (e.spri > p.pri OR (e.spri = p.pri AND e.src < p.id)))),
         |al$t AS MATERIALIZED (
         |  SELECT a.id, a.r FROM al${t - 1} a
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$t s WHERE s.id = a.id)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM le$t e JOIN sel$t s ON s.id = e.src
         |      WHERE e.dst = a.id))""".stripMargin
    }.mkString
    knnRankedCtes(recursive) + knnRankChain(5, 1000000000000L) +
      s""",
         |al0 AS (SELECT id, r FROM r5)""".stripMargin + chain
  }

  private lazy val knnDiversityMisOracle: String = {
    val rounds = graft.operators.Graph.MisMaxRounds
    val union = (1 to rounds).map(t =>
      s"SELECT id AS vec_id, r AS rank_fp, CAST($t AS INT) AS sel_round FROM sel$t")
      .mkString("\n  UNION ALL ")
    knnMisChainCtes() +
      s"""
         |SELECT vec_id, rank_fp, sel_round FROM (
         |  $union)
         |ORDER BY vec_id""".stripMargin
  }

  /** MIS representative assignment (`knn_mis_assign`, r13): selected
    * nodes map to themselves (null cos); every unselected node takes
    * its best selected kNN neighbor by (exact index cos DESC, id ASC)
    * — total by MAXIMALITY. The cosine re-reads the pairs CTE verbatim
    * (the same exact double the materialized index carries).
    */
  /** The shared assignment CTEs: MIS chain + selected union + the
    * cosine-oriented edge replay + per-node best pick + the final
    * `assign(vec_id, rep_id, cos, is_rep)` relation — consumed by both
    * `knn_mis_assign` (row dump) and `knn_mis_cluster_stats` (the
    * per-representative card, r14).
    */
  private lazy val knnMisAssignCtes: String = {
    val rounds = graft.operators.Graph.MisMaxRounds
    val union = (1 to rounds).map(t => s"SELECT id FROM sel$t")
      .mkString("\n  UNION ALL ")
    knnMisChainCtes() +
      s""",
         |selall AS MATERIALIZED (
         |  $union),
         |ecos AS (
         |  SELECT pa AS src, pb AS dst, cos FROM pairs
         |  UNION ALL SELECT pb AS src, pa AS dst, cos FROM pairs),
         |asg AS (
         |  SELECT e.src AS vec_id, e.dst AS rep_id, e.cos,
         |         row_number() OVER (PARTITION BY e.src
         |                            ORDER BY e.cos DESC, e.dst) AS rn
         |  FROM ecos e
         |  WHERE EXISTS (SELECT 1 FROM selall s WHERE s.id = e.dst)
         |    AND NOT EXISTS (SELECT 1 FROM selall s WHERE s.id = e.src)),
         |assign AS (
         |  SELECT s.id AS vec_id, s.id AS rep_id, CAST(NULL AS DOUBLE) AS cos,
         |         TRUE AS is_rep FROM selall s
         |  UNION ALL
         |  SELECT vec_id, rep_id, cos, FALSE AS is_rep FROM asg WHERE rn = 1)""".stripMargin
  }

  private lazy val knnMisAssignOracle: String =
    knnMisAssignCtes +
      s"""
         |SELECT vec_id, rep_id, cos, is_rep FROM assign
         |ORDER BY vec_id""".stripMargin

  /** Per-representative cluster card (`knn_mis_cluster_stats`, r14):
    * COUNT is an integer and MIN/MAX over doubles are order-free (the
    * rep's own null-cos row is ignored identically by both engines), so
    * the card hash-gates on top of the shared assignment chain.
    */
  private lazy val knnMisClusterStatsOracle: String =
    knnMisAssignCtes +
      s"""
         |SELECT rep_id, COUNT(*) AS n_members,
         |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
         |FROM assign GROUP BY rep_id
         |ORDER BY rep_id""".stripMargin

  /** Combined consumer card (`knn_consumer_card`, r15): ONE statement
    * composing the rank chain (graph card + PageRank peak), the MIS
    * unroll (selected count + convergence depth), and the recursive
    * reach closure (SemDeDup census) over the shared kNN pair CTEs —
    * every column an integer or fixed-point BIGINT, full hash gate.
    * The Scala side builds the index once and runs all four consumers
    * off it; the oracle replays all four off the same `pairs` relation,
    * so the shared-build layout is gate-proven to never change any
    * consumer's answer.
    */
  private lazy val knnConsumerCardOracle: String = {
    val rounds = graft.operators.Graph.MisMaxRounds
    val union = (1 to rounds).map(t =>
      s"SELECT id, CAST($t AS INT) AS t FROM sel$t").mkString("\n  UNION ALL ")
    knnMisChainCtes(recursive = true) +
      s""",
         |selu AS (
         |  $union),
         |miscard AS (
         |  SELECT COUNT(*) AS mis_selected, MAX(t) AS mis_rounds FROM selu),
         |gcard AS (
         |  SELECT COUNT(*) AS n_nodes, CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
         |         CAST(MAX(d) AS BIGINT) AS max_deg FROM deg),
         |prtop AS (
         |  SELECT id AS pr_top_id, r AS pr_top_rank FROM r5
         |  ORDER BY r DESC, id LIMIT 1),
         |spairs AS (SELECT pa, pb FROM pairs WHERE cos >= $CosTau),
         |sedges AS (SELECT pa AS src, pb AS dst FROM spairs
         |           UNION ALL SELECT pb, pa FROM spairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN sedges e ON r.dst = e.src),
         |labels AS (
         |  SELECT vv.vec_id,
         |         CAST(least(vv.vec_id, coalesce(min(r.dst), vv.vec_id)) AS BIGINT) AS rep_id
         |  FROM v vv LEFT JOIN reach r ON r.src = vv.vec_id
         |  GROUP BY vv.vec_id),
         |sdcard AS (
         |  SELECT COUNT(*) AS n_vectors,
         |         CAST(SUM(CASE WHEN rep_id = vec_id THEN 1 ELSE 0 END) AS BIGINT) AS sd_reps
         |  FROM labels)
         |SELECT n_nodes, n_edges, max_deg, pr_top_id, pr_top_rank,
         |       mis_selected, mis_rounds, n_vectors, sd_reps
         |FROM gcard, prtop, miscard, sdcard""".stripMargin
  }

  /** SemDeDup neighborhoods (`knn_semdedup`): the cos ≥ tau sub-graph of
    * the kNN pairs, closed by the same recursive reachability-min the
    * other components oracles use; every vector labels with its
    * neighborhood representative (the component minimum), keep =
    * "I am the representative". Singletons keep themselves via the
    * left join-back.
    */
  private lazy val knnSemdedupOracle: String =
    knnRankedCtes(recursive = true) +
      s""",
         |spairs AS (SELECT pa, pb FROM pairs WHERE cos >= $CosTau),
         |sedges AS (SELECT pa AS src, pb AS dst FROM spairs
         |           UNION ALL SELECT pb, pa FROM spairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN sedges e ON r.dst = e.src)
         |SELECT vv.vec_id,
         |       CAST(least(vv.vec_id, coalesce(min(r.dst), vv.vec_id)) AS BIGINT) AS rep_id,
         |       least(vv.vec_id, coalesce(min(r.dst), vv.vec_id)) = vv.vec_id AS keep
         |FROM v vv LEFT JOIN reach r ON r.src = vv.vec_id
         |GROUP BY vv.vec_id
         |ORDER BY vec_id""".stripMargin

  /** Sign-LSH band index, with the hyperplane codebook GENERATED in SQL
    * from the same LCG formula as Codebooks.planes — the oracle scales to
    * any bands × planes without inlining thousands of literals. Yields
    * `bands(vec_id, band_id, band_val)` in long form; dot products fold
    * in index order (list_reduce), matching the fused kernel exactly.
    */
  private def planesCte: String =
    s"""pl AS (
       |  SELECT p, [CAST((((1103515245*(p*$Dim+i) + 12345) % 2001) - 1000) AS DOUBLE)/1000.0
       |             for i in generate_series(0, ${Dim - 1})] AS pv
       |  FROM generate_series(0, ${NPlanes - 1}) AS t(p)),
       |pb AS (
       |  SELECT vec_id, p // $PlanesPerBand AS band_id,
       |         CASE WHEN ${dotSql("e", "pv")} >= 0 THEN (1 << (p % $PlanesPerBand)) ELSE 0 END AS bit
       |  FROM v CROSS JOIN pl),
       |bands AS (SELECT vec_id, band_id, SUM(bit) AS band_val FROM pb GROUP BY 1, 2)""".stripMargin

  private def stopHitsSql(list: Seq[String]): String =
    s"CAST(len(list_filter(w, x -> list_contains([${list.map(t => s"'$t'").mkString(", ")}], x))) AS BIGINT)"

  /** Shared quality-filter → exact-dedup → shingle prefix of the two
    * clean-corpus oracles (they differ only in the near-dup stage).
    */
  private def cleanCorpusPrefix: String =
    s"""WITH wq AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
       |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text, n_chars, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
       |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
       |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
       |  FROM wq),
       |survivors AS (
       |  SELECT doc_id, text,
       |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
       |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
       |  FROM m
       |  WHERE 0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
       |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) >= 0.48),
       |keepers AS (SELECT MIN(doc_id) AS doc_id FROM survivors GROUP BY md5(text)),
       |after_exact AS (SELECT s.* FROM survivors s JOIN keepers USING (doc_id)),
       |${shingleCteBody("after_exact")}""".stripMargin

  // both component algorithms converge to the same per-component minimum
  // label, so the star variant replays the identical recursive closure
  def oracles: Map[String, String] =
    oracleEntries + ("dedup_components_star" -> oracleEntries("dedup_components"))

  private def oracleEntries: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "dedup_ngram_jaccard" -> (ShingleCte +
      s"""
         |, ex AS (SELECT doc_id, n_sh, unnest(hs) AS h FROM hashes),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         max(a.n_sh) AS na, max(b.n_sh) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard
         |FROM pairs WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau
         |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_ngram_prefix" -> (ShingleCte +
      s"""
         |, ex AS (SELECT doc_id, n_sh, unnest(hs) AS h FROM hashes),
         |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
         |ranked AS (
         |  SELECT doc_id, n_sh, h,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rk
         |  FROM ex JOIN dfreq USING (h)),
         |prefix AS (
         |  SELECT doc_id, h FROM ranked
         |  WHERE rk <= n_sh - (n_sh * 1 + 1) // 2 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id),
         |verify AS (
         |  SELECT doc_a, doc_b,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
         |         len(ha.hs) AS na, len(hb.hs) AS nb
         |  FROM cand JOIN hashes ha ON ha.doc_id = doc_a
         |            JOIN hashes hb ON hb.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard
         |FROM verify WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau
         |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_minhash" -> (ShingleCte +
      s"""
         |, $sizedMhCtes
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard
         |FROM verify WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau
         |ORDER BY doc_a, doc_b""".stripMargin),

    // sizing decision card: the sized pair stage replayed with per-stage
    // counts surfaced (raw banded pairs / filtered pairs / true pairs)
    "dedup_sizing_card" -> (ShingleCte +
      s"""
         |, $sizedMhCtes
         |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |  CAST($MinhashK AS BIGINT) AS k_band, CAST($MhBands AS BIGINT) AS n_bands,
         |  (SELECT CAST(kest AS BIGINT) FROM sizing) AS k_est,
         |  (SELECT CAST(ceil(kest * $JaccardTau / 2) AS BIGINT) FROM sizing) AS min_matches,
         |  (SELECT COUNT(*) FROM mh_cand0) AS cand_banded,
         |  (SELECT COUNT(*) FROM candf) AS cand_sized,
         |  (SELECT COUNT(*) FROM verify
         |   WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau) AS pairs_verified""".stripMargin),

    // snapshot delta: the sized pair machinery applied ASYMMETRICALLY —
    // new docs probe base bands; exact = content-hash join; best near
    // match by (jaccard DESC, base_id); exact wins the status CASE
    "corpus_delta" -> (ShingleCte +
      s"""
         |, sizing AS (SELECT CASE WHEN COUNT(*) <= 2000 THEN 16
         |  WHEN COUNT(*) <= 20000 THEN 32 ELSE 64 END AS kest FROM documents),
         |ch AS (SELECT doc_id, md5(text) AS chash, doc_id % 5 = 4 AS is_new
         |       FROM documents),
         |exact AS (
         |  SELECT n.doc_id, MIN(b.doc_id) AS exact_id
         |  FROM ch n JOIN ch b ON n.chash = b.chash AND n.is_new AND NOT b.is_new
         |  GROUP BY n.doc_id),
         |sig AS (SELECT doc_id, hs, n_sh, $mhSig FROM hashes WHERE len(hs) > 0),
         |mh_sg AS (SELECT doc_id,
         |  [list_min(list_transform(hs, h -> (h * (CASE WHEN (j*2654435761) % $P = 0
         |     THEN 1 ELSE (j*2654435761) % $P END) + (j*1013904223) % $P) % $P))
         |   for j in generate_series(1, kest)] AS sg
         |  FROM sig CROSS JOIN sizing),
         |bands AS (SELECT doc_id, n_sh, $mhBandKeys FROM sig),
         |mh_ex AS (SELECT doc_id, n_sh, band_id, band_val FROM bands
         |          UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS base_id
         |  FROM mh_ex a JOIN ch ca ON ca.doc_id = a.doc_id AND ca.is_new
         |       JOIN mh_ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |       JOIN ch cb ON cb.doc_id = b.doc_id AND NOT cb.is_new
         |  WHERE least(a.n_sh, b.n_sh) >= $JaccardTau * greatest(a.n_sh, b.n_sh)),
         |candf AS (
         |  SELECT cand.doc_id AS doc_id, cand.base_id AS base_id
         |  FROM cand JOIN mh_sg sa ON sa.doc_id = cand.doc_id
         |            JOIN mh_sg sb ON sb.doc_id = cand.base_id
         |            CROSS JOIN sizing
         |  WHERE CAST(len(list_filter([sa.sg[i] = sb.sg[i]
         |          for i in generate_series(1, kest)], x -> x)) AS BIGINT)
         |        >= CAST(ceil(kest * $JaccardTau / 2) AS BIGINT)),
         |near0 AS (
         |  SELECT candf.doc_id AS doc_id, candf.base_id AS base_id,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
         |         len(ha.hs) AS na, len(hb.hs) AS nb
         |  FROM candf JOIN hashes ha ON ha.doc_id = candf.doc_id
         |             JOIN hashes hb ON hb.doc_id = candf.base_id),
         |near AS (
         |  SELECT doc_id, base_id AS near_id, jaccard FROM (
         |    SELECT doc_id, base_id,
         |      CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY CAST(inter AS DOUBLE)/(na+nb-inter) DESC, base_id) AS rk
         |    FROM near0 WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau)
         |  WHERE rk = 1)
         |SELECT n.doc_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |       WHEN r.near_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'novel' END AS status,
         |  COALESCE(e.exact_id, r.near_id) AS base_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |       ELSE r.jaccard END AS jaccard
         |FROM ch n LEFT JOIN exact e ON e.doc_id = n.doc_id
         |          LEFT JOIN near r ON r.doc_id = n.doc_id
         |WHERE n.is_new
         |ORDER BY n.doc_id""".stripMargin),

    // containment replay: same shingle-intersection plan, one extra
    // fixed division; greatest() is the same max both engines
    "dedup_containment" -> (ShingleCte +
      s"""
         |, ex AS (SELECT doc_id, n_sh, unnest(hs) AS h FROM hashes),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         MAX(a.n_sh) AS na, MAX(b.n_sh) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  greatest(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb) AS containment,
         |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
         |FROM p
         |WHERE greatest(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),

    // estimator calibration: same sig/band/candidate CTEs; matches =
    // positionwise-equal minima count, est = matches/16 one division
    "dedup_minhash_est" -> (ShingleCte +
      s"""
         |, sig AS (SELECT doc_id, hs, $mhSig FROM hashes WHERE len(hs) > 0),
         |sigarr AS (SELECT doc_id, hs,
         |  [${(0 until MinhashK).map(j => s"s$j").mkString(", ")}] AS sg FROM sig),
         |bands AS (SELECT doc_id, $mhBandKeys FROM sig),
         |ex AS (SELECT doc_id, band_id, band_val FROM bands
         |       UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                      AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_filter([sa.sg[i] = sb.sg[i] for i in generate_series(1, $MinhashK)],
         |      x -> x)) AS BIGINT) AS matches,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
         |    len(sa.hs) AS na, len(sb.hs) AS nb
         |  FROM cand JOIN sigarr sa ON sa.doc_id = doc_a
         |            JOIN sigarr sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, matches,
         |  CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard,
         |  CAST(matches AS DOUBLE)/$MinhashK AS est
         |FROM v ORDER BY doc_a, doc_b""".stripMargin),

    // band occupancy: the sig/bands CTEs are the dedup_minhash oracle's;
    // UNION ALL branches carry the INTEGER band ids the Spark card emits
    "dedup_band_stats" -> (ShingleCte +
      s"""
         |, sig AS (SELECT doc_id, hs, $mhSig FROM hashes WHERE len(hs) > 0),
         |bands AS (SELECT doc_id, hs, $mhBandKeys FROM sig),
         |ex AS (${(0 until MhBands).map(b =>
             s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, band$b AS band_val FROM bands")
             .mkString("\n      UNION ALL ")}),
         |bkt AS (SELECT band_id, band_val, COUNT(*) AS c FROM ex GROUP BY 1, 2)
         |SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(c) AS BIGINT) AS n_docs, CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS cand_pairs
         |FROM bkt GROUP BY band_id ORDER BY band_id""".stripMargin),

    "dedup_pair_hist" -> (ShingleCte +
      s"""
         |, sig AS (SELECT doc_id, hs, $mhSig FROM hashes WHERE len(hs) > 0),
         |bands AS (SELECT doc_id, hs, $mhBandKeys FROM sig),
         |ex AS (SELECT doc_id, band_id, band_val FROM bands
         |       UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                      AND a.doc_id < b.doc_id),
         |verify AS (
         |  SELECT doc_a, doc_b,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
         |         len(ha.hs) AS na, len(hb.hs) AS nb
         |  FROM cand JOIN hashes ha ON ha.doc_id = doc_a
         |            JOIN hashes hb ON hb.doc_id = doc_b),
         |j AS (SELECT CAST(inter AS DOUBLE)/(na+nb-inter) AS jaccard FROM verify)
         |SELECT least(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bin,
         |  COUNT(*) AS n_pairs, MIN(jaccard) AS min_j, MAX(jaccard) AS max_j
         |FROM j GROUP BY 1 ORDER BY bin""".stripMargin),

    // the pair stage is the dedup_minhash oracle verbatim; the closure
    // replays min-label propagation as a recursive reachability min
    "dedup_components" -> (componentsLabelCtes +
      "\nSELECT doc_id, component_id FROM labels ORDER BY doc_id"),

    // same labels, aggregated to the duplication report: clusters per
    // size, docs per size (size 1 = the unduplicated corpus)
    "dedup_cluster_stats" -> (componentsLabelCtes +
      s"""
         |, sizes AS (
         |  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM labels GROUP BY component_id)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    // embedding-cosine near-dup components: the dedup_embedding pair
    // oracle verbatim, closed by the same recursive reachability min
    // over vec ids
    "dedup_embedding_cc" -> (NormCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s"""
         |, $planesCte,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                            AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT vec_a, vec_b FROM (
         |    SELECT vec_a, vec_b, ${dotSql("va.e", "vb.e")} / (va.nrm * vb.nrm) AS cos
         |    FROM cand JOIN v va ON va.vec_id = vec_a JOIN v vb ON vb.vec_id = vec_b)
         |  WHERE cos >= $CosTau),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
         |          UNION ALL SELECT vec_b, vec_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT vv.vec_id,
         |       CAST(least(vv.vec_id, coalesce(min(r.dst), vv.vec_id)) AS BIGINT) AS component_id
         |FROM v vv LEFT JOIN reach r ON r.src = vv.vec_id
         |GROUP BY vv.vec_id
         |ORDER BY vec_id""".stripMargin),

    "dedup_simhash" -> (ShingleCte +
      s"""
         |, sims AS (SELECT doc_id, $simhashExpr AS sim FROM hashes WHERE len(hs) > 0),
         |bands AS (SELECT doc_id, sim, ${(0 until ShBands).map(b => s"((sim >> ${ShBits * b}) & ${(1L << ShBits) - 1}) AS band$b").mkString(", ")} FROM sims),
         |ex AS (SELECT doc_id, sim, band_id, band_val FROM bands
         |       UNPIVOT (band_val FOR band_id IN (${bandList(ShBands)}))),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         max(a.sim) AS sim_a, max(b.sim) AS sim_b
         |  FROM ex a JOIN ex b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                      AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $HammingTau
         |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_embedding" -> (NormCte +
      s"""
         |, $planesCte,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                            AND a.vec_id < b.vec_id),
         |verify AS (
         |  SELECT vec_a, vec_b, ${dotSql("va.e", "vb.e")} / (va.nrm * vb.nrm) AS cos
         |  FROM cand JOIN v va ON va.vec_id = vec_a JOIN v vb ON vb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM verify WHERE cos >= $CosTau
         |ORDER BY vec_a, vec_b""".stripMargin),

    // Semantic dedup: bucket assignment replayed from the SQL-generated
    // centroid codebook (same LCG CTEs as sim_topk_ivf); one bucket per
    // vector, so the candidate join needs no DISTINCT.
    "dedup_semantic" -> (NormCte +
      s"""
         |, $ivfCentroidCtes,
         |assigned AS (
         |  SELECT vec_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
         |cand AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assigned a JOIN assigned b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |verify AS (
         |  SELECT vec_a, vec_b, ${dotSql("va.e", "vb.e")} / (va.nrm * vb.nrm) AS cos
         |  FROM cand JOIN v va ON va.vec_id = vec_a JOIN v vb ON vb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM verify WHERE cos >= $CosTau
         |ORDER BY vec_a, vec_b""".stripMargin),

    // Semantic snapshot delta: the dedup_semantic bucket assignment made
    // asymmetric (new probes base, never itself); best match + verdict
    // follow the decontaminate_semantic ranked-window shape
    "embedding_delta" -> (NormCte +
      s"""
         |, $ivfCentroidCtes,
         |assigned AS (
         |  SELECT vec_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
         |cand AS (
         |  SELECT n.vec_id, b.vec_id AS base_id
         |  FROM assigned n JOIN assigned b ON n.bucket = b.bucket
         |  WHERE n.vec_id % 5 = 4 AND b.vec_id % 5 <> 4),
         |verify AS (
         |  SELECT c.vec_id, c.base_id,
         |         ${dotSql("vn.e", "vb.e")} / (vn.nrm * vb.nrm) AS cos
         |  FROM cand c JOIN v vn ON vn.vec_id = c.vec_id
         |              JOIN v vb ON vb.vec_id = c.base_id),
         |ranked AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY vec_id) AS n_cand,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, base_id) AS rk
         |  FROM verify)
         |SELECT v.vec_id, CAST(COALESCE(r.n_cand, 0) AS BIGINT) AS n_cand,
         |       r.base_id AS best_base, r.cos AS best_cos,
         |       CASE WHEN r.cos >= $CosTau THEN 'near_dup' ELSE 'novel' END AS verdict
         |FROM v LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r USING (vec_id)
         |WHERE v.vec_id % 5 = 4 ORDER BY v.vec_id""".stripMargin),

    // embedding decontamination: eval bands + exact-cosine verify, best
    // match per corpus vector (cos DESC, eval_id tie-break), LEFT join
    // keeps candidate-less vectors with n_cand = 0
    "pipeline_decontaminate_semantic" -> (NormCte +
      s"""
         |, $planesCte,
         |eb AS (SELECT vec_id AS eval_id, band_id, band_val FROM bands WHERE vec_id % 41 = 0),
         |cand AS (
         |  SELECT DISTINCT b.vec_id, e.eval_id
         |  FROM bands b JOIN eb e ON b.band_id = e.band_id AND b.band_val = e.band_val
         |  WHERE b.vec_id % 41 <> 0),
         |verify AS (
         |  SELECT c.vec_id, c.eval_id, ${dotSql("vc.e", "ve.e")} / (vc.nrm * ve.nrm) AS cos
         |  FROM cand c JOIN v vc ON vc.vec_id = c.vec_id JOIN v ve ON ve.vec_id = c.eval_id),
         |ranked AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY vec_id) AS n_cand,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rk
         |  FROM verify)
         |SELECT v.vec_id, CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_cand,
         |       b.eval_id AS best_eval, b.cos AS best_cos,
         |       COALESCE(b.cos >= $CosTau, FALSE) AS contaminated
         |FROM v LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) b USING (vec_id)
         |WHERE v.vec_id % 41 <> 0 ORDER BY v.vec_id""".stripMargin),

    "sim_topk_bruteforce" -> (NormCte +
      s"""
         |, q AS (SELECT * FROM v WHERE vec_id < 8), c AS (SELECT * FROM v WHERE vec_id >= 8),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |         ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) AS cos
         |  FROM q CROSS JOIN c),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    "sim_topk_mips" -> (NormCte +
      s"""
         |, q AS (SELECT * FROM v WHERE vec_id < 8), c AS (SELECT * FROM v WHERE vec_id >= 8),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |         ${dotSql("q.e", "c.e")} AS ip
         |  FROM q CROSS JOIN c),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, ip, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    // MIPS-IVF (r13): the augmented-space replay — mmax is the corpus'
    // max norm (same double both engines: a max over identical values),
    // va appends sqrt(mx*mx - nrm*nrm) to corpus rows / 0.0 to queries
    // (nrm <= mx makes the sqrt argument non-negative under monotone
    // IEEE multiply), accs is the kernel's cosine list over the 65-dim
    // mcent codebook (rows 600.. at stride 65 — Codebooks.MipsRowBase),
    // and the final scores are the exact RAW inner products of the
    // original vectors, exactly sim_topk_mips' arithmetic. r14: nlist is
    // N-adaptive through the mnlsizing CTE (the nlsizing pattern —
    // identity 64 at every gate scale, √N ladder beyond, big codebooks
    // from LCG rows 20000.. — Codebooks.mipsCentroidsFor).
    "sim_topk_mips_ivf" -> (NormCte + {
      val d1 = Dim + 1
      def dotA(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$a[i]*$b[i] for i in generate_series(1,$d1)]), (s,x) -> s+x)"
      s"""
         |, mnlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
         |    WHEN COUNT(*) <= 65536 THEN 128
         |    WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
         |mcent AS (
         |  SELECT c, [CAST((((1103515245*((c + CASE WHEN nl <= $NCentroids THEN ${graft.functions.Codebooks.MipsRowBase} ELSE ${graft.functions.Codebooks.MipsBigRowBase} END)*$d1+i) + 12345) % 2001) - 1000) AS DOUBLE)/1000.0
         |             for i in generate_series(0, ${d1 - 1})] AS cv
         |  FROM generate_series(0, 2047) AS t(c), mnlsizing WHERE c < nl),
         |mcn AS (SELECT c, cv, sqrt(${dotA("cv", "cv")}) AS cnrm FROM mcent),
         |mmax AS (SELECT MAX(nrm) AS mx FROM v WHERE vec_id >= 8),
         |va AS (
         |  SELECT vec_id, CASE WHEN vec_id < 8 THEN list_append(e, 0.0)
         |                      ELSE list_append(e, sqrt(mx*mx - nrm*nrm)) END AS ea
         |  FROM v CROSS JOIN mmax),
         |accs AS MATERIALIZED (
         |  SELECT vec_id, list(${dotA("ea", "cv")} / (sqrt(${dotA("ea", "ea")}) * cnrm) ORDER BY c) AS cc
         |  FROM va CROSS JOIN mcn GROUP BY vec_id),
         |mpsizing AS (SELECT CASE WHEN nl <= 128 THEN $Probes
         |  ELSE $Probes * (nl // 128) END AS ps FROM mnlsizing),
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM accs WHERE vec_id >= 8),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, ${16 * Probes}) if p <= ps]) AS bucket
         |  FROM accs, mpsizing WHERE vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} AS ip
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, ip, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin
    }),

    // PQ-compact MIPS (r14): the sim_topk_ivf_pq replay over the
    // AUGMENTED 65-dim space — fixed 64-row MIPS coarse book (rows 600,
    // stride 65), fresh 5×16×13 MIPS-PQ book (rows 700, stride 65,
    // /4000), nrma = the kernel's index-order norm fold of ea, residual
    // r = ea/nrma − ĉ, approximate score = one continued fold
    // (list_prepend(coarse, terms) — the multi-stage-fold rule),
    // shortlist k·refine by (acos DESC, corpus_id), exact RAW-ip rerank
    // of the original vectors.
    "sim_topk_mips_ivf_pq" -> (NormCte + {
      val d1 = Dim + 1
      import graft.functions.Codebooks.{MipsPqM, MipsPqSub, PqK, MipsPqRowBase, MipsRowBase}
      def dotA(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$a[i]*$b[i] for i in generate_series(1,$d1)]), (s,x) -> s+x)"
      val coarse = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[q.ea[i]/q.nrma * ch.ch[i] for i in generate_series(1,$d1)]), (s,x) -> s+x)"
      val terms = s"flatten([[q.ea[m*$MipsPqSub+d]/q.nrma * pqf.pq[m*$PqK + codes[m+1]][d] " +
        s"for d in generate_series(1,$MipsPqSub)] for m in generate_series(0,${MipsPqM - 1})])"
      s"""
         |, rsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN 4
         |    WHEN COUNT(*) <= 65536 THEN 8
         |    WHEN COUNT(*) <= 1048576 THEN 16 ELSE 32 END AS rf FROM embeddings),
         |mcent AS (
         |  SELECT c, [CAST((((1103515245*((c+$MipsRowBase)*$d1+i) + 12345) % 2001) - 1000) AS DOUBLE)/1000.0
         |             for i in generate_series(0, ${d1 - 1})] AS cv
         |  FROM generate_series(0, ${NCentroids - 1}) AS t(c)),
         |mcn AS (SELECT c, cv, sqrt(${dotA("cv", "cv")}) AS cnrm FROM mcent),
         |mchat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$d1)] AS ch FROM mcn),
         |mmax AS (SELECT MAX(nrm) AS mx FROM v WHERE vec_id >= 8),
         |vaa AS MATERIALIZED (
         |  SELECT vec_id, ea, sqrt(${dotA("ea", "ea")}) AS nrma FROM (
         |    SELECT vec_id, CASE WHEN vec_id < 8 THEN list_append(e, 0.0)
         |                        ELSE list_append(e, sqrt(mx*mx - nrm*nrm)) END AS ea
         |    FROM v CROSS JOIN mmax)),
         |accs AS MATERIALIZED (
         |  SELECT vec_id, list(${dotA("ea", "cv")} / (nrma * cnrm) ORDER BY c) AS cc
         |  FROM vaa CROSS JOIN mcn GROUP BY vec_id),
         |cb AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM accs WHERE vec_id >= 8),
         |mpq AS (
         |  SELECT m, k, [CAST((((1103515245*(($MipsPqRowBase + m*$PqK + k)*$d1 + d) + 12345) % 2001) - 1000) AS DOUBLE)/4000.0
         |                for d in generate_series(0, ${MipsPqSub - 1})] AS pv
         |  FROM generate_series(0, ${MipsPqM - 1}) tm(m) CROSS JOIN generate_series(0, ${PqK - 1}) tk(k)),
         |pqf AS (SELECT list(pv ORDER BY m*$PqK + k) AS pq FROM mpq),
         |res AS (
         |  SELECT cb.corpus_id, cb.bucket,
         |         [vaa.ea[i]/vaa.nrma - mchat.ch[i] for i in generate_series(1,$d1)] AS r
         |  FROM cb JOIN vaa ON vaa.vec_id = cb.corpus_id JOIN mchat ON mchat.c = cb.bucket - 1),
         |dists AS (
         |  SELECT corpus_id, bucket, m,
         |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           [(r[m*$MipsPqSub+d] - pv[d]) * (r[m*$MipsPqSub+d] - pv[d])
         |            for d in generate_series(1,$MipsPqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
         |  FROM res CROSS JOIN mpq GROUP BY corpus_id, bucket, m),
         |codes AS (
         |  SELECT corpus_id, bucket,
         |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
         |  FROM dists GROUP BY corpus_id, bucket),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, $Probes)]) AS bucket
         |  FROM accs WHERE vec_id < 8),
         |cand AS (SELECT DISTINCT query_id, corpus_id, bucket, codes FROM codes JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id,
         |         list_reduce(list_prepend($coarse, $terms), (s,x) -> s+x) AS acos
         |  FROM cand JOIN vaa q ON q.vec_id = query_id
         |            JOIN mchat ch ON ch.c = bucket - 1
         |            CROSS JOIN pqf),
         |short AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, corpus_id) AS srnk
         |    FROM scored)
         |  CROSS JOIN rsizing WHERE srnk <= $TopK * rf),
         |exact AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} AS ip
         |  FROM short JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rnk
         |  FROM exact)
         |SELECT query_id, corpus_id, ip, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin
    }),

    "sim_topk_lsh" -> (NormCte +
      s"""
         |, $planesCte,
         |ex_q AS (SELECT * FROM bands WHERE vec_id < 8),
         |ex_c AS (SELECT * FROM bands WHERE vec_id >= 8),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
         |  FROM ex_q q JOIN ex_c c ON q.band_id = c.band_id AND q.band_val = c.band_val),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    // IVF with the nlist=64 codebook GENERATED in SQL (same LCG formula
    // as Codebooks.centroidsFor) and the default 8-probe query — probe
    // fraction 8/64 mirrors the kernel defaults exactly.
    // nlsizing/psizing mirror ivfTopKSized (late r15): identity at the
    // driver-gated scales, the √N ladder with a pinned probed fraction
    // beyond — the same one-static-text shape as the MIPS serving oracle
    "sim_topk_ivf" -> (NormCte +
      s"""
         |, $ivfCentroidCtesSized,
         |psizing AS (SELECT CASE WHEN nl <= 128 THEN $Probes
         |  ELSE $Probes * (nl // 128) END AS ps FROM nlsizing),
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM ccs WHERE vec_id >= 8),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, ${16 * Probes}) if p <= ps]) AS bucket
         |  FROM ccs, psizing WHERE vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    // the high-recall-target serving point (r16): sim_topk_ivf's replay
    // with base probes 16 (probesForRecall("high") — fraction 1/8 on
    // the ladder; the comprehension bound covers ps up to 16·16 = 256
    // at nl 2048, and the `if p <= ps` guard keeps cc indexing in range)
    "sim_topk_ivf_hr" -> (NormCte +
      s"""
         |, $ivfCentroidCtesSized,
         |psizing AS (SELECT CASE WHEN nl <= 128 THEN 16
         |  ELSE 16 * (nl // 128) END AS ps FROM nlsizing),
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM ccs WHERE vec_id >= 8),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, 256) if p <= ps]) AS bucket
         |  FROM ccs, psizing WHERE vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    // kNN self-join: the IVF CTEs with EVERY vector on both sides,
    // self-pairs excluded; probe/rank replay identical to sim_topk_ivf
    "sim_knn_join_ivf" -> (NormCte +
      s"""
         |, $ivfCentroidCtesSized,
         |psizing AS (SELECT CASE WHEN nl <= 128 THEN $KnnProbes
         |  ELSE $KnnProbes * (nl // 128) END AS ps FROM nlsizing),
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, ${16 * KnnProbes}) if p <= ps]) AS bucket
         |  FROM ccs, psizing),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket) WHERE query_id <> corpus_id),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $KnnK
         |ORDER BY query_id, rnk""".stripMargin),

    // kNN-graph pagerank replay: the sim_knn_join_ivf CTEs build the
    // top-k neighbor pairs, then the parts_pagerank integer power
    // iteration runs over the symmetrized edge list (r0..r5 chained)
    "knn_pagerank" -> knnPagerankOracle,

    // the indexed (build-once/rank-many) twin shares the oracle
    // VERBATIM: the bucketed layout must never change answers
    "knn_pagerank_indexed" -> knnPagerankOracle,

    // rank-many consumers off the same graph (r12): the Luby-round
    // diversity sample replays the rank chain + an integer local-maxima
    // predicate; SemDeDup closes the cos >= tau sub-graph with the
    // recursive reachability min
    "knn_diversity_sample" -> knnDiversityOracle,
    "knn_diversity_mis" -> knnDiversityMisOracle,
    "knn_mis_assign" -> knnMisAssignOracle,
    "knn_mis_cluster_stats" -> knnMisClusterStatsOracle,
    // degree histogram of the symmetrized kNN graph: the shared kNN
    // pair CTEs + two integer GROUP BYs — engine-exact for free
    "knn_degree_card" -> (knnRankedCtes() +
      s""",
         |edges AS (SELECT pa AS src, pb AS dst FROM pairs
         |          UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
         |deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY 1)
         |SELECT d AS deg, COUNT(*) AS n_nodes FROM deg GROUP BY d
         |ORDER BY deg""".stripMargin),
    // triangle / clustering-coefficient card: the same pairs relation,
    // degree-ordered orientation (CASE on the deg join), oriented wedge
    // self-join closed against the undirected pair list — all-integer,
    // BIGINT fixed-point coefficient, mirrors Graph.triangleCard exactly
    "knn_triangle_card" -> (knnRankedCtes() + triangleCtes +
      s""",
         |tri AS (SELECT COUNT(*) AS n_tri FROM corners),
         |card AS (
         |  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         |         (SELECT COUNT(*) FROM und) AS n_edges,
         |         CAST((SELECT SUM((d * (d - 1)) // 2) FROM deg) AS BIGINT) AS n_wedges,
         |         (SELECT n_tri FROM tri) AS n_tri,
         |         (SELECT MAX(f) FROM (SELECT COUNT(*) AS f FROM orient GROUP BY lo)) AS max_fwd_deg)
         |SELECT n_nodes, n_edges, n_wedges, n_tri,
         |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST((3 * n_tri * 1000000) // n_wedges AS BIGINT) END AS ccoef_fp,
         |  max_fwd_deg
         |FROM card""".stripMargin),
    // per-node triangle top-k: every closed triangle credits its three
    // corners; integer counts, ties toward the smaller vec_id
    "knn_triangle_topk" -> (knnRankedCtes() + triangleCtes +
      s""",
         |pernode AS (SELECT unnest([lo, h1, h2]) AS vec_id FROM corners),
         |cnt AS (SELECT vec_id, COUNT(*) AS n_tri FROM pernode GROUP BY 1)
         |SELECT vec_id, n_tri,
         |  CAST(row_number() OVER (ORDER BY n_tri DESC, vec_id) AS INT) AS rnk
         |FROM cnt ORDER BY n_tri DESC, vec_id LIMIT 20""".stripMargin),
    "knn_semdedup" -> knnSemdedupOracle,
    // the shared-build consumer card: all four consumers replayed off
    // the same pairs relation in one statement (rank chain + MIS unroll
    // + recursive reach closure) — layout-invariance gate for the
    // build-once/rank-many pipeline as a whole
    "knn_consumer_card" -> knnConsumerCardOracle,
    // quality-keep SemDeDup: the same reach-closure components + the
    // pipeline_quality_topq quality chain + an argmax-per-component pick
    // (quality DESC, id ASC) — all engine-exact, full hash gate
    "knn_semdedup_quality" -> (knnRankedCtes(recursive = true) +
      s""",
         |spairs AS (SELECT pa, pb FROM pairs WHERE cos >= $CosTau),
         |sedges AS (SELECT pa AS src, pb AS dst FROM spairs
         |           UNION ALL SELECT pb, pa FROM spairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN sedges e ON r.dst = e.src),
         |comp AS (
         |  SELECT vv.vec_id,
         |         CAST(least(vv.vec_id, coalesce(min(r.dst), vv.vec_id)) AS BIGINT) AS comp_id
         |  FROM v vv LEFT JOIN reach r ON r.src = vv.vec_id
         |  GROUP BY vv.vec_id),
         |qws AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w,
         |         lower(text) AS lt FROM documents),
         |qm AS (
         |  SELECT doc_id, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(graft.operators.TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lt, '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM qws),
         |qsc AS (
         |  SELECT doc_id,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM qm),
         |best AS (
         |  SELECT comp_id, vec_id AS best_id,
         |         row_number() OVER (PARTITION BY comp_id
         |                            ORDER BY quality DESC, vec_id) AS rk
         |  FROM comp JOIN qsc ON qsc.doc_id = comp.vec_id)
         |SELECT c.vec_id, b.best_id AS rep_id, c.vec_id = b.best_id AS keep
         |FROM comp c JOIN best b ON b.comp_id = c.comp_id AND b.rk = 1
         |ORDER BY c.vec_id""".stripMargin),

    // IVF-PQ: codes and the approximate score replayed with the SAME
    // fold orders as the kernels (continuous accumulation: coarse term,
    // then subspace terms in (m, d) order; argmin = first position of
    // the k-ordered distance list's minimum).
    // quantization-collision dedup (r15): the sim_topk_ivf_pq encode
    // chain over ALL non-zero vectors (no corpus filter), then one
    // GROUP BY on (bucket, codes) — count + min-id keep; codes pack as
    // a string for the scalar hash gate
    "dedup_pq_codes" -> {
      import graft.functions.Codebooks.{PqM, PqSub, PqK}
      NormCte +
        s"""
           |, $ivfCentroidCtes,
           |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn),
           |cb AS (
           |  SELECT ccs.vec_id, CAST(list_position(cc, list_max(cc)) AS INT) AS bucket
           |  FROM ccs JOIN v USING (vec_id) WHERE v.nrm > 0),
           |pq AS (
           |  SELECT m, k, [CAST((((1103515245*((400 + m*$PqK + k)*$Dim + d) + 12345) % 2001) - 1000) AS DOUBLE)/4000.0
           |                for d in generate_series(0, ${PqSub - 1})] AS pv
           |  FROM generate_series(0, ${PqM - 1}) tm(m) CROSS JOIN generate_series(0, ${PqK - 1}) tk(k)),
           |res AS (
           |  SELECT cb.vec_id, cb.bucket,
           |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
           |  FROM cb JOIN v USING (vec_id) JOIN chat ON chat.c = cb.bucket - 1),
           |dists AS (
           |  SELECT vec_id, bucket, m,
           |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |           [(r[m*$PqSub+d] - pv[d]) * (r[m*$PqSub+d] - pv[d])
           |            for d in generate_series(1,$PqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
           |  FROM res CROSS JOIN pq GROUP BY vec_id, bucket, m),
           |codes AS (
           |  SELECT vec_id, bucket,
           |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
           |  FROM dists GROUP BY vec_id, bucket),
           |groups AS (
           |  SELECT bucket, codes, COUNT(*) AS n_same, MIN(vec_id) AS rep_id
           |  FROM codes GROUP BY bucket, codes)
           |SELECT c.vec_id, c.bucket, array_to_string(c.codes, ',') AS codes_str,
           |       g.n_same, g.rep_id, c.vec_id = g.rep_id AS keep
           |FROM codes c JOIN groups g USING (bucket, codes)
           |ORDER BY c.vec_id""".stripMargin
    },

    "sim_topk_ivf_pq" -> {
      import graft.functions.Codebooks.{PqM, PqSub, PqK}
      val coarse = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[q.e[i]/q.nrm * ch.ch[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)"
      val terms = s"flatten([[q.e[m*$PqSub+d]/q.nrm * pqf.pq[m*$PqK + codes[m+1]][d] " +
        s"for d in generate_series(1,$PqSub)] for m in generate_series(0,${PqM - 1})])"
      NormCte +
        s"""
           |, $ivfCentroidCtesSized,
           |psizing AS (SELECT CASE WHEN nl <= 128 THEN $Probes
           |  ELSE $Probes * (nl // 128) END AS ps FROM nlsizing),
           |rsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN 4
           |    WHEN COUNT(*) <= 65536 THEN 8
           |    WHEN COUNT(*) <= 1048576 THEN 16 ELSE 32 END AS rf FROM embeddings),
           |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn),
           |cb AS (
           |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
           |  FROM ccs WHERE vec_id >= 8),
           |pq AS (
           |  SELECT m, k, [CAST((((1103515245*((400 + m*$PqK + k)*$Dim + d) + 12345) % 2001) - 1000) AS DOUBLE)/4000.0
           |                for d in generate_series(0, ${PqSub - 1})] AS pv
           |  FROM generate_series(0, ${PqM - 1}) tm(m) CROSS JOIN generate_series(0, ${PqK - 1}) tk(k)),
           |pqf AS (SELECT list(pv ORDER BY m*$PqK + k) AS pq FROM pq),
           |res AS (
           |  SELECT cb.corpus_id, cb.bucket,
           |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
           |  FROM cb JOIN v ON v.vec_id = cb.corpus_id JOIN chat ON chat.c = cb.bucket - 1),
           |dists AS (
           |  SELECT corpus_id, bucket, m,
           |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |           [(r[m*$PqSub+d] - pv[d]) * (r[m*$PqSub+d] - pv[d])
           |            for d in generate_series(1,$PqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
           |  FROM res CROSS JOIN pq GROUP BY corpus_id, bucket, m),
           |codes AS (
           |  SELECT corpus_id, bucket,
           |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
           |  FROM dists GROUP BY corpus_id, bucket),
           |probes AS (
           |  SELECT vec_id AS query_id,
           |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
           |                 for p in generate_series(1, ${16 * Probes}) if p <= ps]) AS bucket
           |  FROM ccs, psizing WHERE vec_id < 8),
           |cand AS (SELECT DISTINCT query_id, corpus_id, bucket, codes FROM codes JOIN probes USING (bucket)),
           |scored AS (
           |  SELECT query_id, corpus_id,
           |         list_reduce(list_prepend($coarse, $terms), (s,x) -> s+x) AS acos
           |  FROM cand JOIN v q ON q.vec_id = query_id
           |            JOIN chat ch ON ch.c = bucket - 1
           |            CROSS JOIN pqf),
           |short AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, corpus_id) AS srnk
           |    FROM scored)
           |  CROSS JOIN rsizing WHERE srnk <= $TopK * rf),
           |exact AS (
           |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
           |  FROM short JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
           |  FROM exact)
           |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
           |ORDER BY query_id, rnk""".stripMargin
    },

    // FITTED-residual-book PQ serving on the coarse ladder (r16, r15
    // VERDICT #1): coarse book / probes / shortlist identical to the
    // sim_topk_ivf_pq replay above, but the residual sub-codebooks come
    // from the per-subspace fixed-point k-means fit (pqFitCtes) over
    // residuals against cfp — the fp-normalized LADDERED book generated
    // from the same raw LCG integers the value book scales /1000 —
    // mirroring Similarity.pqServing(PqIndex.ResFit) term for term.
    // `codes` is MATERIALIZED (unlike the formula row's): with the fit
    // CTEs resident, inlining the 25.6M-row dists aggregate into the
    // probe-join pipeline overruns check_one's 64GB cap at sf10;
    // materializing sequences it — the aggregate collapses to the
    // 200k-row code table and frees before scoring runs (measured:
    // OOM -> 74 s at the cap, values unchanged).
    "sim_topk_ivf_pq_resfit" -> {
      import graft.functions.Codebooks.{PqM, PqSub, PqK}
      val coarse = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[q.e[i]/q.nrm * ch.ch[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)"
      val terms = s"flatten([[q.e[m*$PqSub+d]/q.nrm * pqf.pq[m*$PqK + codes[m+1]][d] " +
        s"for d in generate_series(1,$PqSub)] for m in generate_series(0,${PqM - 1})])"
      def sumSq(arr: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), [x*x for x in $arr]), (s,x) -> s+x)"
      def fpn(arr: String, n2: String) =
        s"[CAST(floor(CAST(x AS DOUBLE)*1000000.0/sqrt(CAST($n2 AS DOUBLE))) AS BIGINT) for x in $arr]"
      NormCte +
        s"""
           |, $ivfCentroidCtesSized,
           |psizing AS (SELECT CASE WHEN nl <= 128 THEN $Probes
           |  ELSE $Probes * (nl // 128) END AS ps FROM nlsizing),
           |rsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN 4
           |    WHEN COUNT(*) <= 65536 THEN 8
           |    WHEN COUNT(*) <= 1048576 THEN 16 ELSE 32 END AS rf FROM embeddings),
           |vfp AS (
           |  SELECT vec_id, [CAST(floor(e[i]*1000000.0) AS BIGINT)
           |                  for i in generate_series(1,$Dim)] AS xf FROM v),
           |vfu AS MATERIALIZED (
           |  SELECT vec_id, ${fpn("xf", "n2")} AS xh
           |  FROM (SELECT vec_id, xf, ${sumSq("xf")} AS n2 FROM vfp) WHERE n2 > 0),
           |crawg AS (
           |  SELECT c, [(((1103515245*((c + CASE WHEN nl <= 200 THEN 200 ELSE 10000 END)*$Dim+i) + 12345) % 2001) - 1000)
           |             for i in generate_series(0, ${Dim - 1})] AS g
           |  FROM generate_series(0, 2047) AS t(c), nlsizing WHERE c < nl),
           |cfp AS MATERIALIZED (
           |  SELECT c, ${fpn("g", "n2")} AS cv
           |  FROM (SELECT c, g, ${sumSq("g")} AS n2 FROM crawg))${pqFitCtes("cfp", 5)},
           |pqv AS (SELECT m, k, [CAST(x AS DOUBLE)/1000000.0 for x in pv] AS pv FROM pq5),
           |pqf AS (SELECT list(pv ORDER BY m*$PqK + k) AS pq FROM pqv),
           |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn),
           |cb AS (
           |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
           |  FROM ccs WHERE vec_id >= 8),
           |res AS (
           |  SELECT cb.corpus_id, cb.bucket,
           |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
           |  FROM cb JOIN v ON v.vec_id = cb.corpus_id JOIN chat ON chat.c = cb.bucket - 1),
           |dists AS (
           |  SELECT corpus_id, bucket, m,
           |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |           [(r[m*$PqSub+d] - pv[d]) * (r[m*$PqSub+d] - pv[d])
           |            for d in generate_series(1,$PqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
           |  FROM res CROSS JOIN pqv GROUP BY corpus_id, bucket, m),
           |codes AS MATERIALIZED (
           |  SELECT corpus_id, bucket,
           |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
           |  FROM dists GROUP BY corpus_id, bucket),
           |probes AS (
           |  SELECT vec_id AS query_id,
           |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
           |                 for p in generate_series(1, ${16 * Probes}) if p <= ps]) AS bucket
           |  FROM ccs, psizing WHERE vec_id < 8),
           |cand AS (SELECT DISTINCT query_id, corpus_id, bucket, codes FROM codes JOIN probes USING (bucket)),
           |scored AS (
           |  SELECT query_id, corpus_id,
           |         list_reduce(list_prepend($coarse, $terms), (s,x) -> s+x) AS acos
           |  FROM cand JOIN v q ON q.vec_id = query_id
           |            JOIN chat ch ON ch.c = bucket - 1
           |            CROSS JOIN pqf),
           |short AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, corpus_id) AS srnk
           |    FROM scored)
           |  CROSS JOIN rsizing WHERE srnk <= $TopK * rf),
           |exact AS (
           |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
           |  FROM short JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
           |  FROM exact)
           |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
           |ORDER BY query_id, rnk""".stripMargin
    },

    // k-means-FITTED IVF (r12 — rows-gated until the fit went fixed
    // point): the fp fit unrolled as CTEs (kmeansFitCtes, 3 rounds),
    // then the sim_topk_ivf probe/rank replay verbatim over the fitted
    // cn2/ccs
    // fitted MIPS-IVF (r15; LADDERED r16): the augmented-space fp
    // k-means unrolled (mipsKmeansFitCtes sized — fit books ride
    // mnlsizing, seeds from the 20000.. region past nl 64, probes ride
    // mpsizing), then the formula-book MIPS oracle's probe/raw-ip/rank
    // replay verbatim over the fitted accs. Identity at every
    // driver-gate scale (nl = 64 there).
    "sim_topk_mips_ivf_fitted" -> (NormCte +
      s"""
         |, mnlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
         |  WHEN COUNT(*) <= 65536 THEN 128
         |  WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
         |mpsizing AS (SELECT CASE WHEN nl <= 128 THEN $Probes
         |  ELSE $Probes * (nl // 128) END AS ps FROM mnlsizing),
         |${mipsKmeansFitCtes(3, sized = true)},
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM accs WHERE vec_id >= 8),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, 256) if p <= ps]) AS bucket
         |  FROM accs, mpsizing WHERE vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} AS ip
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, ip, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    "sim_topk_ivf_kmeans" -> (NormCte +
      s"""
         |, ${kmeansFitCtes(3)},
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
         |  FROM ccs WHERE vec_id >= 8),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, $Probes)]) AS bucket
         |  FROM ccs WHERE vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket)),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    // fully-FITTED IVF-PQ on the CORPUS LADDERS (r16 — the serving-recall
    // row): the laddered coarse fp k-means (kmeansFitCtes sized — seeds
    // from the 10000.. region past nl 200) + the residual fit against
    // the FITTED book (pqFitCtes over fc3), then the sized serve replay
    // (ps-driven probes, rf-driven shortlist) over the fitted chat/pqv.
    // Identity to sim_topk_ivf_pq_fitted's books at every driver-gate
    // scale (nl = 64 there) except refine rides rsizing.
    "sim_topk_ivf_pq_fitted_sized" -> ivfPqFittedSizedOracle(Probes),

    // the fitted books served at the HIGH recall target (r17): probes
    // never enter the fit, so the oracle is the fitted_sized replay
    // with ONLY its psizing base swapped to 16 (fraction 1/8)
    "sim_topk_ivf_pq_fitted_hr" -> ivfPqFittedSizedOracle(16),

    // the HIGH-QUALITY fitted serving point (r17 — the measured winning
    // composition): K=64 residual book (30000.. seed region) + the x4
    // shortlist boost at STANDARD probes — the dials that measured
    // binding; same laddered coarse fit CTEs, probe text unchanged
    "sim_topk_ivf_pq_fitted_hq" -> ivfPqFittedSizedOracle(Probes,
      PqBook.Wide, refineMul = 4),

    // the 16-subspace wide-book point (r17b): the identical fitted
    // replay with the residual book swapped to PqBook.M16 — M=16
    // (sub=4), K=64, 8192-row fit sample, 41000.. seeds, ×4 shortlist.
    // The coarse fit CTEs are untouched (books shared with the whole
    // fitted family by construction).
    "sim_topk_ivf_pq_fitted_m16" -> ivfPqFittedSizedOracle(Probes,
      PqBook.M16, refineMul = 4),

    // the quantization-error decision card: both books, one statement
    "pq_error_card" -> pqErrorCardOracle,

    // kNN graph build over the FITTED laddered book (r17): the
    // sim_knn_join_ivf replay with the formula ccs swapped for the
    // unrolled laddered k-means fit's ccs (kmeansFitCtes sized) —
    // every vector on both sides, self-pairs excluded
    "sim_knn_join_ivf_fitted" -> (NormCte +
      s"""
         |, nlsizing AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN $NCentroids
         |  WHEN COUNT(*) <= 65536 THEN 128
         |  WHEN COUNT(*) <= 1048576 THEN 512 ELSE 2048 END AS nl FROM embeddings),
         |psizing AS (SELECT CASE WHEN nl <= 128 THEN $KnnProbes
         |  ELSE $KnnProbes * (nl // 128) END AS ps FROM nlsizing),
         |${kmeansFitCtes(3, sized = true)},
         |corpus AS (
         |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket FROM ccs),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
         |                 for p in generate_series(1, ${16 * KnnProbes}) if p <= ps]) AS bucket
         |  FROM ccs, psizing),
         |cand AS (
         |  SELECT DISTINCT query_id, corpus_id
         |  FROM corpus JOIN probes USING (bucket) WHERE query_id <> corpus_id),
         |scored AS (
         |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
         |  FROM cand JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
         |  FROM scored)
         |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $KnnK
         |ORDER BY query_id, rnk""".stripMargin),

    // fully-FITTED IVF-PQ (r12): coarse fp fit (3 rounds) + per-subspace
    // fp residual fit (5 rounds, first-2048 sample) unrolled, then the
    // sim_topk_ivf_pq encode/score/shortlist/rerank replay over the
    // fitted chat/pqv (fp codes cast to value space /1e6)
    "sim_topk_ivf_pq_fitted" -> {
      import graft.functions.Codebooks.{PqM, PqSub, PqK}
      val Refine = 4
      val coarse = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[q.e[i]/q.nrm * ch.ch[i] for i in generate_series(1,$Dim)]), (s,x) -> s+x)"
      val terms = s"flatten([[q.e[m*$PqSub+d]/q.nrm * pqf.pq[m*$PqK + codes[m+1]][d] " +
        s"for d in generate_series(1,$PqSub)] for m in generate_series(0,${PqM - 1})])"
      NormCte +
        s"""
           |, ${kmeansFitCtes(3)}${pqFitCtes("fc3", 5)},
           |chat AS (SELECT c, [cv[i]/cnrm for i in generate_series(1,$Dim)] AS ch FROM cn2),
           |pqv AS (SELECT m, k, [CAST(x AS DOUBLE)/1000000.0 for x in pv] AS pv FROM pq5),
           |pqf AS (SELECT list(pv ORDER BY m*$PqK + k) AS pq FROM pqv),
           |cb AS (
           |  SELECT vec_id AS corpus_id, list_position(cc, list_max(cc)) AS bucket
           |  FROM ccs WHERE vec_id >= 8),
           |sres AS (
           |  SELECT cb.corpus_id, cb.bucket,
           |         [v.e[i]/v.nrm - chat.ch[i] for i in generate_series(1,$Dim)] AS r
           |  FROM cb JOIN v ON v.vec_id = cb.corpus_id JOIN chat ON chat.c = cb.bucket - 1),
           |sdists AS (
           |  SELECT corpus_id, bucket, m,
           |         list(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |           [(r[m*$PqSub+d] - pv[d]) * (r[m*$PqSub+d] - pv[d])
           |            for d in generate_series(1,$PqSub)]), (s,x) -> s+x) ORDER BY k) AS ds
           |  FROM sres CROSS JOIN pqv GROUP BY corpus_id, bucket, m),
           |scodes AS (
           |  SELECT corpus_id, bucket,
           |         list(list_position(ds, list_min(ds)) ORDER BY m) AS codes
           |  FROM sdists GROUP BY corpus_id, bucket),
           |probes AS (
           |  SELECT vec_id AS query_id,
           |         unnest([list_position(cc, list_sort(cc, 'DESC')[p])
           |                 for p in generate_series(1, $Probes)]) AS bucket
           |  FROM ccs WHERE vec_id < 8),
           |cand AS (SELECT DISTINCT query_id, corpus_id, bucket, codes FROM scodes JOIN probes USING (bucket)),
           |scored AS (
           |  SELECT query_id, corpus_id,
           |         list_reduce(list_prepend($coarse, $terms), (s,x) -> s+x) AS acos
           |  FROM cand JOIN v q ON q.vec_id = query_id
           |            JOIN chat ch ON ch.c = bucket - 1
           |            CROSS JOIN pqf),
           |short AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, corpus_id) AS srnk
           |    FROM scored)
           |  WHERE srnk <= ${TopK * Refine}),
           |exact AS (
           |  SELECT query_id, corpus_id, ${dotSql("vq.e", "vc.e")} / (vq.nrm * vc.nrm) AS cos
           |  FROM short JOIN v vq ON vq.vec_id = query_id JOIN v vc ON vc.vec_id = corpus_id),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
           |  FROM exact)
           |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= $TopK
           |ORDER BY query_id, rnk""".stripMargin
    },

    "pipeline_clean_corpus" -> (cleanCorpusPrefix +
      s""",
         |ex AS (SELECT doc_id, n_sh, unnest(hs) AS h FROM hashes),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         max(a.n_sh) AS na, max(b.n_sh) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM pairs
         |  WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau)
         |SELECT doc_id, quality FROM after_exact
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin),

    // the CC flagship: minhash pairs over the survivor set (as in the
    // _minhash form), then the recursive component closure — keep each
    // cluster's minimum member only
    "pipeline_clean_corpus_cc" -> (cleanCorpusPrefix.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
         |$sizedMhCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verify
         |  WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT s.doc_id, s.quality
         |FROM after_exact s LEFT JOIN reach r ON r.src = s.doc_id
         |GROUP BY s.doc_id, s.quality
         |HAVING least(s.doc_id, coalesce(min(r.dst), s.doc_id)) = s.doc_id
         |ORDER BY doc_id""".stripMargin),

    // same pipeline, near-dup stage = the dedup_minhash band/verify CTEs
    // over the exact-dedup survivor set
    "pipeline_clean_corpus_minhash" -> (cleanCorpusPrefix +
      s""",
         |$sizedMhCtes,
         |losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM verify
         |  WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= $JaccardTau)
         |SELECT doc_id, quality FROM after_exact
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin),

    "pipeline_token_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT *, SUM(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |       n_tokens, CAST(cum AS BIGINT) AS cum
         |FROM c ORDER BY doc_id""".stripMargin,

    // the pack assignment above, materialized: string_agg in doc order
    // replays the array_sort(collect_list)-then-join concatenation
    "pipeline_concat_packs" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, CAST(doc_id % 8 AS INT) AS shard,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT *, SUM(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |p AS (
         |  SELECT *, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id FROM c)
         |SELECT shard, pack_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
         |       string_agg(text, '<|eos|>' ORDER BY doc_id) AS pack_text,
         |       CAST(length(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS BIGINT) AS pack_chars
         |FROM p GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin,

    "pipeline_decontaminate" -> (ShingleCte +
      s"""
         |, bench AS (SELECT DISTINCT unnest(hs) AS h FROM hashes WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, unnest(hs) AS h FROM hashes WHERE doc_id % 97 <> 0),
         |ov AS (SELECT doc_id, COUNT(*) AS n_overlap FROM corpus JOIN bench USING (h) GROUP BY doc_id)
         |SELECT h.doc_id, h.n_sh, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |       COALESCE(o.n_overlap, 0) >= 2 AS contaminated
         |FROM hashes h LEFT JOIN ov o USING (doc_id) WHERE h.doc_id % 97 <> 0
         |ORDER BY doc_id""".stripMargin),

    // span hashes replayed: per-word polyhash list, then the window fold
    // (h*31+x) mod M over each 8-element slice — same fold as the kernel
    "pipeline_decontaminate_span" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |whs AS (
         |  SELECT doc_id, list_transform(w, s -> ${poly("s")}) AS wh FROM ws),
         |hashes AS (
         |  SELECT doc_id,
         |         list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+7]),
         |                        (h, x) -> (h*31+x) % $M)
         |                        for i in generate_series(1, greatest(len(wh)-7, 0))]) AS hs
         |  FROM whs),
         |bench AS (SELECT DISTINCT unnest(hs) AS h FROM hashes WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, unnest(hs) AS h FROM hashes WHERE doc_id % 97 <> 0),
         |ov AS (SELECT doc_id, COUNT(*) AS n_overlap FROM corpus JOIN bench USING (h) GROUP BY doc_id)
         |SELECT h.doc_id, CAST(len(h.hs) AS BIGINT) AS n_spans,
         |       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |       COALESCE(o.n_overlap, 0) >= 1 AS contaminated
         |FROM hashes h LEFT JOIN ov o USING (doc_id) WHERE h.doc_id % 97 <> 0
         |ORDER BY doc_id""".stripMargin,

    // near-dup decontamination: the dedup_minhash band CTEs with the
    // bench split; every banded candidate verified by exact Jaccard;
    // best match = (jaccard DESC, bench_id ASC) rank 1, with the
    // candidate count riding the same window partition
    "pipeline_decontaminate_fuzzy" -> (ShingleCte +
      s"""
         |, sig AS (SELECT doc_id, hs, $mhSig FROM hashes WHERE len(hs) > 0),
         |bands AS (SELECT doc_id, hs, $mhBandKeys FROM sig),
         |ex AS (SELECT doc_id, band_id, band_val FROM bands
         |       UNPIVOT (band_val FOR band_id IN (${bandList(MhBands)}))),
         |bench AS (SELECT doc_id AS bench_id, band_id, band_val FROM ex WHERE doc_id % 97 = 0),
         |corp AS (SELECT doc_id, band_id, band_val FROM ex WHERE doc_id % 97 <> 0),
         |cand AS (SELECT DISTINCT c.doc_id, b.bench_id
         |         FROM corp c JOIN bench b USING (band_id, band_val)),
         |verify AS (
         |  SELECT cand.doc_id, cand.bench_id,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
         |         len(ha.hs) AS na, len(hb.hs) AS nb
         |  FROM cand JOIN hashes ha ON ha.doc_id = cand.doc_id
         |            JOIN hashes hb ON hb.doc_id = cand.bench_id),
         |best AS (
         |  SELECT doc_id, bench_id, CAST(inter AS DOUBLE)/(na+nb-inter) AS j,
         |         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_cand,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY CAST(inter AS DOUBLE)/(na+nb-inter) DESC, bench_id) AS rk
         |  FROM verify)
         |SELECT h.doc_id, h.n_sh AS n_shingles,
         |       CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_cand,
         |       b.bench_id AS best_bench, b.j AS best_jaccard,
         |       COALESCE(b.j >= $JaccardTau, FALSE) AS contaminated
         |FROM hashes h LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
         |WHERE h.doc_id % 97 <> 0
         |ORDER BY doc_id""".stripMargin),

    // DSIR importance: per-shingle fixed-point likelihood ratio
    // ((t+1)*scale) // (r+1) over target/raw document frequencies,
    // BIGINT-summed per doc — order-free, so it hash-matches; the keep
    // cut compares integers, never the rounded double
    "pipeline_importance" -> (ShingleCte +
      s"""
         |, occ AS (SELECT doc_id, unnest(hs) AS h FROM hashes),
         |tgt AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS t FROM occ
         |        WHERE doc_id % 97 = 0 GROUP BY h),
         |raw AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS r FROM occ
         |        WHERE doc_id % 97 <> 0 GROUP BY h),
         |wt AS (SELECT raw.h, ((COALESCE(t.t, 0) + 1) * 10000) // (raw.r + 1) AS w
         |       FROM raw LEFT JOIN tgt t USING (h)),
         |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS importance_num
         |       FROM occ JOIN wt USING (h) WHERE doc_id % 97 <> 0 GROUP BY doc_id)
         |SELECT h.doc_id, h.n_sh,
         |       COALESCE(s.importance_num, CAST(0 AS BIGINT)) AS importance_num,
         |       CASE WHEN h.n_sh > 0
         |            THEN CAST(COALESCE(s.importance_num, 0) AS DOUBLE)/(h.n_sh * 10000) END AS importance,
         |       CASE WHEN h.n_sh > 0
         |            THEN COALESCE(s.importance_num, 0) >= h.n_sh * 10000 END AS keep
         |FROM hashes h LEFT JOIN sc s USING (doc_id)
         |WHERE h.doc_id % 97 <> 0
         |ORDER BY doc_id""".stripMargin),

    // canonical normalization: NFC -> lower -> explicit-class whitespace
    // collapse + trim, mirroring the kernel stage-for-stage (the corpus
    // is ASCII, where Java and utf8proc case mappings agree; the
    // non-ASCII contract is pinned Spark-side in NativeHashSpec)
    "pipeline_normalize" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS norm_text,
         |  CAST(length(text) AS BIGINT) AS n_chars_raw,
         |  CAST(length(trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
         |  text <> trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS changed
         |FROM documents ORDER BY doc_id""".stripMargin,

    // repeated-substring corpus card: span document-frequency >= 2
    // flags; the span CTE is the decontaminate_span fold verbatim
    // (distinct per doc, so a span's occurrence count IS its df)
    "corpus_span_dupes" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |whs AS (
         |  SELECT doc_id, list_transform(w, s -> ${poly("s")}) AS wh FROM ws),
         |hashes AS (
         |  SELECT doc_id,
         |         list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+7]),
         |                        (h, x) -> (h*31+x) % $M)
         |                        for i in generate_series(1, greatest(len(wh)-7, 0))]) AS hs
         |  FROM whs),
         |occ AS (SELECT doc_id, unnest(hs) AS h FROM hashes),
         |rep AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
         |dup AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans
         |        FROM occ JOIN rep USING (h) GROUP BY doc_id)
         |SELECT h.doc_id, CAST(len(h.hs) AS BIGINT) AS n_spans,
         |       COALESCE(d.dup_spans, CAST(0 AS BIGINT)) AS dup_spans,
         |       CASE WHEN len(h.hs) > 0
         |            THEN CAST(COALESCE(d.dup_spans, 0) AS DOUBLE)/len(h.hs) END AS dup_frac
         |FROM hashes h LEFT JOIN dup d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // C4 line filter: the page construction (10-word lines, coin-driven
    // suffix/boilerplate) replays graft_build_page integer-for-integer
    // (builtPagesCte, shared with pipeline_dedup_lines); the filter CTE
    // then applies the real C4 rules per line
    "pipeline_clean_lines" ->
      s"""WITH $builtPagesCte,
         |cleaned AS (
         |  SELECT doc_id, len(lines) AS n_lines,
         |    [trim(l) for l in lines if
         |       trim(l) <> ''
         |       AND right(trim(l), 1) IN ('.', '!', '?', '"')
         |       AND NOT contains(trim(l), '{')
         |       AND NOT contains(lower(trim(l)), 'lorem ipsum')
         |       AND NOT contains(lower(trim(l)), 'javascript')
         |       AND len(string_split_regex(trim(l), '\\s+')) >= 3] AS kl
         |  FROM built)
         |SELECT doc_id, COALESCE(array_to_string(kl, chr(10)), '') AS clean_text,
         |  CAST(n_lines AS BIGINT) AS n_lines, CAST(len(kl) AS BIGINT) AS n_kept,
         |  len(kl) >= 3 AS kept
         |FROM cleaned ORDER BY doc_id""".stripMargin,

    // span REMOVAL: the dup vocabulary (df >= 2 over distinct per-doc
    // spans) replays corpus_span_dupes' CTEs; positions are flagged by
    // re-walking the POSITIONAL span list and covering [i, i+7], and the
    // doc is rebuilt from the uncovered tokens of its canonical form —
    // 1-based here, 0-based in the kernel, only relative cover matters
    "pipeline_span_dedup" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |whs AS (
         |  SELECT doc_id, w, list_transform(w, s -> ${poly("s")}) AS wh FROM ws),
         |ph AS (
         |  SELECT doc_id, w,
         |         [list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+7]),
         |          (h, x) -> (h*31+x) % $M)
         |          for i in generate_series(1, greatest(len(wh)-7, 0))] AS ph
         |  FROM whs),
         |occ AS (SELECT doc_id, unnest(list_distinct(ph)) AS h FROM ph),
         |rep AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
         |starts AS (
         |  SELECT doc_id,
         |         unnest([{'h': ph[i], 'i': i}
         |                 for i in generate_series(1, greatest(len(ph), 0))]) AS sp
         |  FROM ph),
         |flag AS (SELECT s.doc_id, s.sp.i AS i FROM starts s JOIN rep r ON s.sp.h = r.h),
         |covw AS (SELECT DISTINCT doc_id, i + k AS j
         |         FROM flag, (SELECT unnest(generate_series(0, 7)) AS k)),
         |covl AS (SELECT doc_id, list(j) AS cov FROM covw GROUP BY doc_id),
         |out AS (
         |  SELECT p.doc_id,
         |    -- array_to_string of an EMPTY list is NULL in DuckDB; the
         |    -- kernel's all-words-removed rebuild is '' — coalesce
         |    COALESCE(array_to_string([p.w[j] for j in generate_series(1, len(p.w))
         |                     if NOT COALESCE(list_contains(c.cov, j), FALSE)], ' '), '') AS clean_text,
         |    CAST(len(p.w) AS BIGINT) AS n_words,
         |    CAST(COALESCE(len(c.cov), 0) AS BIGINT) AS n_removed
         |  FROM ph p LEFT JOIN covl c USING (doc_id))
         |SELECT doc_id, clean_text, n_words, n_removed, n_removed > 0 AS rewritten
         |FROM out ORDER BY doc_id""".stripMargin,

    // in-document line dedup: the shared page replay, then keep line i
    // iff the FIRST position of its trimmed form is i (list_position
    // returns the first 1-based index — first-occurrence semantics)
    "pipeline_dedup_lines" ->
      s"""WITH $builtPagesCte,
         |ded AS (
         |  SELECT doc_id, len(lines) AS n_lines,
         |    [trim(lines[i]) for i in generate_series(1, len(lines))
         |       if list_position(list_transform(lines, x -> trim(x)), trim(lines[i])) = i] AS kl
         |  FROM built)
         |SELECT doc_id, COALESCE(array_to_string(kl, chr(10)), '') AS clean_text,
         |  CAST(n_lines AS BIGINT) AS n_lines, CAST(len(kl) AS BIGINT) AS n_kept,
         |  len(kl) < n_lines AS changed
         |FROM ded ORDER BY doc_id""".stripMargin,

    // PII redaction: the plant (10-word chunks, coin-planted contact
    // token per chunk) replays graft_plant_pii integer-for-integer; the
    // scrub then applies the SAME interpolated regexes with DuckDB's
    // regexp machinery ('g' = Spark regexp_replace's replace-all)
    "pipeline_pii_redact" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w, ${poly("text")} AS base
         |  FROM documents),
         |built AS (
         |  SELECT doc_id,
         |    array_to_string([array_to_string(w[i*10+1 : i*10+10], ' ') ||
         |      CASE
         |        WHEN (base + i*2654435761) % 100 >= 75 AND (base + i*2654435761) % 100 < 80
         |          THEN ' u' || CAST((base + i*2654435761) % 10000 % 100 AS VARCHAR) || '@ex'
         |        WHEN (base + i*2654435761) % 100 >= 80 AND (base + i*2654435761) % 100 < 85
         |          THEN ' u' || CAST((base + i*2654435761) % 10000 % 100 AS VARCHAR) || '@ex' ||
         |               CAST((base + i*2654435761) % 10000 % 7 AS VARCHAR) || '.com'
         |        WHEN (base + i*2654435761) % 100 >= 85 AND (base + i*2654435761) % 100 < 90
         |          THEN ' +1-555-' || lpad(CAST((base + i*2654435761) % 10000 % 1000 AS VARCHAR), 3, '0') ||
         |               '-' || lpad(CAST((base + i*2654435761) % 10000 AS VARCHAR), 4, '0')
         |        WHEN (base + i*2654435761) % 100 >= 90 AND (base + i*2654435761) % 100 < 95
         |          THEN ' 10.' || CAST((base + i*2654435761) % 10000 % 256 AS VARCHAR) || '.' ||
         |               CAST(((base + i*2654435761) % 10000 // 16) % 256 AS VARCHAR) || '.77'
         |        WHEN (base + i*2654435761) % 100 >= 95
         |          THEN ' 123-45-' || lpad(CAST((base + i*2654435761) % 10000 AS VARCHAR), 4, '0')
         |        ELSE '' END
         |      for i in generate_series(0, (len(w)+9)//10 - 1)], ' ') AS pii_text
         |  FROM ws),
         |red AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(pii_text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(pii_text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |    CAST(len(regexp_extract_all(pii_text, '${TextOps.IpRe}')) AS BIGINT) AS n_ips,
         |    CAST(len(regexp_extract_all(pii_text, '${TextOps.SsnRe}')) AS BIGINT) AS n_ssns,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |      '${TextOps.PhoneRe}', '<PHONE>', 'g'),
         |      '${TextOps.IpRe}', '<IP>', 'g'),
         |      '${TextOps.SsnRe}', '<SSN>', 'g') AS clean_text
         |  FROM built)
         |SELECT doc_id, clean_text, n_emails, n_phones, n_ips, n_ssns,
         |  n_emails + n_phones + n_ips + n_ssns AS n_pii,
         |  (n_emails + n_phones + n_ips + n_ssns) > 0 AS had_pii
         |FROM red ORDER BY doc_id""".stripMargin,

    "pipeline_mixture" ->
      s"""WITH rates AS (
         |  SELECT DISTINCT source,
         |         CAST(20 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT), 0) * 7) % 80 AS INT) AS rate_pct
         |  FROM documents),
         |coins AS (
         |  SELECT doc_id, source, lang, ${poly("text")} % 100 AS coin FROM documents)
         |SELECT c.doc_id, c.source, c.lang, CAST(c.coin AS BIGINT) AS coin, r.rate_pct
         |FROM coins c JOIN rates r USING (source)
         |WHERE c.coin < r.rate_pct
         |ORDER BY c.doc_id""".stripMargin,

    "pipeline_quality_topq" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws),
         |scored AS (
         |  SELECT doc_id, lang,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM m),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk,
         |         COUNT(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM scored)
         |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= (n_lang * 1 + 1) // 2
         |ORDER BY doc_id""".stripMargin,

    // the validated sketch card: per-lang counts reproduce in any
    // engine; the in-band verdicts are TRUE whenever the GK sketch
    // meets its proven rank band — a broken sketch flips one and the
    // hash gate goes red (cutoff VALUES stay spec-gated by replay)
    "pipeline_quality_topq_approx" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  TRUE AS cutoff_in_band, TRUE AS sel_frac_in_band
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_lang_id" -> {
      val hits = TextOps.stopwords.map { case (l, list) => s"${stopHitsSql(list)} AS s_$l" }.mkString(", ")
      val langs = TextOps.stopwords.map(_._1)
      val cases = langs.init.zipWithIndex.map { case (l, i) =>
        val ge = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $ge THEN '$l'"
      }.mkString("\n       ")
      s"""WITH ws AS (
         |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |scores AS (SELECT doc_id, lang, $hits FROM ws)
         |SELECT doc_id, lang,
         |  CASE $cases
         |       ELSE '${langs.last}' END AS pred_lang,
         |  ${langs.map(l => s"s_$l").mkString(", ")}
         |FROM scores ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""WITH ws AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(w, x -> CAST(length(x) AS BIGINT))), (s, x) -> s + x) AS word_chars,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws)
         |SELECT doc_id, n_chars, n_words, n_uniq,
         |  CAST(word_chars AS DOUBLE)/n_words AS avg_word_len,
         |  CAST(n_uniq AS DOUBLE)/n_words AS uniq_ratio,
         |  CAST(stop_hits AS DOUBLE)/n_words AS stop_ratio,
         |  CAST(alpha_chars AS DOUBLE)/n_chars AS alpha_ratio,
         |  0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |    + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) > 0
         |       THEN CAST(length(text) AS DOUBLE)
         |            / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) END AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |mx AS (
         |  SELECT doc_id, max(c) AS max_cnt, CAST(count(*) AS BIGINT) AS uniq1 FROM (
         |    SELECT doc_id, tok, count(*) AS c
         |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id),
         |g AS (
         |  SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n,
         |    CAST(len(list_distinct(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS uniq2,
         |    CAST(len(list_distinct(list_transform(range(1, len(toks)-1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS BIGINT) AS uniq3,
         |    mx.max_cnt, mx.uniq1
         |  FROM t JOIN mx ON t.doc_id = mx.doc_id)
         |SELECT doc_id, n AS n_tokens,
         |  CAST(n - uniq1 AS DOUBLE)/n AS dup_word_frac,
         |  CASE WHEN n >= 2 THEN CAST(n-1-uniq2 AS DOUBLE)/(n-1) END AS dup_2gram_frac,
         |  CASE WHEN n >= 3 THEN CAST(n-2-uniq3 AS DOUBLE)/(n-2) END AS dup_3gram_frac,
         |  CAST(max_cnt AS DOUBLE)/n AS top_token_frac,
         |  (n >= 2 AND CAST(n-1-uniq2 AS DOUBLE)/(n-1) <= $Dup2Max
         |    AND CAST(max_cnt AS DOUBLE)/n <= $TopTokMax) AS kept
         |FROM g ORDER BY doc_id""".stripMargin,

    // BPE fit replay: 16 unrolled argmax+merge rounds over the top-256
    // fit vocabulary; a round with no pairs left yields an empty best_r
    // that contributes no merge row and applies as identity
    "tokenizer_fit" -> (bpeFitCtes(Bpe.VocabSize, Bpe.MergeRounds) +
      "\n" + (0 until Bpe.MergeRounds).map { r =>
        s"""SELECT CAST(${r + 1} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
           |  a || b AS merged, cnt AS pair_count FROM best$r""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY merge_rank"),

    // BPE score replay: the fit CTEs verbatim, then every DISTINCT corpus
    // word runs the same 16 merge folds and docs aggregate token counts
    // over their (nonempty) word instances
    "text_bpe_tokens" -> {
      val aw = (0 until Bpe.MergeRounds).map { r =>
        s"""
           |, aw${r + 1} AS MATERIALIZED (
           |  SELECT word, ${bpeFold("seg", "b.a", "b.b")} AS seg
           |  FROM aw$r LEFT JOIN best$r b ON TRUE)""".stripMargin
      }.mkString
      bpeFitCtes(Bpe.VocabSize, Bpe.MergeRounds) +
        s"""
           |, dwf AS MATERIALIZED (
           |  SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[\\s\\x{1F}\\x{1E}]+')) AS word
           |    FROM documents) WHERE word <> ''),
           |aw0 AS MATERIALIZED (SELECT word, array_to_string(string_split(word, ''), '$BpeSep') AS seg
           |        FROM (SELECT DISTINCT word FROM dwf))""".stripMargin + aw +
        s"""
           |SELECT d.doc_id, COUNT(*) AS n_words,
           |  CAST(SUM(len(string_split(a.seg, '$BpeSep'))) AS BIGINT) AS n_bpe_tokens
           |FROM dwf d JOIN aw${Bpe.MergeRounds} a USING (word)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // The segmentation artifact: the aw word chain verbatim, plus a
    // word-ORDER index (ws[i] via an unnested generate_series) so the
    // per-doc string_agg replays the document sequence exactly
    "text_bpe_segments" -> {
      val aw = (0 until Bpe.MergeRounds).map { r =>
        s"""
           |, aw${r + 1} AS MATERIALIZED (
           |  SELECT word, ${bpeFold("seg", "b.a", "b.b")} AS seg
           |  FROM aw$r LEFT JOIN best$r b ON TRUE)""".stripMargin
      }.mkString
      bpeFitCtes(Bpe.VocabSize, Bpe.MergeRounds) +
        s"""
           |, dwi AS MATERIALIZED (
           |  SELECT doc_id, i, ws[i] AS word FROM (
           |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM (
           |      SELECT doc_id, string_split_regex(lower(trim(text)), '[\\s\\x{1F}\\x{1E}]+') AS ws
           |      FROM documents))
           |  WHERE ws[i] <> ''),
           |aw0 AS MATERIALIZED (SELECT word, array_to_string(string_split(word, ''), '$BpeSep') AS seg
           |        FROM (SELECT DISTINCT word FROM dwi))""".stripMargin + aw +
        s"""
           |SELECT d.doc_id,
           |  CAST(SUM(len(string_split(a.seg, '$BpeSep'))) AS BIGINT) AS n_bpe_tokens,
           |  string_agg(a.seg, '$BpeRS' ORDER BY d.i) AS segments
           |FROM dwi d JOIN aw${Bpe.MergeRounds} a USING (word)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // cf/df per top token; integer counts, IEEE quotient
    "corpus_burstiness" ->
      s"""SELECT token, cf, df, CAST(cf AS DOUBLE)/CAST(df AS DOUBLE) AS burstiness
         |FROM (
         |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cf,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)
         |  GROUP BY tok ORDER BY cf DESC, token LIMIT 20)
         |ORDER BY cf DESC, token""".stripMargin,

    // rank x frequency over the same top-k vocabulary; all integers
    "corpus_zipf_card" ->
      s"""WITH top AS (
         |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)
         |  GROUP BY tok ORDER BY n_occurrences DESC, token LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS rank,
         |       token, n_occurrences,
         |       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT)
         |         * n_occurrences AS zipf_product
         |FROM top ORDER BY rank""".stripMargin,

    "corpus_token_topk" ->
      s"""SELECT tok AS token, COUNT(*) AS n_occurrences
         |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |      FROM documents)
         |GROUP BY tok
         |ORDER BY n_occurrences DESC, token
         |LIMIT 20""".stripMargin,

    "corpus_ngram_topk" ->
      s"""SELECT g AS ngram, COUNT(*) AS n_occurrences
         |FROM (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS g
         |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM documents))
         |GROUP BY g
         |ORDER BY n_occurrences DESC, ngram
         |LIMIT 20""".stripMargin,

    // interleave replay: same hash, same (source, bucket) rank, same
    // integer virtual clock
    "pipeline_interleave" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |         ${poly("'ilv1:' || CAST(doc_id AS VARCHAR)")} AS hkey
         |  FROM documents),
         |b AS (
         |  SELECT *, CAST(hkey % 16 AS INT) AS bucket,
         |    CAST(CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS BIGINT) AS weight
         |  FROM h),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY source, bucket ORDER BY hkey, doc_id) AS BIGINT)
         |      AS rank_in_bucket
         |  FROM b)
         |SELECT doc_id, source, weight, bucket,
         |  (rank_in_bucket - 1) * 16 + bucket AS p,
         |  (((rank_in_bucket - 1) * 16 + bucket) * 1000000) // weight AS vt
         |FROM r ORDER BY doc_id""".stripMargin,

    // dataset-card replay: the source-stats token formula + the exact-dup
    // grouping + the split coin, reduced to one row of BIGINTs
    "pipeline_dataset_card" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, lang, text,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS tok
         |  FROM documents),
         |vol AS (
         |  SELECT COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(nc) AS BIGINT) AS n_chars,
         |    (SELECT COUNT(*) FROM (SELECT DISTINCT source, lang FROM documents)) AS n_strata,
         |    COUNT(DISTINCT source) AS n_sources, COUNT(DISTINCT lang) AS n_langs
         |  FROM t),
         |g AS (SELECT COUNT(*) AS n FROM documents GROUP BY md5(text)),
         |d AS (
         |  SELECT CAST(COUNT(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS n_dup_groups,
         |    CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs
         |  FROM g),
         |c AS (SELECT ${poly("text")} % 1000 AS coin FROM documents),
         |sp AS (
         |  SELECT CAST(COUNT(CASE WHEN coin >= 20 THEN 1 END) AS BIGINT) AS n_train,
         |    CAST(COUNT(CASE WHEN coin >= 10 AND coin < 20 THEN 1 END) AS BIGINT) AS n_val,
         |    CAST(COUNT(CASE WHEN coin < 10 THEN 1 END) AS BIGINT) AS n_test
         |  FROM c)
         |SELECT * FROM vol CROSS JOIN d CROSS JOIN sp""".stripMargin,

    // mirror replay: same shingle kernel with source carried through;
    // the [2, 10] source-df band is semantics and skew bound at once
    "corpus_mirror_pairs" ->
      s"""WITH ws AS (
         |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
         |  FROM documents),
         |whs AS (SELECT doc_id, source, list_transform(w, s -> ${poly("s")}) AS wh FROM ws),
         |hs0 AS (
         |  SELECT doc_id, source,
         |         list_distinct([(((wh[i]*31 + wh[i+1]) % $M) * 31 + wh[i+2]) % $M
         |                        for i in generate_series(1, greatest(len(wh)-2, 0))]) AS hs
         |  FROM whs),
         |sh AS (SELECT DISTINCT source, unnest(hs) AS h FROM hs0),
         |d AS (SELECT h, COUNT(*) AS nsrc FROM sh GROUP BY 1),
         |keep AS (SELECT sh.source, sh.h FROM sh JOIN d USING (h)
         |         WHERE d.nsrc BETWEEN 2 AND 10),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
         |  FROM keep a JOIN keep b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, shared,
         |  CAST(row_number() OVER (ORDER BY shared DESC, source_a, source_b) AS INT) AS rnk
         |FROM pairs ORDER BY shared DESC, source_a, source_b LIMIT 20""".stripMargin,

    // oov replay: same tokenization, same (count DESC, token) top-200
    // fit, same miss counts; the rate is one IEEE division of exact longs
    "text_oov_rate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |  FROM documents),
         |vocab AS (
         |  SELECT token FROM tok GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT 200),
         |j AS (
         |  SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok t LEFT JOIN vocab v USING (token))
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  CAST(CAST(SUM(oov) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // tfidf replay: same tokenization, integer idf_fp = (1e6·N) // df,
    // score = tf·idf_fp, ties broken by token — all BIGINT
    "corpus_tfidf_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |d AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, d.df,
         |         tf.tf * ((1000000 * n.n_docs) // d.df) AS score
         |  FROM tf JOIN d USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rk
         |  FROM s)
         |SELECT doc_id, token, tf, df, score, rk
         |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    // lift replay: same pair/unigram counts; the lift is the SAME fixed
    // IEEE shape ((n_ab·T) doubles over (n_a·n_b) doubles) both engines
    "corpus_lift_topk" ->
      s"""WITH prs AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)),
         |pc AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS n_ab FROM prs GROUP BY 1, 2),
         |uc AS (SELECT tok, COUNT(*) AS n FROM (
         |         SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |         FROM documents) GROUP BY tok),
         |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS t FROM pc)
         |SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
         |  (CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE)) /
         |  (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS lift
         |FROM pc
         |JOIN uc ua ON ua.tok = a
         |JOIN uc ub ON ub.tok = b
         |CROSS JOIN tot
         |WHERE n_ab >= 5
         |ORDER BY lift DESC, a, b
         |LIMIT 20""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id, ${poly("text")} AS fingerprint,
         |  list_min([${poly("substring(text, i, 8)")}
         |            for i in generate_series(1, greatest(length(text)-7, 1))]) AS min_gram_hash,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // quality replayed exactly as in text_quality (same CTE shape, lang
    // carried through), then the standard equi-depth NTILE per language
    "pipeline_quality_deciles" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws),
         |q AS (
         |  SELECT doc_id, lang,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM m)
         |SELECT doc_id, lang, quality,
         |  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS BIGINT) AS decile
         |FROM q ORDER BY doc_id""".stripMargin,

    // quality formula + regexp token count replayed, then only
    // order-independent aggregates — no float SUM anywhere
    "corpus_source_stats" ->
      s"""WITH ws AS (
         |  SELECT doc_id, source, lang, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT source, lang, n_chars, n_re_tokens, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws),
         |q AS (
         |  SELECT source, lang, n_chars, n_re_tokens,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM m)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_re_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  MIN(quality) AS min_quality, MAX(quality) AS max_quality,
         |  CAST(SUM(n_re_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
         |FROM q GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin,

    "pipeline_split" ->
      s"""WITH c AS (
         |  SELECT doc_id, source, lang, ${poly("text")} % 1000 AS coin FROM documents)
         |SELECT doc_id, source, lang, CAST(coin AS BIGINT) AS coin,
         |  CASE WHEN coin < 10 THEN 'test' WHEN coin < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM c ORDER BY doc_id""".stripMargin,

    // the deciles computation (pipeline_quality_deciles oracle verbatim)
    // plus the bounded epoch explode
    "pipeline_upsample" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws),
         |q AS (
         |  SELECT doc_id, lang,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM m),
         |d AS (
         |  SELECT doc_id, lang, quality,
         |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS BIGINT) AS decile
         |  FROM q),
         |e AS (
         |  SELECT *, greatest(CAST(1 AS BIGINT), 5 - decile) AS n_epochs FROM d)
         |SELECT doc_id, lang, quality, decile, n_epochs,
         |       CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS epoch
         |FROM e ORDER BY doc_id, epoch""".stripMargin,

    // int8 quantization: the per-dim envelope is recomputed in-query
    // (min/max are selections of stored doubles ⇒ identical binary
    // values to the Spark fit), then codes and the midpoint error
    // replay the identical IEEE expression tree per element
    "embedding_quantize" -> {
      val code = s"CASE WHEN mx[i] = mn[i] THEN CAST(0 AS BIGINT) ELSE " +
        s"least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"CAST(floor((e[i] - mn[i]) / (mx[i] - mn[i]) * 255) AS BIGINT))) END"
      s"""WITH ex AS (
         |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
         |         unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings),
         |stats AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d),
         |env AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM stats),
         |q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, mn, mx
         |      FROM embeddings, env)
         |SELECT vec_id,
         |  array_to_string([$code for i in generate_series(1, $Dim)], ',') AS codes,
         |  list_max([abs(e[i] - (mn[i] + (CAST(($code) AS DOUBLE) + 0.5) * (mx[i] - mn[i]) / 255))
         |            for i in generate_series(1, $Dim)]) AS max_abs_err
         |FROM q ORDER BY vec_id""".stripMargin
    },

    // fixed-point PCA projection: the fp-unit CTEs (kmeansFitCtes'
    // vfp/vfu verbatim), the exact upper-triangle covariance, and the
    // 8-round max-norm power iteration unrolled in HUGEINT — every op
    // an integer sum/product/ABS/MAX or a truncating `//`, so the
    // replay is bit-exact under any order; the final projection SUM
    // is an exact integer both sides (Spark's double fold < 2^53)
    "embedding_pca_project" -> pcaProjectOracle,
    "embedding_pca_topk" -> pcaTopkOracle,
    "embedding_pca_outliers" -> pcaOutliersOracle,
    "embedding_pca_card" -> pcaCardOracle,
    "embedding_pca_whiten" -> pcaWhitenOracle,

    "embedding_stats" ->
      s"""WITH v AS (
         |  SELECT label, CAST(len(embedding) AS INT) AS dim,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      [x*x for x in CAST(embedding AS DOUBLE[])]), (s,x) -> s+x)) AS nrm
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vecs,
         |  MIN(dim) AS min_dim, MAX(dim) AS max_dim,
         |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
         |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |FROM v GROUP BY label ORDER BY label""".stripMargin,

    "corpus_ngram_novelty" -> (ShingleCte +
      s"""
         |, ex AS (SELECT doc_id, unnest(hs) AS h FROM hashes),
         |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_ngrams,
         |         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM ex JOIN dfreq USING (h) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(pd.n_ngrams, 0) AS n_ngrams,
         |  COALESCE(pd.n_unique, 0) AS n_unique,
         |  CASE WHEN pd.n_ngrams > 0
         |       THEN CAST(pd.n_unique AS DOUBLE) / pd.n_ngrams END AS novelty
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    "corpus_length_hist" ->
      s"""WITH b AS (
         |  SELECT n_chars,
         |    CASE WHEN n_chars > 0 THEN CAST(length(bin(n_chars)) AS INT)
         |         ELSE 0 END AS bin
         |  FROM documents)
         |SELECT bin, COUNT(*) AS n_docs,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // the deciles oracle (pipeline_quality_deciles verbatim) + the
    // pipeline_shuffle hash, ranked within (decile, bucket)
    "pipeline_curriculum" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |m AS (
         |  SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    ${stopHitsSql(TextOps.stopwords.head._2)} AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars
         |  FROM ws),
         |q AS (
         |  SELECT doc_id, lang,
         |    0.3*(CAST(n_uniq AS DOUBLE)/n_words) + 0.3*(CAST(stop_hits AS DOUBLE)/n_words)
         |      + 0.4*(CAST(alpha_chars AS DOUBLE)/n_chars) AS quality
         |  FROM m),
         |d AS (
         |  SELECT doc_id,
         |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS BIGINT) AS decile
         |  FROM q),
         |h AS (
         |  SELECT doc_id, decile,
         |    ${poly("'curr1:' || CAST(doc_id AS VARCHAR)")} AS hkey
         |  FROM d)
         |SELECT doc_id, decile, CAST(hkey % 16 AS INT) AS bucket,
         |  CAST(row_number() OVER (PARTITION BY decile, hkey % 16
         |    ORDER BY hkey, doc_id) AS INT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin,

    "pipeline_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${poly("'shuf1:' || CAST(doc_id AS VARCHAR)")} AS hkey
         |  FROM documents)
         |SELECT doc_id, hkey, CAST(hkey % 64 AS INT) AS bucket,
         |  CAST(row_number() OVER (PARTITION BY hkey % 64
         |    ORDER BY hkey, doc_id) AS INT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin,

    "pipeline_sample_stratified" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, lang,
         |         ${poly("'strat:' || CAST(doc_id AS VARCHAR)")} AS hkey
         |  FROM documents),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY hkey, doc_id) AS INT) AS rk
         |  FROM h)
         |SELECT doc_id, source, lang, hkey, rk
         |FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    "mm_audiowindow" ->
      s"""WITH blobs AS (
         |  SELECT doc_id,
         |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
         |         ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
         |  FROM documents),
         |auds AS (
         |  SELECT doc_id, CAST(8000 + (checksum % 4) * 8000 AS BIGINT) AS sample_rate, size_bytes
         |  FROM blobs WHERE format = 'audio'),
         |w AS (
         |  SELECT doc_id, sample_rate, size_bytes,
         |         sample_rate // 100 AS win_len, (sample_rate // 100) // 2 AS hop
         |  FROM auds),
         |wins AS (
         |  SELECT *, unnest(generate_series(0, size_bytes - 1, hop)) AS o FROM w)
         |SELECT doc_id, sample_rate, size_bytes,
         |       CAST(o // hop AS BIGINT) AS win_idx, CAST(o AS BIGINT) AS sample_offset,
         |       win_len, least(win_len, size_bytes - o) AS win_actual
         |FROM wins ORDER BY doc_id, win_idx""".stripMargin,

    "mm_meta" ->
      s"""WITH blobs AS (
         |  SELECT doc_id,
         |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
         |         ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
         |  FROM documents)
         |SELECT doc_id, format, size_bytes, checksum,
         |  CAST(16 + checksum % 320 AS BIGINT) AS width,
         |  CAST(16 + (checksum // 320) % 200 AS BIGINT) AS height,
         |  CASE WHEN format = 'video' THEN CAST(1 + checksum % 16 AS BIGINT) END AS n_frames,
         |  CASE WHEN format = 'audio' THEN CAST(8000 + (checksum % 4) * 8000 AS BIGINT) END AS sample_rate
         |FROM blobs ORDER BY doc_id""".stripMargin,

    // The decode is replayed by FORMULA, not by parsing: Spark builds the
    // WAV container and chunk-walks it back, so equality proves the
    // wrap→parse round trip recovers exactly the generation parameters.
    // checksum = polyhash of the DECODED sample payload (== the text for
    // audio — the payload survives the container round trip intact).
    "mm_decode" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text,
         |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
         |         ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents),
         |a AS (
         |  SELECT *,
         |    CAST(8000 + (checksum % 4) * 8000 AS BIGINT) AS sample_rate,
         |    CAST(1 + checksum % 2 AS BIGINT) AS channels,
         |    CAST(8 * (1 + (checksum // 2) % 2) AS BIGINT) AS bits,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h,
         |    CAST(8 + checksum % 56 AS BIGINT) AS tw,
         |    CAST(8 + (checksum // 56) % 40 AS BIGINT) AS th,
         |    CAST(1 + checksum % 16 AS BIGINT) AS nf
         |  FROM blobs),
         |geo AS (
         |  SELECT *, ((w*3 + 3) // 4) * 4 AS st, ((tw*3 + 3) // 4) * 4 AS stv,
         |    CASE format WHEN 'image' THEN w*3*h
         |                WHEN 'video' THEN tw*3*th*nf ELSE 0 END AS total
         |  FROM a),
         |${bmpPixelCtes("format <> 'audio' AND ")}
         |SELECT g.doc_id, format,
         |  CASE format WHEN 'audio' THEN 44 + data_len
         |              WHEN 'image' THEN 54 + st*h
         |              ELSE 232 + nf*(24 + stv*th) END AS size_bytes,
         |  CASE WHEN format = 'audio' THEN checksum
         |       ELSE COALESCE(p.pixel_hash, CAST(0 AS BIGINT)) END AS checksum,
         |  CASE format WHEN 'image' THEN w WHEN 'video' THEN tw END AS width,
         |  CASE format WHEN 'image' THEN h WHEN 'video' THEN th END AS height,
         |  CASE WHEN format = 'audio' THEN sample_rate END AS sample_rate,
         |  CASE WHEN format = 'audio' THEN channels END AS channels,
         |  CASE WHEN format = 'audio' THEN bits END AS bits_per_sample,
         |  CASE WHEN format = 'audio' THEN data_len END AS data_len,
         |  CASE format WHEN 'audio' THEN data_len // (channels * bits // 8)
         |              WHEN 'video' THEN nf END AS n_frames
         |FROM geo g LEFT JOIN px p ON g.doc_id = p.doc_id ORDER BY g.doc_id""".stripMargin,

    // Video round trip by formula: the fixed AVI layout is pure
    // arithmetic of (tw, th, nf); the all-frames pixel hash shares the
    // tiled-polyhash closed form (frames tile the payload contiguously)
    "mm_avi_meta" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 2),
         |a AS (
         |  SELECT *,
         |    CAST(8 + checksum % 56 AS BIGINT) AS tw,
         |    CAST(8 + (checksum // 56) % 40 AS BIGINT) AS th,
         |    CAST(1 + checksum % 16 AS BIGINT) AS nf
         |  FROM blobs),
         |geo AS (SELECT *, ((tw*3 + 3) // 4) * 4 AS stv, tw*3*th*nf AS total FROM a),
         |${bmpPixelCtes("")}
         |SELECT g.doc_id,
         |  224 + nf*(24 + stv*th) AS riff_size,
         |  CAST(40000 AS BIGINT) AS us_per_frame,
         |  nf AS total_frames,
         |  tw AS width, th AS height,
         |  CAST(1 AS BIGINT) AS n_streams,
         |  stv AS row_stride,
         |  stv*th AS frame_pixel_bytes,
         |  nf AS movi_frames,
         |  nf AS idx_entries,
         |  tw*3*th*nf AS n_pixel_bytes,
         |  COALESCE(p.pixel_hash, CAST(0 AS BIGINT)) AS pixel_hash,
         |  232 + nf*(24 + stv*th) AS avi_bytes
         |FROM geo g LEFT JOIN px p ON g.doc_id = p.doc_id ORDER BY g.doc_id""".stripMargin,

    // Image round trip by formula: header layout is pure arithmetic of
    // (w, h); the decoded-pixel hash uses the tiled-polyhash closed form
    // H(data^k || prefix_r) = (fold_k(h -> h*31^n + H(data)) * 31^r +
    // H(prefix_r)) mod M — three bounded list_reduce folds instead of
    // touching w*3*h pixel bytes.
    "mm_bmp_meta" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 0),
         |a AS (
         |  SELECT *,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h
         |  FROM blobs),
         |geo AS (SELECT *, ((w*3 + 3) // 4) * 4 AS st, w*3*h AS total FROM a),
         |${bmpPixelCtes("")}
         |SELECT g.doc_id,
         |  54 + st*h AS file_size,
         |  CAST(54 AS BIGINT) AS data_offset,
         |  CAST(40 AS BIGINT) AS header_size,
         |  w AS width, h AS height,
         |  CAST(1 AS BIGINT) AS planes,
         |  CAST(24 AS BIGINT) AS bpp,
         |  CAST(0 AS BIGINT) AS compression,
         |  st*h AS image_size,
         |  st AS row_stride,
         |  w*3*h AS n_pixel_bytes,
         |  COALESCE(p.pixel_hash, CAST(0 AS BIGINT)) AS pixel_hash,
         |  54 + st*h AS bmp_bytes
         |FROM geo g LEFT JOIN px p ON g.doc_id = p.doc_id ORDER BY g.doc_id""".stripMargin,

    // PNG decode replay: PNG is lossless, so the decoded raster IS the
    // tiled payload and the pixel hash is the same closed-form fold as
    // mm_bmp_meta (total = w*3*h, no stride padding in a PNG raster);
    // the (doc_id % 7 = 3) truncation arm nulls every decode-derived
    // column. PNG byte length is encoder-dependent — deliberately absent.
    "mm_decode_png" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 0),
         |a AS (
         |  SELECT *,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h
         |  FROM blobs),
         |geo AS (SELECT *, w*3*h AS total FROM a),
         |${bmpPixelCtes("")}
         |SELECT g.doc_id,
         |  CASE WHEN g.doc_id % 7 = 3 THEN NULL ELSE w END AS width,
         |  CASE WHEN g.doc_id % 7 = 3 THEN NULL ELSE h END AS height,
         |  CASE WHEN g.doc_id % 7 = 3 THEN NULL ELSE w*3*h END AS n_pixel_bytes,
         |  CASE WHEN g.doc_id % 7 = 3 THEN NULL
         |       ELSE COALESCE(p.pixel_hash, CAST(0 AS BIGINT)) END AS pixel_hash,
         |  CASE WHEN g.doc_id % 7 = 3 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(1 AS BIGINT) END AS decode_ok
         |FROM geo g LEFT JOIN px p ON g.doc_id = p.doc_id ORDER BY g.doc_id""".stripMargin,

    // LOSSY JPEG decode replay — only the exact face: SOF dims survive
    // quantization bit-for-bit (they're header fields, not pixels), the
    // raster byte count is pure w*3*h arithmetic, and the truncation arm
    // nulls every decode-derived column. No pixel hash: the decoded
    // bytes are DCT approximations with no closed form (spec-bounded
    // error instead).
    "mm_decode_jpeg" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, ${poly("text")} AS checksum
         |  FROM documents WHERE doc_id % 3 = 0),
         |a AS (
         |  SELECT doc_id,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h
         |  FROM blobs)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE w END AS width,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE h END AS height,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE w*3*h END AS n_pixel_bytes,
         |  CASE WHEN doc_id % 7 = 3 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(1 AS BIGINT) END AS decode_ok
         |FROM a ORDER BY doc_id""".stripMargin,

    // MJPEG decode replay — the video twin of mm_decode_jpeg's exact
    // face: frame count, stream dims and the raster byte count are
    // container/header facts that survive the lossy codec bit-for-bit;
    // the truncation arm nulls every decode-derived column. No pixel
    // hash (DCT approximations; spec-bounded per-frame error instead).
    "mm_decode_mjpeg" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, ${poly("text")} AS checksum
         |  FROM documents WHERE doc_id % 3 = 2),
         |a AS (
         |  SELECT doc_id,
         |    CAST(8 + checksum % 56 AS BIGINT) AS w,
         |    CAST(8 + (checksum // 56) % 40 AS BIGINT) AS h,
         |    CAST(1 + checksum % 16 AS BIGINT) AS nf
         |  FROM blobs)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE nf END AS n_frames,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE w END AS width,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE h END AS height,
         |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE w*3*h*nf END AS n_pixel_bytes,
         |  CASE WHEN doc_id % 7 = 3 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(1 AS BIGINT) END AS decode_ok
         |FROM a ORDER BY doc_id""".stripMargin,

    // resize replay: output pixel (r,c) reads source pixel
    // (r·h div 8, c·w div 8); the source byte at (row, col, k) is
    // payload[(row·3w + col·3 + k) mod data_len] by the tiling, so the
    // 192 picked bytes fold directly (ASCII corpus: ascii() == byte)
    "mm_resize" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 0),
         |a AS (
         |  SELECT *,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h
         |  FROM blobs),
         |bytes AS (
         |  SELECT doc_id, w, h,
         |    flatten(flatten([[[
         |      CAST(ascii(substr(text, CAST(((r*h//8)*(w*3) + (c*w//8)*3 + k) % data_len AS INT) + 1, 1)) AS BIGINT)
         |      for k in generate_series(0, 2)]
         |      for c in generate_series(0, 7)]
         |      for r in generate_series(0, 7)])) AS bs
         |  FROM a)
         |SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
         |  CAST(192 AS BIGINT) AS n_pixel_bytes, w AS src_w, h AS src_h,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), bs), (hh, x) -> (hh*31+x) % $M) AS pixel_hash
         |FROM bytes ORDER BY doc_id""".stripMargin,

    // phash replay: the 64 picked lumas come from the SAME tiling
    // formula as mm_resize ((b+g+r) div 3 per picked pixel), the mean
    // is an integer, and the two 32-bit halves fold MSB-first via
    // a*2+bit — non-negative in both engines
    "mm_phash" -> {
      val byte = (k: Int) =>
        s"CAST(ascii(substr(text, CAST(((r*h//8)*(w*3) + (c*w//8)*3 + $k) % data_len AS INT) + 1, 1)) AS BIGINT)"
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 0),
         |a AS (
         |  SELECT *,
         |    CAST(16 + checksum % 320 AS BIGINT) AS w,
         |    CAST(16 + (checksum // 320) % 200 AS BIGINT) AS h
         |  FROM blobs),
         |lum AS (
         |  SELECT doc_id, w, h,
         |    flatten([[(${byte(0)} + ${byte(1)} + ${byte(2)}) // 3
         |      for c in generate_series(0, 7)]
         |      for r in generate_series(0, 7)]) AS ls
         |  FROM a),
         |m AS (
         |  SELECT *, CAST(list_sum(ls) // 64 AS BIGINT) AS mean FROM lum),
         |packed AS (
         |  SELECT doc_id, w AS src_w, h AS src_h, mean AS mean_luma,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ls[1:32], x -> CASE WHEN x > mean THEN 1 ELSE 0 END)),
         |      (acc, b) -> acc*2 + b) AS phash_hi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ls[33:64], x -> CASE WHEN x > mean THEN 1 ELSE 0 END)),
         |      (acc, b) -> acc*2 + b) AS phash_lo
         |  FROM m)
         |SELECT doc_id, src_w, src_h, mean_luma, phash_hi, phash_lo,
         |  COUNT(*) OVER (PARTITION BY phash_hi, phash_lo) AS n_same
         |FROM packed ORDER BY doc_id""".stripMargin
    },

    // audio fingerprint replay: the data chunk IS the text bytes; window
    // i's energy = Σ ascii over frames [i·wf, (i+1)·wf); 15 delta bits
    // fold MSB-first via acc*2+bit
    "mm_audio_fingerprint" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 1),
         |a AS (
         |  SELECT *,
         |    CAST(8000 + (checksum % 4) * 8000 AS BIGINT) AS sample_rate,
         |    (1 + checksum % 2) * (8 * (1 + (checksum // 2) % 2)) // 8 AS ba
         |  FROM blobs),
         |geo AS (
         |  SELECT *, data_len // ba AS n_frames, (data_len // ba) // 16 AS wf
         |  FROM a),
         |es AS (
         |  SELECT doc_id, sample_rate, n_frames, wf,
         |    [CAST(list_sum([ascii(substr(text, CAST(j AS INT) + 1, 1))
         |        for j in generate_series(i*wf*ba, (i+1)*wf*ba - 1)]) AS BIGINT)
         |     for i in generate_series(0, 15)] AS e
         |  FROM geo)
         |SELECT doc_id,
         |  CASE WHEN n_frames >= 16 THEN sample_rate END AS sample_rate,
         |  CASE WHEN n_frames >= 16 THEN n_frames END AS n_frames,
         |  CASE WHEN n_frames >= 16 THEN wf END AS window_frames,
         |  CASE WHEN n_frames >= 16 THEN
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(CASE WHEN e[i+2] > e[i+1] THEN 1 ELSE 0 END AS BIGINT)
         |       for i in generate_series(0, 14)]),
         |      (acc, b) -> acc*2 + b) END AS fingerprint,
         |  CASE WHEN n_frames >= 16 THEN CAST(list_sum(e) AS BIGINT) END AS energy_total
         |FROM es ORDER BY doc_id""".stripMargin,

    // video phash replay: frame f's picked byte (r,c,k) sits at global
    // unpadded index f·3wh + (r·h div 8)·3w + (c·w div 8)·3 + k of the
    // tiling; per-frame lumas/mean/packing identical to mm_phash
    "mm_video_phash" -> {
      val byte = (k: Int) =>
        s"CAST(ascii(substr(text, CAST((f*(3*w*h) + (r*h//8)*(w*3) + (c*w//8)*3 + $k) % data_len AS INT) + 1, 1)) AS BIGINT)"
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 2),
         |a AS (
         |  SELECT *,
         |    CAST(8 + checksum % 56 AS BIGINT) AS w,
         |    CAST(8 + (checksum // 56) % 40 AS BIGINT) AS h,
         |    CAST(1 + checksum % 16 AS BIGINT) AS n
         |  FROM blobs),
         |fr AS (
         |  SELECT doc_id, text, data_len, w, h,
         |         unnest(generate_series(0, n - 1)) AS f
         |  FROM a),
         |lum AS (
         |  SELECT doc_id, w, h, f,
         |    flatten([[(${byte(0)} + ${byte(1)} + ${byte(2)}) // 3
         |      for c in generate_series(0, 7)]
         |      for r in generate_series(0, 7)]) AS ls
         |  FROM fr),
         |m AS (
         |  SELECT *, CAST(list_sum(ls) // 64 AS BIGINT) AS mean FROM lum)
         |SELECT doc_id, w AS frame_w, h AS frame_h, f AS frame_idx,
         |  mean AS mean_luma,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(ls[1:32], x -> CASE WHEN x > mean THEN 1 ELSE 0 END)),
         |    (acc, b) -> acc*2 + b) AS phash_hi,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(ls[33:64], x -> CASE WHEN x > mean THEN 1 ELSE 0 END)),
         |    (acc, b) -> acc*2 + b) AS phash_lo
         |FROM m ORDER BY doc_id, frame_idx""".stripMargin
    },

    // resample replay: the WAV data chunk IS the text bytes, so frame f
    // byte k is text[f·ba + k]; picked frames stride 4 (ASCII corpus:
    // ascii() == byte), counts in closed form
    "mm_resample" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 1),
         |a AS (
         |  SELECT *,
         |    CAST(8000 + (checksum % 4) * 8000 AS BIGINT) AS sample_rate,
         |    CAST(1 + checksum % 2 AS BIGINT) AS channels,
         |    CAST(8 * (1 + (checksum // 2) % 2) AS BIGINT) AS bits
         |  FROM blobs),
         |geo AS (
         |  SELECT *, channels * bits // 8 AS ba,
         |         data_len // (channels * bits // 8) AS n_in
         |  FROM a),
         |bytes AS (
         |  SELECT doc_id, sample_rate, channels, bits, ba, n_in,
         |    flatten([[CAST(ascii(substr(text, CAST(f*ba + k AS INT) + 1, 1)) AS BIGINT)
         |              for k in generate_series(0, ba - 1)]
         |              for f in generate_series(0, n_in - 1, 4)]) AS bs
         |  FROM geo)
         |SELECT doc_id, sample_rate // 4 AS rate_out, channels,
         |  bits AS bits_per_sample, ba AS block_align, n_in AS n_frames_in,
         |  CAST((n_in + 3) // 4 AS BIGINT) AS n_frames_out,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), bs), (hh, x) -> (hh*31+x) % $M) AS sample_hash
         |FROM bytes ORDER BY doc_id""".stripMargin,

    // G.711 mu-law is a published INTEGER formula, so the full lossy
    // roundtrip replays in SQL: segment = bitlength(biasedMag >> 7) - 1
    // (the classic 256-entry LUT in closed form, the corpus_length_hist
    // bin()-trick), code = complemented sign|seg|mantissa byte, decode =
    // the segment ladder; hashes fold codes / unsigned-16 reconstructions
    // and max_abs_err is exact.
    "mm_ulaw" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, text, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 1),
         |a AS (
         |  SELECT doc_id, text, data_len,
         |    CAST(1 + checksum % 2 AS BIGINT) AS channels,
         |    CAST(8 * (1 + (checksum // 2) % 2) AS BIGINT) AS bits
         |  FROM blobs),
         |b AS (
         |  SELECT doc_id, channels, bits,
         |    data_len // (bits // 8) AS n_samples,
         |    CASE WHEN bits = 8 THEN
         |      [(CAST(ascii(substr(text, i + 1, 1)) AS BIGINT) - 128) * 256
         |       for i in generate_series(0, CAST(data_len AS INT) - 1)]
         |    ELSE
         |      [CASE WHEN ascii(substr(text, 2*i + 2, 1)) >= 128
         |            THEN CAST(ascii(substr(text, 2*i + 1, 1)) AS BIGINT)
         |                 + (CAST(ascii(substr(text, 2*i + 2, 1)) AS BIGINT) - 256) * 256
         |            ELSE CAST(ascii(substr(text, 2*i + 1, 1)) AS BIGINT)
         |                 + CAST(ascii(substr(text, 2*i + 2, 1)) AS BIGINT) * 256 END
         |       for i in generate_series(0, CAST(data_len // 2 AS INT) - 1)]
         |    END AS lin
         |  FROM a),
         |c AS (
         |  SELECT *, [least(abs(s), 32635) + 132 for s in lin] AS mag2
         |  FROM b),
         |d AS (
         |  SELECT *, [length(bin(m >> 7)) - 1 for m in mag2] AS exps
         |  FROM c),
         |e AS (
         |  SELECT doc_id, channels, bits, n_samples, lin,
         |    [255 - ((CASE WHEN lin[i] < 0 THEN 128 ELSE 0 END)
         |            + exps[i] * 16 + ((mag2[i] >> (exps[i] + 3)) % 16))
         |     for i in generate_series(1, CAST(n_samples AS INT))] AS codes
         |  FROM d),
         |f AS (
         |  SELECT *, [255 - cd for cd in codes] AS vs FROM e),
         |g AS (
         |  SELECT doc_id, channels, bits, n_samples, lin, codes,
         |    [CASE WHEN v >= 128
         |          THEN -((((v % 16) * 8 + 132) << ((v // 16) % 8)) - 132)
         |          ELSE (((v % 16) * 8 + 132) << ((v // 16) % 8)) - 132 END
         |     for v in vs] AS dec
         |  FROM f)
         |SELECT doc_id, channels, bits AS bits_per_sample, n_samples,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
         |              (h, x) -> (h*31 + x) % $M) AS ulaw_hash,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), [d & 65535 for d in dec]),
         |              (h, x) -> (h*31 + x) % $M) AS decoded_hash,
         |  coalesce(list_max([abs(dec[i] - lin[i])
         |                     for i in generate_series(1, CAST(n_samples AS INT))]),
         |           0) AS max_abs_err
         |FROM g ORDER BY doc_id""".stripMargin,

    // Same round-trip-by-formula argument for the column-level face; the
    // canonical PCM header makes every field a closed-form integer.
    "mm_wav_meta" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS data_len
         |  FROM documents WHERE doc_id % 3 = 1),
         |a AS (
         |  SELECT doc_id, data_len,
         |    CAST(8000 + (checksum % 4) * 8000 AS BIGINT) AS sample_rate,
         |    CAST(1 + checksum % 2 AS BIGINT) AS channels,
         |    CAST(8 * (1 + (checksum // 2) % 2) AS BIGINT) AS bits
         |  FROM blobs)
         |SELECT doc_id,
         |  36 + data_len AS riff_size,
         |  CAST(16 AS BIGINT) AS fmt_size,
         |  CAST(1 AS BIGINT) AS audio_format,
         |  channels,
         |  sample_rate,
         |  sample_rate * channels * bits // 8 AS byte_rate,
         |  channels * bits // 8 AS block_align,
         |  bits AS bits_per_sample,
         |  data_len,
         |  data_len // (channels * bits // 8) AS n_frames,
         |  44 + data_len AS wav_bytes
         |FROM a ORDER BY doc_id""".stripMargin,

    // Frame table replayed with a lateral stride-4 generate_series over
    // the same video metadata; both engines include frame 0 and every
    // 4th index <= n_frames-1, all-integer byte windows.
    "mm_framesample" ->
      s"""WITH blobs AS (
         |  SELECT doc_id,
         |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
         |         ${poly("text")} AS checksum,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
         |  FROM documents),
         |vids AS (
         |  SELECT doc_id, CAST(1 + checksum % 16 AS BIGINT) AS n_frames, size_bytes
         |  FROM blobs WHERE format = 'video'),
         |frames AS (
         |  SELECT doc_id, n_frames,
         |         unnest(generate_series(0, n_frames - 1, 4)) AS f,
         |         size_bytes // n_frames AS frame_len
         |  FROM vids)
         |SELECT doc_id, n_frames, CAST(f AS BIGINT) AS frame_idx,
         |       CAST(f AS BIGINT) * frame_len AS byte_offset, frame_len
         |FROM frames ORDER BY doc_id, frame_idx""".stripMargin)
}
