package graft

/** Driver-run bench: headline batch queries on SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout. Results are fully materialized through the noop
  * sink (count() would let Spark skip projected columns). Streaming
  * queries are correctness surfaces (Verify), not throughput headliners —
  * their checkpoint I/O would swamp the operator cost being measured.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and reports the
  * per-query MIN — a single-run harness cannot tell machine noise from a
  * regression (round-4 VERDICT "What's wrong" #2: untouched queries
  * drifted +30-45% run-to-run). The min is the least-noise estimator of
  * the plan's cost on a warm JVM; the per-query relative spread
  * (max-min)/min ships in the same JSON line so the reader can judge how
  * noisy the box was.
  */
object Bench {
  // 70 entries — the cap is the DRIVER's 2000-byte tail capture: the
  // contract line costs ~len(name)+9 bytes per query plus ~100 envelope
  // and must leave ~75 for sbt's success line (round 5's 2.3 KB line was
  // front-truncated and unparseable). Round 10 rotates ON the five most
  // expensive round-9 plans that lived only in §7 BenchOne prose
  // (round-9 VERDICT #6: topic_scd2, events_percentiles,
  // sim_knn_join_ivf, parts_pagerank, events_session_overlap) and OFF
  // five cheap/reused-shape rows: the key-serde pair + topic_dlq +
  // topic_ask_route (narrow projections; topic_serde_avro keeps serde
  // kernels benched, topic_ask_table keeps the ask join) and
  // events_asof_forward (asof/tolerance/nearest keep the family).
  // Off-contract cards (narrow scan-speed/reused-shape reports:
  // topic_retention, mm_*_meta, pipeline_split/upsample/normalize,
  // embedding_stats, corpus_length_hist/ngram_novelty/source_stats,
  // events_gap_stats/retention_cohorts, dedup_pair_hist/cluster_stats,
  // the rotated-off five) are timed via BenchOne and recorded in
  // SURVEY §7 prose instead.
  // Round 12 rotates ON the three r11 additions with real cost
  // (knn_pagerank, text_bpe_tokens, mm_decode_jpeg — round-11 VERDICT
  // #7) and OFF three cheap reused-shape rows: pipeline_shuffle (the
  // content-hash sort shape stays benched via pipeline_curriculum),
  // pipeline_token_pack (pipeline_concat_packs rides the same pack
  // window plus the materialization), mm_audiowindow (mm_framesample
  // keeps the work-list explode shape). All three join the BenchOne
  // prose.
  // Round 13 rotates ON the three r12 rows with real distinct cost
  // (round-12 VERDICT #3: knn_pagerank_indexed — the build-once/
  // rank-many edge-index write + rank; mm_decode_mjpeg — per-frame JPEG
  // DCT inside the AVI walk; embedding_pca_project — the one-pass
  // covariance aggregate + corpus-wide scoring) and OFF three cheap
  // reused-shape rows: mm_meta (narrow format sniff; mm_decode keeps
  // the container-walk family benched), corpus_token_topk
  // (corpus_ngram_topk rides the same tokenize+count shuffle, heavier),
  // doc_fingerprint (rolling-hash scan; text_repetition keeps the
  // fused scan-kernel shape) — plus a FOURTH, text_lang_id (narrow
  // scan-speed card; text_quality/text_tokens keep the text-scan
  // kernels benched), because the three new names are 18 bytes longer
  // than the three they replace and the r12 contract line already sat
  // at 1,897 of the 2,000-byte tail: 70 entries restores the r12
  // margin. The r13 additions (knn_diversity_mis, sim_topk_mips_ivf,
  // embedding_pca_topk) start in BenchOne prose (§7) under the same
  // one-round seasoning rule r12's additions had.
  // Round 15 rotates ON the seasoned r14 row knn_mis_cluster_stats
  // (r14 VERDICT #4: 6.14 s BenchOne — the assignment's distinct cost
  // is real work the contract should track) and OFF
  // embedding_pca_project (0.36 s; embedding_pca_topk keeps the PCA
  // family benched and subsumes the projection pass — §6 byte
  // arithmetic: +30 −25 keeps the tail line under the 2,000-byte
  // driver capture with the ~75 B sbt suffix). 69 entries.
  // Round 16 rotates ON the three seasoned r15 rows (r15 VERDICT #5:
  // dedup_pq_codes 0.63 s — the zero-vector-read hash-agg dedup;
  // sim_topk_mips_ivf_fitted 1.58 s — the augmented-space fp k-means
  // fit + serve; knn_consumer_card 6.65 s — the natural heavy pick, it
  // prices the build-once/rank-many pipeline end to end) and OFF three
  // cheap reused-shape rows (the adds cost +81 bytes; the drops return
  // 80, holding the 1,869-byte r15 line ~1,870 under the 2,000-byte
  // tail): sim_topk_bruteforce (the crossJoin+two-phase shape rides
  // every rerank on the contract; recall baselines are recorded in
  // tools/scale_curves_r14–r17.jsonl),
  // events_session_window (events_sessionize + events_session_overlap
  // keep sessionization benched), dedup_embedding (dedup_embedding_cc
  // is the same banded pairs plus the components keeper; dedup_semantic
  // keeps the cluster-confined arm). All three join the BenchOne §7
  // prose. 69 entries held.
  // Round 14 rotates ON the three seasoned r13 rows (round-13 VERDICT
  // #3: knn_diversity_mis 8.19 s — index build + iterated Luby;
  // sim_topk_mips_ivf 1.46 s — the augmented-space bucket join;
  // embedding_pca_topk 0.95 s — 4-axis scoring over the covariance
  // pass) and OFF four cheap reused-shape rows so the contract line
  // stays under the 2,000-byte tail (the three names cost +79 bytes;
  // the four drops return 93): mm_decode (mm_decode_jpeg/mjpeg +
  // mm_framesample keep the container-walk/codec family), text_tokens
  // (text_quality/text_repetition keep the fused text-scan kernels,
  // text_bpe_tokens the tokenizer), dedup_components
  // (dedup_components_star is the same star contraction plus the
  // ordering variant; dedup_embedding_cc + pipeline_clean_corpus_cc
  // keep components benched end-to-end), events_asof_tolerance
  // (events_asof + events_asof_nearest bracket the asof family). All
  // four join the BenchOne §7 prose. 69 entries.
  // Round 17 rotates ON the three seasoned r16 rows (r16 VERDICT #6:
  // sim_topk_ivf_pq_fitted_sized — the fitted serving headline, its fit
  // now rides the deterministic sample; sim_topk_ivf_pq_resfit — the
  // honest-negative fitted residual arm; sim_topk_ivf_hr — the
  // high-recall full-vector point) and OFF four reused-shape rows (the
  // adds cost +91 bytes, the drops return 108 — line ~1,863 of the
  // 2,000-byte tail with the ~75 B sbt suffix): sim_topk_ivf_kmeans
  // (fixed-64 fitted fit+serve — strictly subsumed by the laddered
  // fitted_sized row; sim_topk_ivf keeps the formula serving),
  // sim_topk_lsh (dedup_embedding_cc keeps the banded sign-LSH pair
  // shape), pipeline_quality_deciles (NTILE binning over the same
  // quality scores pipeline_quality_topq keeps benched),
  // pipeline_decontaminate_span (the span-window hash probe rides
  // corpus_span_dupes + pipeline_span_dedup; three decontaminate arms
  // stay). The r17 additions (fitted_hq, fitted_hr,
  // sim_knn_join_ivf_fitted) start in BenchOne prose under the
  // one-round seasoning rule. 68 entries.
  val headliners: Seq[String] = Seq(
    "q1_agg", "q3_join", "q5_join", "topk_per_group",
    "events_window", "events_sessionize",
    "orders_anti_join", "events_rollup", "q18_large_orders", "q10_returned",
    "events_asof", "events_range_join", "events_funnel", "events_anomaly",
    "topic_merge_all", "topic_ask_table", "topic_compact",
    "topic_serde_avro", "topic_scd2",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_ngram_prefix", "dedup_minhash", "dedup_simhash",
    "dedup_pq_codes", "dedup_semantic", "sim_topk_mips_ivf_fitted", "sim_topk_ivf",
    "sim_topk_ivf_hr", "sim_topk_ivf_pq", "sim_topk_ivf_pq_resfit",
    "sim_topk_ivf_pq_fitted_sized", "sim_knn_join_ivf", "sim_topk_mips_ivf",
    "knn_pagerank", "knn_pagerank_indexed", "knn_diversity_mis",
    "knn_mis_cluster_stats", "knn_consumer_card",
    "events_approx", "events_asof_nearest",
    "events_percentiles", "parts_pagerank", "events_session_overlap",
    "text_quality", "text_repetition",
    "text_bpe_tokens",
    "corpus_ngram_topk",
    "dedup_components_star",
    "dedup_embedding_cc",
    "mm_framesample",
    "mm_decode_jpeg", "mm_decode_mjpeg", "embedding_pca_topk",
    "pipeline_clean_corpus", "pipeline_clean_corpus_minhash",
    "pipeline_clean_corpus_cc", "pipeline_concat_packs",
    "pipeline_decontaminate",
    "pipeline_decontaminate_fuzzy", "pipeline_decontaminate_semantic",
    "corpus_span_dupes", "pipeline_span_dedup", "pipeline_clean_lines",
    "pipeline_importance",
    "pipeline_quality_topq", "pipeline_mixture",
    "pipeline_curriculum")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev override for A/B runs (e.g. r8-list vs r9-list in ONE session,
    // round-9 VERDICT #2): comma-separated names replace the contract
    // list. The driver never sets this — the contract stays `headliners`.
    val queryList = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headliners)
    val spark = GraftSession.local()
    // untimed warmup: JVM/codegen/parquet-footer startup shouldn't be
    // billed to whichever query happens to run first
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // rep-MAJOR loop (round-7 VERDICT #1): consecutive-per-query reps let
    // one transient noise window on the box poison ALL samples of the
    // queries it covers (BENCH_r07 reported an untouched query at 26× —
    // pure noise). Interleaving means each query's min samples `reps`
    // time windows spread across the whole bench run, so a noise window
    // inflates at most one rep of each affected query and the min stays
    // noise-free.
    val timed = Array.fill(queryList.size, reps)(0.0)
    for (rep <- 0 until reps; (name, qi) <- queryList.zipWithIndex) {
      val t0 = System.nanoTime()
      timed(qi)(rep) =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          // -1 = machine-readable failure sentinel (a fast crash must not
          // be reported as a fast query); one failed rep fails the query
          case e: Throwable => System.err.println(s"[bench] $name: $e"); -1.0
        }
    }
    val results = queryList.zipWithIndex.map { case (name, qi) => name -> timed(qi).toSeq }
    // 3-decimal values keep the contract line short: the driver's tail
    // capture holds ~2 KB and round 5's full-precision line (~2.3 KB) was
    // truncated from the front, leaving BENCH_r05.json unparseable
    // (round-5 VERDICT "What's wrong" #2). ms resolution loses nothing a
    // min-of-reps harness can measure. Locale.ROOT: under a comma-decimal
    // default locale the f-interpolator would emit "0,959" and break the
    // JSON contract (round-6 ADVICE).
    def s3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, ts) =>
      s"\"" + k + "\":" + (if (ts.contains(-1.0)) "-1.0" else s3(ts.min))
    }.mkString("{", ",", "}")
    // relative spread (max-min)/min per query: >~0.10 flags a noisy box,
    // not a plan change. Its own labeled line, printed BEFORE the contract
    // line so a front-truncating tail clips spread, never the contract.
    val spread = results.collect { case (k, ts) if !ts.contains(-1.0) && ts.min > 0 =>
      s"\"" + k + "\":" + s3((ts.max - ts.min) / ts.min)
    }.mkString("{", ",", "}")
    // headline total is a pure runtime sum of per-query mins: -1 failure
    // sentinels stay per-query but must not subtract from the total
    val total = results.collect { case (_, ts) if !ts.contains(-1.0) => ts.min }.sum
    val failed = results.count(_._2.contains(-1.0))
    // silence any late log lines, then emit the one-line JSON contract
    spark.sparkContext.setLogLevel("OFF")
    System.err.flush()
    println(s"""{"metric":"spread","reps":$reps,"spread":$spread}""")
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","failed":$failed,"reps":$reps,"queries":$qs,"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
