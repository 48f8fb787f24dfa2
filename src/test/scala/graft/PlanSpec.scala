package graft

import graft.queries.{AnalyticsQueries, TopicQueries}

/** Physical-plan shape assertions — the 100-TB design properties from
  * SURVEY.md §5, checked at build time so regressions in partitioning /
  * pushdown / broadcast decisions fail the suite, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val q = (TopicQueries.queries ++ AnalyticsQueries.queries)(name)
    q(spark, sf).queryExecution.executedPlan.toString
  }

  test("q3/q5 star joins broadcast every dimension (no fact-fact shuffle join)") {
    for (q <- Seq("q3_join", "q5_join")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast dims:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q should not sort-merge join:\n$p")
    }
  }

  test("q10: returnflag + quarter filters reach the scans; top-20 is TakeOrdered, not a sort") {
    val p = plan("q10_returned")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter must reach the orders scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 20 must plan as TakeOrderedAndProject (no global sort):\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge at test scale:\n$p")
  }

  test("q1 scan pushes the shipdate filter and prunes to the aggregated columns") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the parquet scan:\n$p")
    assert(!p.contains("l_comment"), s"untouched columns must be pruned:\n$p")
  }

  test("producer-side topic ops are shuffle-free single-pass projections") {
    for (q <- Seq("topic_merge_all", "topic_purge_all", "topic_ask_route")) {
      // drop the final presentation orderBy (driver sorts anyway); the
      // operator itself must plan without any exchange
      val df = (TopicQueries.queries ++ AnalyticsQueries.queries)(q)(spark, sf)
      val core = df.queryExecution.optimizedPlan.toString
      val scans = core.sliding("Relation".length).count(_ == "Relation")
      assert(scans === 1, s"$q must plan exactly ONE scan:\n$core")
    }
    val merge = graft.operators.TopicOps
      .mergeAll(graft.sources.Topics.events(spark, sf), "d")
      .queryExecution.executedPlan.toString
    // r17: the ONE allowed exchange is spreadScan's scale-adaptive
    // parallelism repair (fires in this tiny session because the
    // one-split scan is narrower than the session's width; a no-op on
    // any real multi-split layout). Beyond it, merge-all must not
    // shuffle — in particular nothing keyed (no aggregation/join).
    val mergeEx = merge.sliding("Exchange".length).count(_ == "Exchange")
    assert(mergeEx <= 1, s"merge-all must not shuffle beyond spreadScan:\n$merge")
    if (mergeEx == 1)
      assert(merge.contains("REPARTITION_BY_NUM"),
        s"merge-all's only exchange must be the spreadScan repartition:\n$merge")
  }

  test("compaction is one aggregate with map-side partial agg and a single shuffle") {
    val p = graft.operators.TopicOps
      .compact(graft.sources.Topics.events(spark, sf))
      .queryExecution.executedPlan.toString
    // max_by(struct) buffers a struct → Spark plans SortAggregate; the
    // scale properties that matter are partial aggregation + one exchange
    assert(p.contains("partial_max_by"), s"map-side combine required:\n$p")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1, s"compact must shuffle exactly once:\n$p")
    assert(!p.contains("Window"), "compact must not sort whole partitions via a window")
  }

  test("hopping windows: each event lands in exactly width/slide windows, one exchange " +
      "with partial aggregation before it") {
    import org.apache.spark.sql.functions._
    val hop = AnalyticsQueries.queries("events_window_hopping")(spark, sf).cache()
    val n = graft.sources.Tables.load(spark, sf, "events").count()
    // conservation: the ×2 membership is exact, no event dropped at hop walls
    assert(hop.agg(sum("n_events")).collect()(0).getLong(0) === 2 * n)
    // every window start is slide-aligned and every tumbling-hour count is
    // recoverable: the 1h-aligned hops partition the events
    assert(hop.filter(expr("unix_micros(w_start) % 1800000000 != 0")).count() === 0)
    assert(hop.filter(expr("unix_micros(w_start) % 3600000000 = 0"))
      .agg(sum("n_events")).collect()(0).getLong(0) === n)
    hop.unpersist()
    val p = AnalyticsQueries.queries("events_window_hopping")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      s"map-side combine must collapse the hop blowup before the shuffle:\n$p")
    // one hash exchange for the aggregate (the query's final orderBy adds
    // its own range exchange — presentation, not the aggregation shape)
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx === 1, s"hopping agg must hash-shuffle exactly once:\n$p")
  }

  test("gap stats: lag window + aggregate shuffle twice total; gap count is a closed form") {
    val events = graft.sources.Tables.load(spark, sf, "events")
    val q = (AnalyticsQueries.queries)("events_gap_stats")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // one exchange for the user_id window, one for the per-type aggregate
    // (with map-side partial), plus the presentation orderBy's range
    // exchange over the handful of aggregate rows — no more
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 3, s"gap stats: window + agg + output sort only:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"per-type aggregate needs map-side combine:\n$p")
    // every user with k>=1 events contributes exactly k-1 gaps
    import org.apache.spark.sql.functions._
    val expected = events.count() - events.select("user_id").distinct().count()
    val got = q.agg(sum("n_gaps")).collect()(0).getLong(0)
    assert(got === expected, s"gap count: got $got, expected $expected")
  }

  test("transitions: pair counts conserve (events minus users), supports bounded, " +
      "vocabulary closed") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.load(spark, sf, "events")
    val q = (AnalyticsQueries.queries)("events_transitions")(spark, sf).cache()
    // each user with k events contributes exactly k-1 transitions
    val expected = events.count() - events.select("user_id").distinct().count()
    assert(q.agg(sum("n_transitions")).head().getLong(0) === expected)
    // distinct-user support never exceeds the pair count or the user base
    val users = events.select("user_id").distinct().count()
    assert(q.filter(col("n_users") > col("n_transitions") || col("n_users") > users)
      .count() === 0)
    // both endpoints come from the observed type vocabulary
    val types = events.select(col("event_type")).distinct()
    assert(q.select(col("from_type").as("event_type")).except(types).count() === 0)
    assert(q.select(col("to_type").as("event_type")).except(types).count() === 0)
    q.unpersist()
  }

  test("retention cohorts: first-seen dim broadcasts (no probe shuffle); day-0 cell = cohort size") {
    import org.apache.spark.sql.functions._
    val q = (AnalyticsQueries.queries)("events_retention_cohorts")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the first-seen aggregate is a per-user dim (orders smaller than
    // events) — it must BROADCAST so the events scan joins without any
    // probe-side shuffle; remaining exchanges are the user_id agg, the
    // countDistinct two-phase expansion, the cell agg, and the output
    // sort. (At a scale where users outgrow the broadcast threshold the
    // same plan degrades to a co-partitioned shuffle join — Spark's
    // call, not the operator's.)
    assert(p.contains("BroadcastHashJoin"), s"first-seen dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge at test scale:\n$p")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 5, s"agg + broadcast + distinct-expand + cell agg + sort only:\n$p")
    val cells = q.cache()
    try {
      // nobody is active before their own first event
      assert(cells.filter(col("period") < 0).count() === 0)
      // the day-0 cell of every cohort counts every user of that cohort
      val events = graft.sources.Tables.load(spark, sf, "events")
      val cohortSizes = events.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
        .groupBy("cohort_day").agg(count(lit(1)).as("n_users"))
      val day0 = cells.filter(col("period") === 0)
        .select(col("cohort_day"), col("n_active"))
      assert(day0.join(cohortSizes, "cohort_day")
        .filter(col("n_active") =!= col("n_users")).count() === 0)
      // every event lands in exactly one cell
      assert(cells.agg(sum("n_events")).collect()(0).getLong(0) === events.count())
    } finally cells.unpersist()
  }

  test("anomaly: stats dim broadcasts over the raw scan; every flagged row is beyond 3 sd") {
    import org.apache.spark.sql.functions._
    val q = (AnalyticsQueries.queries)("events_anomaly")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // two passes over the scan (exact moments need one), stats dim joins
    // back by BROADCAST — the probe side must not shuffle
    assert(p.contains("BroadcastHashJoin"), s"stats dim must broadcast:\n$p")
    // 3 "Exchange" hits = stats agg + the BroadcastExchange itself +
    // output sort; a 4th would mean the probe side shuffled
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 3, s"stats agg + broadcast + output sort only:\n$p")
    val rows = q.cache()
    try {
      assert(rows.filter(abs(col("z")) <= 3.0).count() === 0,
        "a flagged row within 3 sd contradicts the filter")
      assert(rows.count() > 0, "fixture yields no outliers — vacuous query")
    } finally rows.unpersist()
  }

  test("brute-force ANN broadcasts the query side") {
    val p = graft.operators.Similarity
      .bruteForceTopK(graft.sources.Tables.load(spark, sf, "embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), s"query vectors must broadcast:\n$p")
  }

  test("MIPS-IVF broadcasts the probed query side and buckets through the " +
      "augmented kernel (no crossJoin of the corpus)") {
    val p = graft.operators.Similarity
      .mipsIvfTopK(graft.sources.Tables.load(spark, sf, "embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), s"probed queries must broadcast:\n$p")
    // the registry alias resolves to the IvfBucket/IvfProbes kernels —
    // the plan prints their prettyName (the corpus side's augmented
    // column may be project-collapsed INTO the call: bucket(concat(e,...)))
    assert(p.contains("graft_ivf_bucket("),
      s"corpus bucketing must run the fused kernel on the augmented vector:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the bucket join, never a cross join:\n$p")
  }

  test("embedding-family plans run fused codebook kernels, no interpreted HOF folds") {
    val kernels = Map(
      "sim_topk_ivf" -> Seq("graft_ivf_bucket", "graft_ivf_probes"),
      "sim_topk_ivf_pq" -> Seq("graft_pq_code", "graft_pq_score"),
      "sim_topk_lsh" -> Seq("graft_plane_buckets"),
      "dedup_embedding" -> Seq("graft_plane_buckets"),
      "sim_topk_bruteforce" -> Seq("graft_dot", "graft_norm"))
    for ((q, ks) <- kernels) {
      val p = graft.queries.PipelineQueries.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      ks.foreach(k => assert(p.contains(k), s"$q must use the $k kernel:\n$p"))
      // the round-1 hazard: interpreted aggregate(zip_with(...)) plane dots
      assert(!p.contains("aggregate(zip_with"),
        s"$q must not score codebooks via interpreted HOF folds:\n$p")
    }
  }

  test("IVF-PQ corpus side: one coarse argmax per row — no inferred kernel Filter, " +
      "the code kernel reads the bucket column") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val isQuery = col("vec_id") < 8
    for ((name, df) <- Seq(
        "fitted" -> graft.operators.Similarity.ivfPqTopKFittedSized(emb, isQuery),
        "formula" -> graft.operators.Similarity.ivfPqTopK(emb, isQuery))) {
      val p = df.queryExecution.executedPlan.toString
      // the join-key form of the inferred-filter landmine: an
      // isnotnull(graft_ivf_bucket(...)) Filter below the projection
      val kernelFilters = p.linesIterator
        .filter(l => l.contains("Filter") && l.contains("graft_ivf_bucket"))
      assert(kernelFilters.isEmpty, s"$name: a Filter evaluates the bucket kernel:\n$p")
      assert("graft_ivf_bucket\\(".r.findAllIn(p).length === 1,
        s"$name: the corpus side must evaluate the bucket kernel exactly once:\n$p")
      assert(p.contains("graft_pq_code_at(") && !p.contains("graft_pq_code("),
        s"$name: codes must come from the bucket column, not a second argmax:\n$p")
      // the refine is scored at generation: the query rows are the only
      // broadcast, and the corpus is read once per side
      assert("BroadcastExchange".r.findAllIn(p).length === 1,
        s"$name: only the query rows may be broadcast:\n$p")
      assert("FileScan parquet".r.findAllIn(p).length <= 2,
        s"$name: at most two embedding scans (corpus side, query side):\n$p")
    }
  }

  test("PQ-MIPS, MIPS-IVF and the PQ-code dedup: one coarse argmax per corpus " +
      "row, no kernel inside a Filter") {
    for (name <- Seq("sim_topk_mips_ivf_pq", "dedup_pq_codes", "sim_topk_mips_ivf",
        "sim_topk_mips_ivf_fitted")) {
      val p = graft.queries.PipelineQueries.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      // the inferred isnotnull(kernel) Filters on join keys; the dedup's
      // own zero-vector filter (graft_norm(e) > 0) is its semantics
      val kernelFilters = p.linesIterator.filter(l => l.contains("Filter") &&
        (l.contains("graft_ivf_bucket") || l.contains("graft_pq_code")))
      assert(kernelFilters.isEmpty, s"$name: a Filter evaluates a codebook kernel:\n$p")
      if (name != "sim_topk_mips_ivf" && name != "sim_topk_mips_ivf_fitted")
        assert(p.contains("graft_pq_code_at(") && !p.contains("graft_pq_code("),
          s"$name: codes must come from the bucket column, not a second argmax:\n$p")
    }
    // the dedup reads its coded frame twice (group side, join side): one
    // bucket kernel per read; each MIPS corpus side once, plus the
    // query side's probes (graft_ivf_probes)
    def buckets(name: String) = "graft_ivf_bucket\\(".r.findAllIn(
      graft.queries.PipelineQueries.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString).length
    assert(buckets("dedup_pq_codes") === 2)
    for (name <- Seq("sim_topk_mips_ivf_pq", "sim_topk_mips_ivf", "sim_topk_mips_ivf_fitted"))
      assert(buckets(name) === 1, name)
  }

  test("whiten runs the fused PcaWhiten kernel: no transform lambda, no " +
      "inlined projection dots under it (the r13 HOF-inlining landmine)") {
    val p = graft.queries.PipelineQueries.queries("embedding_pca_whiten")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_pca_whiten"), s"whiten must run the fused kernel:\n$p")
    assert(!p.contains("transform("),
      s"whiten must not pack via a transform lambda (per-component re-eval):\n$p")
    assert(!p.contains("graft_dot"),
      s"whiten must not leave projection dots to be inlined into the lambda:\n$p")
  }

  test("decontamination broadcasts the benchmark set; token packing shuffles once per shard") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val d = graft.operators.TextOps.decontaminate(docs, col("doc_id") % 97 === 0)
      .queryExecution.executedPlan.toString
    assert(d.contains("BroadcastHashJoin"), s"benchmark shingles must broadcast:\n$d")
    assert(!d.contains("SortMergeJoin"), s"the corpus side must never shuffle for the join:\n$d")
    val t = graft.operators.TextOps.tokenPack(docs)
      .queryExecution.executedPlan.toString
    val exchanges = t.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1, s"packing must shuffle exactly once (on shard):\n$t")
  }

  test("pack concatenation rides the assignment window's shard shuffle — ONE Exchange, " +
      "no join back to the corpus") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val p = graft.operators.TextOps.concatPacks(docs)
      .queryExecution.executedPlan.toString
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1,
      s"groupBy(shard, pack_id) must reuse the shard partitioning:\n$p")
    assert(!p.contains("Join"), s"text must ride the window, not a corpus join:\n$p")
  }

  test("wav round trip is a shuffle-free projection with the scan pruned to (doc_id, text)") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val p = graft.operators.Multimodal.wavMeta(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"wavMeta must not shuffle:\n$p")
    assert(!p.contains("lang"), s"untouched columns must be pruned:\n$p")
  }

  test("mu-law roundtrip is a shuffle-free projection with the scan pruned") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val p = graft.operators.Multimodal.ulawRoundtrip(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"ulawRoundtrip must not shuffle:\n$p")
    assert(!p.contains("lang"), s"untouched columns must be pruned:\n$p")
  }

  test("semantic delta: candidates meet on the bucket shuffle key, never a " +
      "cartesian/broadcast-nested-loop; new-vs-new is structurally absent") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    // at corpus scale NEITHER side of the candidate join broadcasts (both
    // are the corpus); disable the size-based broadcast the toy sf takes
    // so the plan shows its 100-TB shape
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.operators.Similarity
        .semanticDelta(emb, col("vec_id") % 5 === 4)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"no all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoop"), s"no theta join:\n$p")
      // the candidate join is keyed on the coarse cluster — the 100-TB
      // shuffle key (bucket population ~ N/nlist per task)
      assert(p.contains("hashpartitioning(bucket"),
        s"candidate join must shuffle on bucket:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("brute-force rerank is two-phase: salted local top-k before the per-query window") {
    val p = graft.operators.Similarity
      .bruteForceTopK(graft.sources.Tables.load(spark, sf, "embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)
      .queryExecution.executedPlan.toString
    val windows = p.sliding("Window".length).count(_ == "Window")
    assert(windows >= 2,
      s"expected salted local + global window stages (single-reducer funnel otherwise):\n$p")
  }

  test("bloom prune: zero false negatives, empty filter passes nothing, " +
      "probe rides broadcast joins with no shuffle of the fact") {
    import org.apache.spark.sql.functions._
    import graft.operators.BloomFilterOps
    val m = 61440L
    val build = graft.sources.Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val probeKeys = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"))
    val words = BloomFilterOps.wordTable(build, m)
    val probed = BloomFilterOps.probe(probeKeys, words, m).cache()
    // the bloom guarantee: a true member NEVER fails the filter
    assert(probed.join(build, Seq("k"), "left_semi").filter(!col("pass")).count() === 0)
    probed.unpersist()
    // an empty build side passes nothing (missing words read as 0)
    val emptyWords = BloomFilterOps.wordTable(build.filter(lit(false)), m)
    assert(BloomFilterOps.probe(probeKeys, emptyWords, m)
      .filter(col("pass")).count() === 0)
    // the probe path is broadcast-joined — the fact never shuffles
    val p = BloomFilterOps.probe(probeKeys, words, m)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"word table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the fact must not shuffle to probe:\n$p")
    // card arithmetic: pass ⊇ truth on the card itself
    val row = AnalyticsQueries.queries("orders_bloom_prune")(spark, sf).collect()(0)
    assert(row.getLong(row.fieldIndex("n_pass")) >= row.getLong(row.fieldIndex("n_true")))
    assert(row.getLong(row.fieldIndex("n_false_pos")) >= 0)
  }

  test("moving aggregates: both frames ride ONE window sort and ONE exchange; " +
      "running and trailing frames agree where they overlap") {
    import org.apache.spark.sql.functions._
    val df = AnalyticsQueries.queries("events_moving_agg")(spark, sf).cache()
    // first 5 rows of any user: trailing-5 == running (frames coincide)
    assert(df.filter(col("n_seen") <= 5 && col("trail5_cents") =!= col("running_cents"))
      .count() === 0)
    // beyond that the trailing frame is a strict suffix: trail5 <= running
    assert(df.filter(col("trail5_cents") > col("running_cents")).count() === 0)
    // a user's last running total is their exact cent sum
    val totals = df.groupBy(col("user_id"))
      .agg(max(col("n_seen")).as("n"), sum(col("cents")).as("total"))
    val last = df.join(totals, df("user_id") === totals("user_id") &&
      df("n_seen") === totals("n"))
    assert(last.filter(col("running_cents") =!= col("total")).count() === 0)
    df.unpersist()
    val p = AnalyticsQueries.queries("events_moving_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    val windows = p.sliding("Window".length).count(_ == "Window")
    assert(windows === 1, s"all three frames must share one Window operator:\n$p")
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx === 1, s"one user_id exchange only:\n$p")
  }

  test("abtest: user-level arms partition the events, null-hypothesis z stays small " +
      "on the parity split, and a shifted arm is detected") {
    import org.apache.spark.sql.functions._
    val df = AnalyticsQueries.queries("events_abtest")(spark, sf).cache()
    val ev = graft.sources.Tables.load(spark, sf, "events").filter(col("value").isNotNull)
    // arms partition: n_a + n_b == rows per type
    val n = ev.groupBy(col("event_type")).count()
    assert(df.join(n, "event_type")
      .filter(col("n_a") + col("n_b") =!= col("count")).count() === 0)
    // user parity is a NULL split — |z| should not scream (< 4 leaves
    // generous room for chance at spec scale)
    assert(df.filter(abs(col("z")) > 4.0).count() === 0,
      s"parity split showed an effect: ${df.collect().mkString(";")}")
    // the card is ONE aggregation (conditional per-arm moments) — one
    // hash exchange; that is also what makes the streaming twin legal
    val p = AnalyticsQueries.abtestCard(ev).queryExecution.executedPlan.toString
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx === 1, s"abtest must be a single aggregation:\n$p")
    // inject a real effect: +10.00 to arm 0's values moves every type's
    // mean difference by EXACTLY +10 over the unshifted card
    val shifted = ev.withColumn("value",
      col("value") + when(col("user_id") % 2 === 0, 10.0).otherwise(0.0))
    val d2 = shifted
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .withColumn("vd", col("value").cast("decimal(12,2)"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("sv"))
      .withColumn("mean_v", col("sv").cast("double") / col("n"))
      .groupBy(col("event_type"))
      .agg((max(when(col("arm") === 0, col("mean_v"))) -
        max(when(col("arm") === 1, col("mean_v")))).as("shifted_diff"))
    assert(d2.join(df.select(col("event_type"), col("diff")), "event_type")
      .filter(abs(col("shifted_diff") - col("diff") - 10.0) > 1e-6).count() === 0,
      "a +10 arm shift must move the mean difference by exactly +10")
    df.unpersist()
  }

  test("path mining: sessionize + rank + per-session agg all ride ONE user_id " +
      "exchange; the first-5 cap is a map-side group limit; paths are well-formed") {
    import org.apache.spark.sql.functions._
    val df = AnalyticsQueries.queries("events_paths_topk")(spark, sf).cache()
    val types = Set("click", "view", "purchase", "signup", "error")
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val steps = r.getString(0).split(">")
      assert(steps.length >= 1 && steps.length <= 5, s"path capped at 5: ${r.getString(0)}")
      assert(steps.forall(types.contains), s"alien step in ${r.getString(0)}")
    }
    assert(rows.map(_.getInt(2)).toSeq === (1 to rows.length), "ranks contiguous")
    df.unpersist()
    val p = AnalyticsQueries.queries("events_paths_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"rn<=5 must push down map-side:\n$p")
    // hashpartitioning(user_id) satisfies the (user, session) window AND
    // the per-session aggregate — one user exchange, one path exchange
    val userEx = p.sliding("Exchange hashpartitioning(user_id".length)
      .count(_ == "Exchange hashpartitioning(user_id")
    assert(userEx === 1, s"sessionize+rank+agg must share one user_id shuffle:\n$p")
  }

  test("exact distinct plans the two-level rewrite: dedup keyed (type,user) first, " +
      "counts second — no collect_set, partials at both levels") {
    val df = AnalyticsQueries.queries("events_distinct_exact")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"final count needs map-side combine:\n$p")
    assert(p.contains("user_id") && p.contains("HashAggregate(keys=[event_type"),
      s"dedup must run keyed (event_type, user_id) before counting:\n$p")
    assert(!p.contains("collect_set"), s"no set may materialize:\n$p")
    // matches a distinct-then-count reference
    import org.apache.spark.sql.functions._
    val ref = graft.sources.Tables.load(spark, sf, "events")
      .select("event_type", "user_id").distinct()
      .groupBy("event_type").count()
    assert(df.join(ref, "event_type")
      .filter(col("n_users") =!= col("count")).count() === 0)
  }

  test("top-k aggregate: matches the window form value-for-value, merges correctly " +
      "under any partitioning, and plans with a partial (map-side) mode") {
    import org.apache.spark.sql.functions._
    graft.functions.NativeHash.register(spark)
    val cents = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), (col("value").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("event_type"))
      .agg(expr("array_join(graft_top_k(cents, 5), ',')").as("top5"))
    val base = agg(cents)
    // the window form computes the same descending top-5 multiset
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("cents").desc)
    val viaWindow = cents.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("event_type"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("rn"), col("cents")))),
        x => x.getField("cents").cast("string")), ",").as("top5"))
    assert(base.exceptAll(viaWindow).count() === 0)
    assert(viaWindow.exceptAll(base).count() === 0)
    // merge correctness: a hostile repartitioning changes nothing
    assert(agg(cents.repartition(17)).exceptAll(base).count() === 0)
    // the buffer combines map-side like any aggregate
    val p = base.queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_top_k"),
      s"top-k aggregate must have a partial (map-side) mode:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate should plan as ObjectHashAggregate:\n$p")
  }

  test("cube: map-side Expand ×4 collapsed by ONE partial-aggregated exchange; " +
      "every grouping-set slice conserves the event count") {
    import org.apache.spark.sql.functions._
    val n = graft.sources.Tables.load(spark, sf, "events").count()
    val cube = AnalyticsQueries.queries("events_cube")(spark, sf).cache()
    // each of the four grouping sets partitions the events independently
    for (gid <- 0 to 3)
      assert(cube.filter(col("gid") === gid).agg(sum("n_events")).collect()(0).getLong(0) === n,
        s"grouping set $gid must conserve the event count")
    // the grand-total row is unique and flagged by both per-column flags
    assert(cube.filter(col("g_type") === 1 && col("g_day") === 1).count() === 1)
    cube.unpersist()
    val p = AnalyticsQueries.queries("events_cube")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("Expand"), s"cube must plan the map-side Expand:\n$p")
    assert(p.contains("partial_count"),
      s"partial aggregation must collapse the ×4 blowup before the shuffle:\n$p")
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx === 1, s"cube must hash-shuffle exactly once:\n$p")
  }

  test("pivot with an explicit value list plans two partial-agg'd hash aggregates " +
      "(cell sums, pivotfirst collapse) — no distinct job to learn the columns") {
    val df = AnalyticsQueries.queries("events_pivot")(spark, sf)
    assert(df.columns.toSeq === Seq("day", "click_total", "error_total",
      "purchase_total", "signup_total", "view_total"))
    val p = df.queryExecution.executedPlan.toString
    // (day, event_type) cell aggregate + the pivotfirst collapse on day;
    // an implicit-values pivot would ALSO run a separate distinct job
    // before this plan even exists
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx === 2, s"pivot is cell agg + pivotfirst agg, nothing more:\n$p")
    assert(p.contains("partial_pivotfirst"),
      s"pivot collapse needs map-side combine:\n$p")
  }

  test("exact percentiles: nearest-rank selection over the value histogram matches " +
      "a per-type in-memory sort") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val got = AnalyticsQueries.queries("events_percentiles")(spark, sf).collect()
    assert(got.length === events.size)
    for (r <- got) {
      val vs = events(r.getString(0))
      val n = vs.length
      assert(r.getLong(1) === n.toLong)
      def nearestRank(p: Int): Long = vs((p * n + 99) / 100 - 1)
      assert(r.getLong(2) === nearestRank(50), s"${r.getString(0)} p50")
      assert(r.getLong(3) === nearestRank(90), s"${r.getString(0)} p90")
      assert(r.getLong(4) === nearestRank(99), s"${r.getString(0)} p99")
    }
    // the histogram aggregate must crush the fact before the rank window:
    // two hash aggregates (hist, final) + the window, all partial-agg'd
    val p = AnalyticsQueries.queries("events_percentiles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"histogram needs map-side combine:\n$p")
    assert(p.contains("Window"), s"rank selection rides a window over the grid:\n$p")
  }

  test("sized minhash candidates: the est pre-filter join appears only when " +
      "kEst exceeds the banding K, the length filter rides the band join " +
      "condition, and the signature kernel is the one-pass native call") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val docs = Tables.load(spark, sf, "documents")
    def planOf(kEst: Int): String =
      Dedup.minhashPairs(docs, 0.5, 4, kEst).queryExecution.executedPlan.toString
    val plain = planOf(Dedup.MinhashK)
    val sized = planOf(64)
    // both thresholded plans apply the lossless length filter in the band
    // join; only the extended-signature plan adds the est kernel join
    assert(sized.contains("graft_minhash_sig") && sized.contains("graft_match_count"),
      s"sized plan must run the native est kernels:\n$sized")
    assert(!plain.contains("graft_match_count") || plain.contains("graft_minhash_sig"),
      "kEst == MinhashK must keep the est cut vacuous (no extra refutation path)")
    assert(sized.contains("n_sh"), s"length filter must ride the candidate join:\n$sized")
    // the interpreted-HOF landmine guard: the BANDING's 16 per-j minima
    // are legitimate single-reference HOF folds, but the 64-wide est
    // signature must be the ONE-pass kernel — the sized plan adds ZERO
    // HOF folds over the plain plan
    def hofFolds(p: String): Int = "array_min\\(transform".r.findAllIn(p).length
    assert(hofFolds(sized) <= hofFolds(plain),
      s"est signature must be the one-pass kernel, not per-j HOF folds " +
        s"(plain=${hofFolds(plain)}, sized=${hofFolds(sized)})")
  }

  test("co-purchase edge build is join-free: one collect_set aggregate + " +
      "map-side pair explode + one distinct — no orderkey self-join") {
    val edges = graft.operators.Graph.coPurchaseEdges(
      graft.sources.Tables.load(spark, sf, "lineitem"))
    val p = edges.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"edge build must not self-join:\n$p")
    // two wide stages total: the per-order set aggregate and the pair
    // distinct (each = partial + final HashAggregate around one Exchange)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges === 2, s"edge build must shuffle exactly twice, saw $exchanges:\n$p")
    // explode_outer (not explode): InferFiltersFromGenerate must not
    // inline the pair-builder array into an inferred size() filter
    assert(!p.toLowerCase.contains("size(flatten(transform"),
      s"pair builder must not be re-evaluated in an inferred filter:\n$p")
  }

  test("salted range join: probes and the replicated index join on the salt, " +
      "and the probe salt is deterministic (hash of id and time)") {
    val (p0, c0) = AnalyticsQueries.asofSides(spark, sf)
    val plan = graft.operators.RangeJoin.countInWindowSalted(
      p0, c0, Seq("user_id"), "ts", "click_ts", 1800000000L,
      leftId = Some("event_id"), saltBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"join must key on the salt:\n$plan")
    assert(plan.contains("__band"), s"join must keep the band key:\n$plan")
  }
}
