package graft

import org.apache.spark.sql.functions._

import graft.operators.TopicOps
import graft.sources.{Tables, Topics}
import graft.streaming.TopicStream

/** Streaming semantics vs their batch twins, including REAL multi-batch
  * incremental state: the input is split into several files and streamed
  * one file per micro-batch.
  */
class StreamingSpec extends SparkSpec {

  /** events split into 4 parquet files under target/, so
    * maxFilesPerTrigger=1 yields 4 micro-batches.
    */
  private lazy val splitDir: String = {
    val dir = "target/stream-scratch/events-split"
    Tables.load(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("multi-batch stream merge equals batch merge") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_merge", splitDir)
    val streamed = TopicStream.mergeAllStream(spark, splitDir, "events.v2", out, ckpt,
      maxFilesPerTrigger = Some(1))
    val batch = TopicOps.mergeAll(Topics.events(spark, sf), "events.v2")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("multi-batch complete-mode stream compaction equals batch compaction") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_compact", splitDir)
    val streamed = TopicStream.compactStream(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
    val batch = TopicOps.compact(Topics.events(spark, sf))
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream scratch dirs sit under the working directory's target/stream-scratch") {
    val root = java.nio.file.Paths.get("target/stream-scratch").toAbsolutePath
    val (out, ckpt) = TopicStream.scratchDirs("spec_scratch_root", splitDir)
    for (d <- Seq(out, ckpt))
      assert(java.nio.file.Paths.get(d).toAbsolutePath.normalize.startsWith(root), d)
  }

  test("every stream twin records its micro-batch plan: the exactly-once file sink " +
      "(merge) and complete mode (compaction)") {
    TopicStream.lastBatchPlan = ""
    val (out1, ckpt1) = TopicStream.scratchDirs("spec_plan_merge", splitDir)
    TopicStream.mergeAllStream(spark, splitDir, "events.v2", out1, ckpt1,
      maxFilesPerTrigger = Some(2))
    assert(TopicStream.lastBatchPlan.nonEmpty, "file-sink run captured no plan")
    TopicStream.lastBatchPlan = ""
    val (out2, ckpt2) = TopicStream.scratchDirs("spec_plan_compact", splitDir)
    TopicStream.compactStream(spark, splitDir, out2, ckpt2, maxFilesPerTrigger = Some(2))
    assert(TopicStream.lastBatchPlan.nonEmpty, "complete-mode run captured no plan")
  }

  test("the batch sink is idempotent per batch id: a rewritten id leaves one copy, " +
      "two ids leave two") {
    val out = TopicStream.scratchDirs("spec_idempotent_sink", splitDir)._1
    val rows = Tables.load(spark, sf, "events").select("event_id", "value")
      .orderBy("event_id").limit(20)
    val n = rows.count()
    TopicStream.writeBatchIdempotent(rows, 0L, out)
    TopicStream.writeBatchIdempotent(rows, 0L, out)
    val once = TopicStream.readBatchedOutput(spark, out)
    assert(once.count() === n)
    assert(once.exceptAll(rows).isEmpty && rows.exceptAll(once).isEmpty)
    TopicStream.writeBatchIdempotent(rows, 1L, out)
    assert(TopicStream.readBatchedOutput(spark, out).count() === 2 * n)
  }

  test("timeOrderedSplitInput partitions the input exactly, chunks are " +
      "disjoint event-time ranges in file order, and a time-ordered " +
      "sessionize replay equals the single-batch form") {
    val split = TopicStream.timeOrderedSplitInput(spark, s"$sf/events.parquet", 3,
      "target/stream-scratch/tsplit-input")
    val orig = spark.read.parquet(s"$sf/events.parquet")
    val back = spark.read.parquet(split)
    // exact partition: nothing lost, nothing duplicated
    assert(back.count() === orig.count())
    assert(back.exceptAll(orig).count() === 0 && orig.exceptAll(back).count() === 0)
    // disjoint, ordered time ranges: chunk k's max ts < chunk k+1's min ts
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(split))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(files.length === 3)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    for (Seq((_, hi), (lo, _)) <- ranges.toSeq.sliding(2))
      assert(hi < lo, "chunks must be disjoint ascending event-time ranges")
    // the gate's contract at spec scale: cross-batch disorder is zero,
    // so the stateful replay equals the oracle-gated single-batch form
    val (outM, ckptM) = TopicStream.scratchDirs("spec_sess_multi", split)
    val multi = TopicStream.sessionizeStream(spark, split, outM, ckptM,
      maxFilesPerTrigger = Some(1))
    val (outS, ckptS) = TopicStream.scratchDirs("spec_sess_single", split)
    val single = TopicStream.sessionizeStream(spark, s"$sf/events.parquet",
      outS, ckptS)
    val c = Seq("user_id", "session_start", "session_end", "n_events",
      "total_value").map(col)
    assert(multi.select(c: _*).exceptAll(single.select(c: _*)).count() === 0)
    assert(single.select(c: _*).exceptAll(multi.select(c: _*)).count() === 0)
  }

  test("streaming SCD2 over an ordered multi-batch replay emits exactly the batch " +
      "history's closed versions; closures genuinely cross batches; stale drops") {
    val ordered = TopicStream.orderedSplitInput(spark, s"$sf/events.parquet", 4,
      "target/stream-scratch/scd2-ordered-input")
    val (out, ckpt) = TopicStream.scratchDirs("spec_scd2", ordered)
    val streamed = TopicStream.scdStream(spark, ordered, out, ckpt,
      maxFilesPerTrigger = Some(1)).cache()
    val batchClosed = TopicOps.scd2(Topics.events(spark, sf))
      .filter(col("valid_to_offset").isNotNull)
      .select("topic", "partition", "key", "value", "seq",
        "valid_from_offset", "valid_to_offset", "valid_from_ts", "valid_to_ts")
    val got = streamed.select("topic", "partition", "key", "value", "seq",
      "valid_from_offset", "valid_to_offset", "valid_from_ts", "valid_to_ts")
    assert(got.exceptAll(batchClosed).count() === 0)
    assert(batchClosed.exceptAll(got).count() === 0)
    // cross-batch closures actually happened: some version emitted in
    // batch b opened at an offset belonging to an EARLIER input chunk
    assert(streamed.select("batch_id").distinct().count() >= 3)
    val maxId = spark.read.parquet(s"$sf/events.parquet")
      .agg(max(col("event_id"))).collect()(0).getLong(0)
    val chunk = maxId / 4 + 1
    assert(streamed
      .filter(col("valid_to_offset").divide(chunk).cast("long") >
        col("valid_from_offset").divide(chunk).cast("long")).count() > 0,
      "some closure must span an input-chunk boundary")
    streamed.unpersist()
    // stale at-least-once redelivery never corrupts the history: offsets
    // 5 then 10 arrive in batch 1, a regressed 7 is redelivered in batch
    // 2 — the only emission is the 5→10 closure, 7 is dropped
    import spark.implicits._
    val staleDir = "target/stream-scratch/scd2-stale-input"
    val staleRoot = new java.io.File(staleDir)
    if (staleRoot.exists()) {
      java.nio.file.Files.walk(staleRoot.toPath)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staleDir))
    def ev(id: Long, t: String): (Long, java.sql.Timestamp, Long, String, String) =
      (id, new java.sql.Timestamp(1700000000000L + id * 1000), 1L, t, s"""{"k": ${id % 100}}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "props")
    Seq(ev(5, "click"), ev(10, "view")).toDF(cols: _*)
      .coalesce(1).write.parquet(s"$staleDir/b0")
    Seq(ev(7, "click")).toDF(cols: _*)
      .coalesce(1).write.parquet(s"$staleDir/b1")
    val b0 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$staleDir/b0")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    val b1 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$staleDir/b1")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    val in = java.nio.file.Paths.get(s"$staleDir/in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.move(b0, in.resolve("chunk-000.parquet"))
    java.nio.file.Files.move(b1, in.resolve("chunk-001.parquet"))
    java.nio.file.Files.setLastModifiedTime(in.resolve("chunk-000.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000))
    java.nio.file.Files.setLastModifiedTime(in.resolve("chunk-001.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val (out2, ckpt2) = TopicStream.scratchDirs("spec_scd2_stale", in.toString)
    val emitted = TopicStream.scdStream(spark, in.toString, out2, ckpt2,
      maxFilesPerTrigger = Some(1))
    assert(emitted.count() === 1, "only the 5→10 closure may be emitted")
    val r = emitted.collect()(0)
    assert(r.getAs[Long]("valid_from_offset") === 5L &&
      r.getAs[Long]("valid_to_offset") === 10L && r.getAs[Int]("seq") === 1)
  }

  test("streaming moving aggregates continue a user's frame ACROSS batches: " +
      "running totals never reset and the 5-deque spans chunk boundaries") {
    val ordered = TopicStream.orderedSplitInput(spark, s"$sf/events.parquet", 4,
      "target/stream-scratch/movagg-ordered-input")
    val (out, ckpt) = TopicStream.scratchDirs("spec_movagg", ordered)
    val streamed = TopicStream.movingAggStream(spark, ordered, out, ckpt,
      maxFilesPerTrigger = Some(1)).cache()
    assert(streamed.select("batch_id").distinct().count() >= 3)
    // a later batch's first emission for a user continues the count —
    // the frame state genuinely crossed the boundary
    val carried = streamed.filter(col("batch_id") > 0 && col("n_seen") > 1)
      .join(streamed.filter(col("batch_id") === 0).select(col("user_id")).distinct(),
        "user_id")
    assert(carried.count() > 0, "no frame survived a batch boundary")
    // equality to the batch window is the oracle's job; spot the shape
    // here: running is non-decreasing per user in event order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_seen"))
    assert(streamed.withColumn("prev", lag(col("running_cents"), 1).over(w))
      .filter(col("prev").isNotNull && col("running_cents") < col("prev"))
      .count() === 0)
    streamed.unpersist()
  }

  test("streaming top-k: the custom aggregate's heap state merges across " +
      "micro-batches to exactly the batch result") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_topk", splitDir)
    val streamed = TopicStream.topKStream(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
    val batch = graft.queries.AnalyticsQueries
      .queries("events_topk_agg")(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming exact percentiles over multi-batch replay equal the batch " +
      "histogram-cumsum operator exactly") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_pcts", splitDir)
    val streamed = TopicStream.percentilesStream(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
    val batch = graft.queries.AnalyticsQueries
      .queries("events_percentiles")(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming A/B card over multi-batch replay equals the batch card exactly") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_abtest", splitDir)
    val streamed = TopicStream.abtestStream(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
    val batch = graft.queries.AnalyticsQueries
      .abtestCard(Tables.load(spark, sf, "events"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming ingest quota: per-source cap fills ACROSS batches with one counter " +
      "of state; at-quota sources admit nothing more") {
    val ordered = TopicStream.orderedSplitInput(spark, s"$sf/documents.parquet", 4,
      "target/stream-scratch/quota-ordered-input", idCol = "doc_id")
    val (out, ckpt) = TopicStream.scratchDirs("spec_quota", ordered)
    // each input chunk holds ~6 docs per source, so a cap of 20 can only
    // fill across 3+ micro-batches — the cross-batch counter is exercised
    val cap = 20
    val admitted = graft.streaming.CorpusStream.quotaStream(spark, ordered, out, ckpt,
      cap = cap, maxFilesPerTrigger = Some(1)).cache()
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    // exactly min(cap, n) admitted per source, seqs contiguous 1..k
    val kept = admitted.groupBy(col("source"))
      .agg(count(lit(1)).as("c"), max(col("admit_seq")).as("m"))
    val have = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    assert(kept.join(have, "source")
      .filter(col("c") =!= least(lit(cap.toLong), col("n")) || col("m") =!= col("c"))
      .count() === 0)
    // admission = the FIRST cap by doc_id under the ordered replay
    val expected = docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rk") <= cap)
      .select(col("doc_id"))
    assert(admitted.select("doc_id").exceptAll(expected).count() === 0)
    assert(expected.exceptAll(admitted.select("doc_id")).count() === 0)
    // the counter genuinely carried across batches: some source admits in
    // more than one micro-batch
    assert(admitted.select("batch_id").distinct().count() >= 2)
    assert(admitted.groupBy(col("source"))
      .agg(countDistinct(col("batch_id")).as("b")).filter(col("b") > 1).count() > 0,
      "a quota must fill across batch boundaries to prove cross-batch state")
    admitted.unpersist()
  }

  test("flatMapGroupsWithState changelog: reconcileChangelog equals batch compaction") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_updates", splitDir)
    val updates = TopicStream.compactUpdatesStream(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1)).cache()
    // at least one batch emitted updates, and reruns of a key only advance offsets
    assert(updates.select("batch_id").distinct().count() >= 1)
    val finalState = TopicOps.reconcileChangelog(updates)
    val batch = TopicOps.compact(Topics.events(spark, sf))
    assert(finalState.except(batch).count() === 0)
    assert(batch.except(finalState).count() === 0)
    updates.unpersist()
  }

  /** Adversarial compaction topic, written as 4 sequential files (one
    * micro-batch each): a key that churns every batch, a delete-then-
    * reinsert, a delete-in-last-batch, a single insert, a tombstone-only
    * key, and a key whose LOWER offset arrives in a later batch (stale
    * at-least-once redelivery — state must not regress).
    */
  private lazy val advDir: String = {
    import spark.implicits._
    val dir = "target/stream-scratch/events-adversarial"
    val fs = new java.io.File(dir)
    if (fs.exists()) fs.listFiles().foreach(_.delete())
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val batches = Seq(
      Seq((1L, 101L, t(1), "click", """{"k":"churn-b1"}"""),
        (2L, 202L, t(2), "click", """{"k":"resurrect-b1"}"""),
        (3L, 303L, t(3), "click", """{"k":"doomed-b1"}"""),
        (4L, 404L, t(4), "click", """{"k":"once-b1"}"""),
        (26L, 606L, t(5), "click", """{"k":"stale-hi"}""")),
      Seq((11L, 101L, t(11), "click", """{"k":"churn-b2"}"""),
        (12L, 202L, t(12), "error", null),
        (15L, 505L, t(15), "error", null)),
      Seq((21L, 101L, t(21), "click", """{"k":"churn-b3"}"""),
        (22L, 202L, t(22), "click", """{"k":"resurrect-b3"}"""),
        (16L, 606L, t(16), "click", """{"k":"stale-lo"}""")),
      Seq((31L, 101L, t(31), "click", """{"k":"churn-b4"}"""),
        (33L, 303L, t(33), "error", null)))
    for (b <- batches) {
      b.toDF("event_id", "user_id", "ts", "event_type", "props")
        .withColumn("props",
          when(col("event_type") === "error", lit("tombstoned")).otherwise(col("props")))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(400)
    }
    dir
  }

  private def runChangelog(name: String) = {
    val (out, ckpt) = TopicStream.scratchDirs(name, advDir)
    TopicStream.compactUpdatesStream(spark, advDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
  }

  test("adversarial changelog replay: tombstones, resurrection and stale offsets reconcile to batch compaction") {
    val changelog = runChangelog("spec_adv_updates").cache()
    val finalState = TopicOps.reconcileChangelog(changelog)
    val batch = TopicOps.compact(Topics.asTopic(spark.read.parquet(advDir)))
    assert(finalState.except(batch).count() === 0)
    assert(batch.except(finalState).count() === 0)
    // deleted keys are gone from the reconciled state...
    val keys = finalState.select("key").collect().map(_.getString(0)).toSet
    assert(keys === Set("101", "202", "404", "606"))
    // ...but their deletes WERE announced on the feed (live=false emits)
    val deletes = changelog.filter(!col("live"))
      .select("key").collect().map(_.getString(0)).toSet
    assert(deletes === Set("202", "303", "505"))
    // churn key: one emit per batch, batch_id and offset advance in lockstep
    val churn = changelog.filter(col("key") === "101")
      .orderBy("batch_id").select("batch_id", "offset").collect()
    assert(churn.length === 4)
    assert(churn.map(_.getLong(1)).toSeq === Seq(1L, 11L, 21L, 31L))
    assert(churn.map(_.getLong(0)).toSeq === churn.map(_.getLong(0)).toSeq.sorted)
    // resurrect key: live goes true → false → true in batch order
    val res = changelog.filter(col("key") === "202")
      .orderBy("batch_id").select("live").collect().map(_.getBoolean(0)).toSeq
    assert(res === Seq(true, false, true))
    // stale redelivery: the lower offset never emits, state kept offset 26
    val stale = changelog.filter(col("key") === "606").collect()
    assert(stale.length === 1 && stale.head.getAs[Long]("offset") === 26L)
    changelog.unpersist()
  }

  test("changelog replay on the RocksDB state store provider matches batch compaction") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks =
      try runChangelog("spec_adv_updates_rocksdb")
      finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    val finalState = TopicOps.reconcileChangelog(rocks)
    val batch = TopicOps.compact(Topics.asTopic(spark.read.parquet(advDir)))
    assert(finalState.except(batch).count() === 0)
    assert(batch.except(finalState).count() === 0)
    // same feed as the default (HDFS-backed) provider, row for row
    val hdfs = runChangelog("spec_adv_updates_hdfs_ref")
    assert(rocks.except(hdfs).count() === 0)
    assert(hdfs.except(rocks).count() === 0)
  }

  /** events written as 4 sequential time-ordered files (ascending mtimes),
    * so maxFilesPerTrigger=1 replays them oldest-first and the watermark
    * advances monotonically — the realistic unbounded-stream shape.
    */
  private lazy val orderedSplitDir: String = {
    import org.apache.spark.sql.expressions.Window
    val dir = "target/stream-scratch/events-ordered"
    val fs = new java.io.File(dir)
    if (fs.exists()) fs.listFiles().foreach(_.delete())
    val e = Tables.load(spark, sf, "events")
      .withColumn("q", ntile(4).over(Window.orderBy("ts")))
    for (q <- 1 to 4) {
      e.filter(col("q") === q).drop("q").coalesce(1)
        .write.mode("append").parquet(dir)
      Thread.sleep(400)
    }
    dir
  }

  test("event-time sessionization: streamed sessions are exactly batch sessions that closed") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_sessionize", orderedSplitDir)
    val streamed = TopicStream.sessionizeStream(spark, orderedSplitDir, out, ckpt,
      maxFilesPerTrigger = Some(1)).cache()
    assert(streamed.count() > 0, "gap/timeout closures must emit sessions")
    // total_value included since r9: the state accumulates integer cents,
    // so the streamed total is order-free and equals the batch decimal sum
    val batch = graft.queries.AnalyticsQueries.queries("events_sessionize")(spark, sf)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
    val s = streamed.select("user_id", "session_start", "session_end",
      "n_events", "total_value")
    assert(s.except(batch).count() === 0,
      "every streamed session must match a batch session exactly")
    assert(s.count() <= batch.count())
    streamed.unpersist()
  }

  test("stream-stream DLQ replay join over ordered multi-batch replay equals batch reconciliation") {
    val kField = regexp_extract(col("value"), "\"k\": (\\d+)", 1).cast("int")
    val err = when(kField.isNull, "decode_failure").when(kField > 90, "out_of_range")
    val (out, ckpt) = TopicStream.scratchDirs("spec_dlq_replay", orderedSplitDir)
    val streamed = TopicStream.dlqReplayStream(spark, orderedSplitDir, err, out, ckpt,
      maxFilesPerTrigger = Some(1))
      .select("topic", "partition", "offset", "key", "error", "fixed_value")
    val batch = TopicOps.dlqSplit(Topics.events(spark, sf), err)
      .filter(col("sink") === "dlq" && col("offset") % 2 === 0)
      .select(col("topic"), col("partition"), col("offset"), col("key"),
        col("error"), lit("{\"k\": 1}").as("fixed_value"))
    // ordered replay + 10-min fix lag well inside the 1-hour watermark
    // horizon ⇒ no drops: the join must reconcile every fixed failure
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream-stream ask over ordered multi-batch replay equals the batch decisions-table ask") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_ask_decisions", orderedSplitDir)
    val streamed = TopicStream.askDecisionsStream(spark, orderedSplitDir, out, ckpt,
      maxFilesPerTrigger = Some(1))
      .select("topic", "partition", "key", "value", "src_offset", "kind")
    val t = Topics.events(spark, sf)
    val decisions = t.filter(col("offset") % 3 === 0)
      .select(col("topic"), col("partition"), col("offset"),
        when(col("offset") % 2 === 0, "merge").otherwise("purge").as("action"))
    val batch = TopicOps.routeWithDecisions(t, decisions, "events.v2")
      .select("topic", "partition", "key", "value", "src_offset", "kind")
    // decisions co-arrive within the 1-hour horizon, so the watermarked
    // inner join must reconcile every decided record; undecided records
    // route nothing on both sides
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming near-dup ingest over multi-batch replay equals batch MinHash pairs") {
    val docsDir = "target/stream-scratch/docs-split"
    Tables.load(spark, sf, "documents").repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_dedup_ingest", docsDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val streamed = graft.streaming.DedupStream.nearDupIngestStream(
      spark, docsDir, out, ckpt, maxFilesPerTrigger = Some(1))
      .select("doc_a", "doc_b", "jaccard")
    val batch = graft.operators.Dedup.minhashPairs(Tables.load(spark, sf, "documents"))
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming anomaly flagging over multi-batch replay equals batch events_anomaly") {
    val evDir = "target/stream-scratch/events-split-anom"
    Tables.load(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(evDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_anomaly", evDir)
    // the stream fits its stats index from the same history it replays
    val streamed = graft.streaming.AnomalyStream.anomalyStream(
      spark, sf, out, ckpt, maxFilesPerTrigger = Some(1),
      eventsPath = Some(evDir))
    val batch = graft.queries.AnalyticsQueries.queries("events_anomaly")(spark, sf)
    assert(streamed.count() > 0, "fixture yields no outliers — vacuous replay")
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming span removal over multi-batch replay equals batch spanDedup; " +
      "the fitted vocabulary scans its buckets, never re-shuffled") {
    val docsDir = "target/stream-scratch/docs-split-span"
    Tables.load(spark, sf, "documents").repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_span_dedup", docsDir)
    val streamed = withoutBroadcast {
      // fit from the same history it replays (the replay-parity contract)
      graft.streaming.SpanStream.spanDedupStream(
        spark, sf, out, ckpt, maxFilesPerTrigger = Some(1),
        docsPath = Some(docsDir))
    }
    val batch = graft.operators.TextOps.spanDedup(Tables.load(spark, sf, "documents"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    // the per-trigger join probes the bucketed vocabulary in place
    val vocab = spark.table("graft_span_vocab").hint("merge")
    val p = withoutBroadcast {
      graft.operators.TextOps.spanDedupWithVocab(
        Tables.load(spark, sf, "documents"), vocab)
        .queryExecution.executedPlan.toString
    }
    assert(p.contains("SelectedBucketsCount"),
      s"fitted vocabulary must scan bucketed:\n$p")
  }

  test("streaming PCA scoring over multi-batch replay equals batch " +
      "embedding_pca_project bit-for-bit (axis fitted once on the history, " +
      "every micro-batch scores statelessly against the fitted literal)") {
    val embDir = "target/stream-scratch/emb-split-pca"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_pca_score", embDir)
    val streamed = graft.streaming.PcaStream.pcaScoreStream(
      spark, sf, out, ckpt, maxFilesPerTrigger = Some(1),
      embPath = Some(embDir))
    val batch = graft.operators.Pca.project(Tables.load(spark, sf, "embeddings"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming MIS assignment over multi-batch replay equals batch " +
      "knn_mis_assign bit-for-bit (index + MIS fitted once, every " +
      "micro-batch classifies statelessly against the bucketed edge table)") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_mis_assign", sf)
    val streamed = graft.streaming.GraphStream.misAssignStream(
      spark, s"$sf/embeddings.parquet", out, ckpt)
    val batch = graft.operators.Graph.knnMisAssign(
      Tables.load(spark, sf, "embeddings"), table = "graft_spec_mis_assign")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    // the replay was genuinely multi-batch (3 ordered splits)
    val batches = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(batches >= 2, s"expected a multi-batch replay, got $batches batch dirs")
  }

  test("streaming cluster card: the assignment stream's order-free epilogue " +
      "aggregation equals batch knn_mis_cluster_stats bit-for-bit") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_mis_card", sf)
    val streamed = graft.streaming.GraphStream.misClusterStatsStream(
      spark, s"$sf/embeddings.parquet", out, ckpt)
    val batch = graft.operators.Graph.knnMisClusterStats(
      Tables.load(spark, sf, "embeddings"), table = "graft_spec_mis_card")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming DSIR scoring over multi-batch replay equals batch importance; " +
      "the bucketed weight index plans with zero static Exchange") {
    val docsDir = "target/stream-scratch/docs-split-imp"
    Tables.load(spark, sf, "documents").repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_importance", docsDir)
    val streamed = withoutBroadcast {
      // fit from the same history it replays (the replay-parity contract)
      graft.streaming.ImportanceStream.importanceStream(
        spark, sf, out, ckpt, maxFilesPerTrigger = Some(1),
        docsPath = Some(docsDir))
    }
    val batch = graft.operators.TextOps.importanceWeights(
      Tables.load(spark, sf, "documents"), col("doc_id") % 97 === 0)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    val plan = TopicStream.lastBatchPlan
    assert(plan.contains("graft_importance_weights"),
      s"bucketed weight index scan missing:\n$plan")
    assert(exchanges(plan) === 1,
      s"probe must shuffle only the micro-batch (1 Exchange), the index none:\n$plan")
  }

  test("streaming corpus card over multi-batch replay equals the batch source stats") {
    val docsDir = "target/stream-scratch/docs-split-card"
    Tables.load(spark, sf, "documents").repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_source_stats", docsDir)
    val streamed = graft.streaming.CorpusStream.sourceStatsStream(
      spark, docsDir, out, ckpt, maxFilesPerTrigger = Some(1))
    val batch = graft.operators.TextOps.sourceStats(Tables.load(spark, sf, "documents"))
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming PQ ANN serving over multi-batch replay equals batch ivfPqTopK") {
    val embDir = "target/stream-scratch/emb-split"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_sim_ivf_pq", embDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val streamed = graft.streaming.SimilarityStream.ivfPqTopKStream(
      spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1))
      .select("query_id", "corpus_id", "cos", "rnk")
    val batch = graft.operators.Similarity.ivfPqTopK(
      Tables.load(spark, sf, "embeddings"), col("vec_id") < 8)
      .select("query_id", "corpus_id", "cos", "rnk")
    // the PQ index is static and a query's candidates land in its
    // arrival batch, so any-order replay reproduces the batch ranking
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming FITTED-ladder PQ serving over multi-batch replay equals batch " +
      "ivfPqTopKFittedSized (the stream face re-derives the deterministic fit " +
      "through the shared builder — books bit-identical)") {
    val embDir = "target/stream-scratch/emb-split-pqfit"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_sim_ivf_pq_fitted", embDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val streamed = graft.streaming.SimilarityStream.ivfPqTopKStream(
      spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1),
      tablePrefix = "graft_pq_fitted_spec",
      index = graft.operators.Similarity.PqIndex.Fitted(graft.functions.Codebooks.PqBook.Narrow))
      .select("query_id", "corpus_id", "cos", "rnk")
    val batch = graft.operators.Similarity.ivfPqTopKFittedSized(
      Tables.load(spark, sf, "embeddings"), col("vec_id") < 8)
      .select("query_id", "corpus_id", "cos", "rnk")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming PQ-MIPS serving over multi-batch replay equals batch " +
      "mipsIvfPqTopK (codes-resident augmented index static, per-batch " +
      "shortlist + exact raw-ip rerank)") {
    val embDir = "target/stream-scratch/emb-split-mipspq"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_sim_mips_pq", embDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val streamed = graft.streaming.SimilarityStream.mipsIvfPqTopKStream(
      spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1))
      .select("query_id", "corpus_id", "ip", "rnk")
    val batch = graft.operators.Similarity.mipsIvfPqTopK(
      Tables.load(spark, sf, "embeddings"), col("vec_id") < 8)
      .select("query_id", "corpus_id", "ip", "rnk")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming pq-code dedup over multi-batch replay equals batch " +
      "pqCodeDedup (code groups fitted once, stateless per-batch encode + " +
      "bucketed group probe)") {
    val embDir = "target/stream-scratch/emb-split-pqdedup"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_pq_dedup", embDir)
    val streamed = graft.streaming.SimilarityStream.pqCodeDedupStream(
      spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1))
      .select("vec_id", "bucket", "codes_str", "n_same", "rep_id", "keep")
    val batch = graft.operators.Similarity.pqCodeDedup(
      Tables.load(spark, sf, "embeddings"))
      .select("vec_id", "bucket", "codes_str", "n_same", "rep_id", "keep")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming clean-corpus ingest over multi-batch replay equals batch cleanCorpus") {
    val docsDir = "target/stream-scratch/docs-split"
    Tables.load(spark, sf, "documents").repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_clean_ingest", docsDir)
    val streamed = graft.streaming.DedupStream.cleanIngestStream(
      spark, docsDir, out, ckpt, maxFilesPerTrigger = Some(1))
    val batch = graft.operators.TextOps.cleanCorpus(Tables.load(spark, sf, "documents"))
    // quality filter and the id-based exact probe are arrival-order
    // independent, so even the unordered 4-file replay must match batch
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("clean-corpus ingest keeps the batch keeper of exact-dup pairs even when the " +
      "higher-id copy arrives FIRST (round-3 VERDICT #1)") {
    // the stock corpus has no exact duplicate texts, so doctor one in:
    // every 10th doc gets a byte-identical copy with a HIGHER doc_id, and
    // the copies are streamed in the FIRST file (descending-id replay) —
    // the arrival order that lost BOTH copies before the fix
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "source", "lang")
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val doctored = docs.unionByName(copies)
    val docsDir = "target/stream-scratch/docs-dup-ordered"
    val fs = new java.io.File(docsDir)
    if (fs.exists()) fs.listFiles().foreach(_.delete())
    copies.coalesce(1).write.mode("append").parquet(docsDir)
    Thread.sleep(400) // ascending mtimes ⇒ copies replay before originals
    docs.coalesce(1).write.mode("append").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_clean_ingest_dup", docsDir)
    val streamed = graft.streaming.DedupStream.cleanIngestStream(
      spark, docsDir, out, ckpt, maxFilesPerTrigger = Some(1))
    val batch = graft.operators.TextOps.cleanCorpus(doctored)
    assert(batch.filter(col("doc_id") >= 1000000L).count() === 0,
      "batch keeps the min-id copy, so no doctored copy may survive it")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  /** "Exchange hashpartitioning" occurrences in a plan string — broadcast
    * exchanges don't count (they're pinned out by disabling broadcast).
    * AQE explains print the plan twice (Final + Initial) — count only the
    * final executed plan so each Exchange is seen once.
    */
  private def exchanges(p: String): Int = {
    val cut = p.indexOf("== Initial Plan ==")
    val s = if (cut >= 0) p.substring(0, cut) else p
    s.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
  }

  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("streaming semantic delta: a 4-batch replay equals the batch operator " +
      "row-for-row; the bucketed base assignment plans with zero static-side " +
      "Exchange (stream side only)") {
    val embDir = "target/stream-scratch/emb-split-semdelta"
    Tables.load(spark, sf, "embeddings").repartition(4)
      .write.mode("overwrite").parquet(embDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_sem_delta", embDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val streamed = withoutBroadcast {
      graft.streaming.SimilarityStream.semanticDeltaStream(
        spark, embDir, out, ckpt, maxFilesPerTrigger = Some(1))
    }.cache()
    val plan = TopicStream.lastBatchPlan
    assert(plan.contains("graft_semdelta_idx"),
      s"bucketed base-assignment scan missing:\n$plan")
    assert(exchanges(plan) === 1,
      s"semantic delta must shuffle only the micro-batch side (1 Exchange):\n$plan")
    // multi-batch was real: every micro-batch classified some new vectors
    val commits = new java.io.File(s"$out").listFiles()
      .count(f => f.getName.startsWith("batch_"))
    assert(commits >= 4, s"expected >= 4 classified micro-batches, got $commits")
    val batch = graft.operators.Similarity.semanticDelta(
      Tables.load(spark, sf, "embeddings"), col("vec_id") % 5 === 4)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    streamed.unpersist()
  }

  test("semantic snapshot-ADVANCING delta: 3-shard replay equals the " +
      "sequential batch recurrence (base accumulates novel vectors), " +
      "discriminates from the static-base stream, and a replayed " +
      "assignment append changes nothing") {
    import graft.operators.Similarity
    val embPath = s"$sf/embeddings.parquet"
    val (out, ckpt) = TopicStream.scratchDirs("spec_sem_adv", embPath)
    val streamed = graft.streaming.SimilarityStream
      .semanticDeltaAdvancingStream(spark, embPath, out, ckpt, splits = 3)
      .cache()
    val emb = Tables.load(spark, sf, "embeddings")
    val isNewAll = col("vec_id") % 5 === 4
    val nNew = emb.filter(isNewAll).count()
    assert(streamed.count() === nNew, "one classification per new vector")

    // sequential batch recurrence: stage k classifies shard k against
    // base ∪ novel(<k) using the BATCH operator on a filtered input
    val chunk = emb.agg(max(col("vec_id"))).head().getLong(0) / 3 + 1
    var baseIds = emb.filter(!isNewAll).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val expected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    for (k <- 0 until 3) {
      val shardK = isNewAll && col("vec_id") >= k * chunk &&
        col("vec_id") < (k + 1) * chunk
      val input = emb.filter(shardK || col("vec_id").isInCollection(baseIds))
      val cls = Similarity.semanticDelta(input, shardK)
        .withColumn("shard", lit(k.toLong))
      val rows = cls.collect()
      expected ++= rows
      baseIds ++= rows.filter(_.getAs[String]("verdict") == "novel")
        .map(_.getAs[Long]("vec_id"))
    }
    val expectDf = spark.createDataFrame(
      spark.sparkContext.parallelize(expected.toSeq), streamed.schema)
    assert(streamed.except(expectDf).count() === 0)
    assert(expectDf.except(streamed).count() === 0)

    // the advance is REAL — planted fixture (the natural corpus has no
    // cross-shard new-vs-novel pair): vector 14 (shard 0, new) points in
    // a direction no base vector approaches -> novel; vector 44 (shard
    // 2, new) is a tiny perturbation of 14 -> under the ADVANCING stream
    // it must classify near_dup with best_base = 14, which the
    // static-base stream (candidates all vec_id % 5 <> 4) cannot emit
    import spark.implicits._
    def unit(hot: Int, eps: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == hot) 1f else if (i == hot + 1) eps else 0f)
    val planted = ((0 until 12).filter(_ % 5 != 4).map(j => (j.toLong, unit(j % 8 + 8, 0f)))
      :+ (14L, unit(0, 0f)) :+ (44L, unit(0, 0.05f))).toDF("vec_id", "embedding")
    val plantedPath = "target/stream-scratch/emb-planted-adv"
    planted.coalesce(1).write.mode("overwrite").parquet(plantedPath)
    val (out2, ckpt2) = TopicStream.scratchDirs("spec_sem_adv_planted", plantedPath)
    val adv = graft.streaming.SimilarityStream.semanticDeltaAdvancingStream(
      spark, plantedPath, out2, ckpt2, splits = 3,
      tablePrefix = "graft_semdelta_adv_planted").cache()
    val r14 = adv.filter(col("vec_id") === 14).collect()(0)
    assert(r14.getAs[String]("verdict") === "novel")
    val r44 = adv.filter(col("vec_id") === 44).collect()(0)
    assert(r44.getAs[String]("verdict") === "near_dup" &&
      r44.getAs[Long]("best_base") === 14L,
      s"shard-2 twin must match the shard-0 NOVEL via the advance: $r44")
    adv.unpersist()

    // replayed append: rebuild exactly the table state batch 2 saw
    // (base + novel(<2)), append the novel rows a SECOND time (the
    // at-least-once replay), and re-classify shard 2 — duplicated
    // assignment rows cannot change any classification (the
    // dedup-before-window guard)
    val replayTable = "graft_semdelta_replay_idx"
    graft.sources.Bucketing.writeBucketed(
      graft.streaming.SimilarityStream.assignmentRows(emb.filter(!isNewAll)),
      replayTable, graft.streaming.SimilarityStream.IndexBuckets, "bucket")
    val earlyNovelIds = streamed
      .filter(col("verdict") === "novel" && col("shard") < 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val earlyNovel = emb.filter(col("vec_id").isInCollection(earlyNovelIds))
    for (_ <- 1 to 2) // once = the real advance, twice = the replay
      graft.sources.Bucketing.appendBucketed(
        graft.streaming.SimilarityStream.assignmentRows(earlyNovel),
        replayTable, graft.streaming.SimilarityStream.IndexBuckets, "bucket")
    spark.catalog.refreshTable(replayTable)
    val lastShard = emb.filter(isNewAll && col("vec_id") >= 2 * chunk)
    val re = graft.streaming.SimilarityStream
      .classifySemanticBatch(spark, lastShard, 0.4, replayTable)
      .withColumn("shard", lit(2L))
    val orig = streamed.filter(col("shard") === 2)
    assert(re.except(orig).count() === 0 && orig.except(re).count() === 0,
      "a replayed assignment append must not change any classification")

    // SAME-batch replay (r11 ADVICE, the medium finding): the driver
    // retries shard 2 AFTER its own advance ran but BEFORE the commit —
    // the shard's own novel rows are now in the table, and without the
    // own-id anti-join every one of them would match ITSELF at cos 1.0
    // and flip to 'near_dup of itself'. The guarded replay must equal
    // the original classification exactly.
    val ownNovelIds = streamed
      .filter(col("verdict") === "novel" && col("shard") === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ownNovelIds.nonEmpty, "fixture must have shard-2 novels")
    graft.sources.Bucketing.appendBucketed(
      graft.streaming.SimilarityStream.assignmentRows(
        emb.filter(col("vec_id").isInCollection(ownNovelIds))),
      replayTable, graft.streaming.SimilarityStream.IndexBuckets, "bucket")
    spark.catalog.refreshTable(replayTable)
    val re2 = graft.streaming.SimilarityStream
      .classifySemanticBatch(spark, lastShard, 0.4, replayTable)
      .withColumn("shard", lit(2L))
    assert(re2.except(orig).count() === 0 && orig.except(re2).count() === 0,
      "a same-batch replay after its own advance must reproduce the original classification")
    streamed.unpersist()
  }

  test("streaming probe ops: micro-batch plans shuffle ONLY the batch side — " +
      "the bucketed static index plans with zero Exchange (round-5 VERDICT #1)") {
    // broadcast disabled: at 100 TB the corpus index cannot broadcast, so
    // this pins the sort-merge plan a big corpus actually gets
    withoutBroadcast {
      val embDir = "target/stream-scratch/emb-split"
      Tables.load(spark, sf, "embeddings").repartition(4)
        .write.mode("overwrite").parquet(embDir)

      val (out1, ckpt1) = TopicStream.scratchDirs("spec_plan_ivf", embDir)
      graft.streaming.SimilarityStream.ivfTopKStream(
        spark, embDir, out1, ckpt1, maxFilesPerTrigger = Some(1))
      val ivfPlan = TopicStream.lastBatchPlan
      assert(ivfPlan.contains("graft_ivf_stream_idx"), s"bucketed index scan missing:\n$ivfPlan")
      assert(exchanges(ivfPlan) === 1,
        s"IVF probe must shuffle only the micro-batch (1 Exchange), static index none:\n$ivfPlan")

      val (out2, ckpt2) = TopicStream.scratchDirs("spec_plan_pq", embDir)
      graft.streaming.SimilarityStream.ivfPqTopKStream(
        spark, embDir, out2, ckpt2, maxFilesPerTrigger = Some(1))
      val pqPlan = TopicStream.lastBatchPlan
      assert(pqPlan.contains("graft_pq_stream_idx"), s"bucketed PQ index scan missing:\n$pqPlan")
      assert(exchanges(pqPlan) === 1,
        s"PQ probe must shuffle only the micro-batch (1 Exchange), static index none:\n$pqPlan")

      val docsDir = "target/stream-scratch/docs-split"
      Tables.load(spark, sf, "documents").repartition(4)
        .write.mode("overwrite").parquet(docsDir)
      val (out3, ckpt3) = TopicStream.scratchDirs("spec_plan_neardup", docsDir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out3))
      graft.streaming.DedupStream.nearDupIngestStream(
        spark, docsDir, out3, ckpt3, maxFilesPerTrigger = Some(1))
      val ndPlan = TopicStream.lastBatchPlan
      assert(ndPlan.contains("graft_neardup_bands") && ndPlan.contains("graft_neardup_sets"),
        s"bucketed band/set index scans missing:\n$ndPlan")
      // 2 = the batch's band join input + the band-hit→sets join input;
      // neither static table exchanges (3-4 before the materialization)
      assert(exchanges(ndPlan) === 2,
        s"near-dup probe must shuffle only batch-derived sides (2 Exchanges):\n$ndPlan")

      val (out4, ckpt4) = TopicStream.scratchDirs("spec_plan_clean", docsDir)
      graft.streaming.DedupStream.cleanIngestStream(
        spark, docsDir, out4, ckpt4, maxFilesPerTrigger = Some(1))
      val clPlan = TopicStream.lastBatchPlan
      assert(clPlan.contains("graft_clean_exact"), s"bucketed exact index scan missing:\n$clPlan")
      // 2 = the batch side of the keeper join + the dedup state store's
      // fixed partitioning; the exact index itself never exchanges
      assert(exchanges(clPlan) === 2,
        s"clean-ingest must shuffle only the batch + state side (2 Exchanges):\n$clPlan")

      // the foreachBatch near-dup probe is a BATCH plan: pin it directly —
      // the h-bucketed shingle index reads with zero Exchange while the
      // incoming batch explodes + shuffles (h join) and aggregates (pair)
      val batchLike = Tables.load(spark, sf, "documents").limit(50)
      val probe = graft.streaming.DedupStream.exactJaccardProbeIndexed(
        spark.table("graft_clean_shingles"),
        graft.operators.Dedup.shingleHashes(batchLike))
      val probePlan = probe.queryExecution.executedPlan.toString
      assert(probePlan.contains("graft_clean_shingles"))
      // 3 = spreadScan's batch-side parallelism repair (fires here
      // because the spec's 50-row batch frame plans narrower than the
      // session — r17; a STREAMING micro-batch passes through untouched)
      // + the batch-side h shuffle + the pair aggregate. The static
      // index still never exchanges (asserted by the count: all three
      // sit on batch-derived sides).
      assert(exchanges(probePlan) === 3,
        s"indexed probe = batch spread + h shuffle + pair aggregate only:\n$probePlan")
      assert(probePlan.contains("REPARTITION_BY_NUM"),
        s"the third exchange must be the spreadScan repartition:\n$probePlan")
    }
  }

  test("bounded clean-ingest (dropDuplicatesWithinWatermark) equals batch within the horizon, " +
      "even under adversarial higher-id-first replay") {
    // same doctored corpus + descending-id replay as the unbounded spec;
    // every duplicate arrives well inside the 1-hour horizon, so the
    // bounded form must reproduce batch cleanCorpus exactly. Beyond the
    // horizon state is reclaimed and a re-arriving duplicate MAY re-emit —
    // that trade is documented at the operator, not testable in seconds.
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "source", "lang")
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val doctored = docs.unionByName(copies)
    val docsDir = "target/stream-scratch/docs-dup-bounded"
    val fs = new java.io.File(docsDir)
    if (fs.exists()) fs.listFiles().foreach(_.delete())
    copies.coalesce(1).write.mode("append").parquet(docsDir)
    Thread.sleep(400)
    docs.coalesce(1).write.mode("append").parquet(docsDir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_clean_ingest_bounded", docsDir)
    val streamed = graft.streaming.DedupStream.cleanIngestStreamBounded(
      spark, docsDir, out, ckpt, horizon = "1 hour", maxFilesPerTrigger = Some(1))
    val batch = graft.operators.TextOps.cleanCorpus(doctored)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("watermarked append windows align with batch hours; counts bounded by batch (late drops)") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_window_append", splitDir)
    val streamed = TopicStream.windowStreamAppend(spark, splitDir, out, ckpt,
      maxFilesPerTrigger = Some(1)).cache()
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("b_events"))
    // out-of-order file replay means the watermark may drop late rows —
    // emitted windows must exist in the batch result with counts <= batch
    val joined = streamed.join(batch, Seq("hour", "event_type"), "left")
    assert(joined.filter(col("b_events").isNull).count() === 0,
      "streamed window keys must exist in the batch aggregate")
    assert(joined.filter(col("n_events") > col("b_events")).count() === 0,
      "watermarked counts can only drop late rows, never add")
    assert(streamed.count() > 0)
    streamed.unpersist()
  }

  // round-10 (r9 VERDICT #7): the stateful streams whose per-key state is
  // the 100-TB risk (SCD2 current-row, moving-window buffers, open
  // sessions, top-k heaps) each replay identically under the RocksDB
  // provider — the deployment setting for state >> executor heap. The
  // provider changes WHERE state lives, never what the operators emit.
  for (name <- Seq("stream_scd2", "stream_moving_agg", "stream_sessionize",
      "stream_topk_agg")) {
    test(s"$name replays identically under the RocksDB state store provider") {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val default = graft.SparkEntry.queries(name)(spark, sf).collect().toSeq
      assert(default.nonEmpty, s"$name fixture must emit rows")
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks =
        try graft.SparkEntry.queries(name)(spark, sf).collect().toSeq
        finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
      assert(rocks.size == default.size)
      assert(rocks.toSet == default.toSet)
    }
  }

  test("online snapshot delta: multi-batch replay equals the batch operator " +
      "row-for-row (per-batch probes of the materialized base indexes)") {
    val (out, ckpt) = TopicStream.scratchDirs("spec_stream_delta", sf)
    val streamed = graft.streaming.DedupStream.snapshotDeltaStream(
      spark, s"$sf/documents.parquet", out, ckpt, splits = 3,
      tablePrefix = "spec_graft_delta")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val batch = graft.operators.Dedup.snapshotDelta(docs,
      col("doc_id") % 5 === 4,
      kEst = graft.operators.Dedup.sizedEstK(docs.count()))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("complete-mode guard: state-domain classes hold empirically across a " +
      "10× input step, and every key-cardinality surface ships its changelog twin") {
    import graft.queries.StreamQueries
    val sfSmall = "/root/testdata/sf0.001"
    val sfBig = "/root/testdata/sf0.01"
    val counts = StreamQueries.completeModeDomains.keys.map { name =>
      name -> ((SparkEntry.queries(name)(spark, sfSmall).count(),
        SparkEntry.queries(name)(spark, sfBig).count()))
    }.toMap
    for ((name, cls) <- StreamQueries.completeModeDomains) {
      val (small, big) = counts(name)
      val ratio = big.toDouble / small
      cls match {
        case "domain-bounded" =>
          // the domain (types/strata/sources) is constant as data grows
          assert(ratio <= 2.0,
            s"$name claims a bounded domain but grew $small -> $big under 10× input")
        case "time-grid" =>
          // grows with covered TIME, strictly sublinear in row count
          assert(ratio <= 6.0,
            s"$name claims time-grid state but grew $small -> $big under 10× input")
        case "key-cardinality" =>
          // full linear growth is EXPECTED — the guard is the twin below
          assert(ratio >= 6.0,
            s"$name is declared key-cardinality yet grew only $small -> $big — reclassify")
          val twin = StreamQueries.changelogTwins.get(name)
          assert(twin.isDefined, s"$name needs a changelog twin as the production default")
          assert(SparkEntry.queries.contains(twin.get),
            s"$name's changelog twin ${twin.get} is not a registered query")
        case other => fail(s"unknown state-domain class $other for $name")
      }
    }
    // the registry itself must stay in sync with the sink modes: every
    // completeToParquet/Complete-mode query name is classified
    assert(StreamQueries.completeModeDomains.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("snapshot-ADVANCING delta: 3-shard replay equals the sequential batch " +
      "recurrence (base accumulates novels), discriminates from the static-base " +
      "stream, and a replayed index append changes nothing") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.DedupStream
    // planted fixture: maxId 29 → chunk 10 → shards [0,10), [10,20), [20,30);
    // new docs are %5==4: 4,9 | 14,19 | 24,29
    val tNovel = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tBase = "one two three four five six seven eight nine ten"
    val docs = Seq(
      0L -> tBase,
      1L -> "red orange yellow green blue indigo violet pink brown black",
      4L -> tNovel, // shard-0 novel: the doc later shards must match
      9L -> tBase, // exact copy of a BASE doc — dup in both modes
      11L -> "cat dog fish bird horse mouse goat sheep cow hen",
      14L -> tNovel, // exact copy of shard-0's NOVEL doc
      19L -> "solo unique text with completely fresh tokens nothing shared here",
      21L -> "sun moon star cloud rain snow wind storm fog dew",
      24L -> tNovel, // another copy, two shards later
      29L -> (tNovel + " lambda") // near-dup of the shard-0 novel
    ).toDF("doc_id", "text")
    val dir = "target/stream-scratch/delta-advance-fixture"
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val (out, ckpt) = TopicStream.scratchDirs("spec_delta_advance", dir)
    val adv = DedupStream.snapshotDeltaAdvancingStream(spark, dir, out, ckpt,
      splits = 3, tablePrefix = "spec_graft_adv").cache()
    def row(id: Long) = adv.filter(col("doc_id") === id)
      .select("status", "base_id").head()
    // discrimination: 14 and 24 match the shard-0 NOVEL doc 4 — only
    // possible because the advance appended it to the base indexes
    assert(row(14L).getString(0) == "exact_dup" && row(14L).getLong(1) == 4L)
    assert(row(24L).getString(0) == "exact_dup" && row(24L).getLong(1) == 4L)
    assert(row(9L).getString(0) == "exact_dup" && row(9L).getLong(1) == 0L)
    assert(row(4L).getString(0) == "novel")
    // the static-base stream calls them novel — the advance is load-bearing
    val (out2, ckpt2) = TopicStream.scratchDirs("spec_delta_static", dir)
    val static0 = DedupStream.snapshotDeltaStream(spark, dir, out2, ckpt2,
      splits = 3, tablePrefix = "spec_graft_static")
    assert(static0.filter(col("doc_id") === 14L).select("status").head().getString(0)
      == "novel")
    // sequential batch recurrence: base(k+1) = base(k) ∪ novel(k)
    val kEst = Dedup.sizedEstK(docs.count())
    val isNew = col("doc_id") % 5 === 4
    var baseIds = docs.filter(!isNew).select("doc_id")
    val batchRows = (0 until 3).flatMap { k =>
      val inShard = isNew && expr("doc_id DIV 10") === k
      val sub = docs.join(
        baseIds.unionByName(docs.filter(inShard).select("doc_id")).distinct(), "doc_id")
      val cls = Dedup.snapshotDelta(sub, inShard, kEst = kEst)
        .withColumn("shard", expr("doc_id DIV 10")).cache()
      baseIds = baseIds.unionByName(
        cls.filter(col("status") === "novel").select("doc_id")).localCheckpoint(true)
      cls.collect().toSeq
    }
    val batch = batchRows.map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("shard")), r.getString(r.fieldIndex("status")),
      Option(r.get(r.fieldIndex("base_id"))), Option(r.get(r.fieldIndex("jaccard")))))
    val streamRows = adv.collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("shard")), r.getString(r.fieldIndex("status")),
      Option(r.get(r.fieldIndex("base_id"))), Option(r.get(r.fieldIndex("jaccard")))))
    assert(streamRows.toSet == batch.toSet,
      s"stream=${streamRows.sortBy(_._1).mkString(",")} batch=${batch.sortBy(_._1).mkString(",")}")
    // replay idempotency: double-appending shard-0's novel rows (a retried
    // batch) must not change a later shard's classification
    val novel0 = docs.filter(col("doc_id") === 4L)
    DedupStream.appendDeltaIndexes(novel0, kEst, "spec_graft_adv")
    val reclass = DedupStream.classifyDeltaBatch(spark,
      docs.filter(col("doc_id") === 24L || col("doc_id") === 29L), kEst,
      math.ceil(kEst * 0.5 / 2).toLong, 0.5, "spec_graft_adv")
    val expect = adv.filter(col("doc_id") === 24L || col("doc_id") === 29L)
      .select("doc_id", "status", "base_id", "jaccard")
    assert(reclass.exceptAll(expect).isEmpty && expect.exceptAll(reclass).isEmpty)
    // SAME-batch replay (r11 ADVICE, the medium finding): shard 1
    // retried AFTER its own append ran (the stream already appended doc
    // 19's index rows — and a retried append may even double them) but
    // BEFORE the checkpoint commit. Without the own-id anti-join doc 19
    // would match itself (chash self-hit) and the replay would flip its
    // 'novel' to 'exact_dup of itself'; the guard must reproduce the
    // first run's classification exactly.
    DedupStream.appendDeltaIndexes(docs.filter(col("doc_id") === 19L),
      kEst, "spec_graft_adv")
    val shard1 = docs.filter(isNew && expr("doc_id DIV 10") === 1)
    val replay1 = DedupStream.classifyDeltaBatch(spark, shard1, kEst,
      math.ceil(kEst * 0.5 / 2).toLong, 0.5, "spec_graft_adv")
    val expectS1 = adv.filter(col("shard") === 1)
      .select("doc_id", "status", "base_id", "jaccard")
    assert(replay1.exceptAll(expectS1).isEmpty && expectS1.exceptAll(replay1).isEmpty,
      "a same-batch replay after its own append must reproduce the original classification")
    adv.unpersist()
  }
}
