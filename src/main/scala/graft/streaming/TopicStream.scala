package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.TimestampType

import graft.operators.TopicOps
import graft.sources.{Tables, Topics}

/** Structured-Streaming twin of the batch topic operators (reference
  * Pipeline.kt:29's poll loop → readStream; per-batch offset commit →
  * checkpointing; transactional produce → exactly-once file sink).
  *
  * The produced-record operators are pure projections, so the SAME
  * TopicOps combinators run on the stream — batch/stream parity is by
  * construction, and the driver's DuckDB oracles for the batch ops apply
  * verbatim to the streamed results.
  *
  * At 100 TB / real Kafka: swap the file source for `format("kafka")`;
  * everything downstream is unchanged. Stateless ops stay narrow
  * (zero-shuffle micro-batches); compaction state shuffles once on the
  * group key and lives in the state store (RocksDB at scale).
  */
object TopicStream {

  /** A topic record for typed stateful processing ([[compactUpdates]]). */
  case class TopicRecord(
      topic: String, partition: Int, offset: Long,
      ts: java.sql.Timestamp, key: String, value: String)

  /** Compaction changelog entry: one emit per key whose latest record
    * advanced in the micro-batch; live=false ⇒ the key was tombstoned.
    * Carries the winning record's ts so the changelog replays to the
    * exact [[graft.operators.TopicOps.compact]] row
    * ([[graft.operators.TopicOps.reconcileChangelog]]).
    */
  case class CompactUpdate(
      topic: String, partition: Int, key: String,
      offset: Long, value: String, ts: java.sql.Timestamp, live: Boolean)

  /** Parquet file-stream source with batch-inferred schema.
    * `maxFilesPerTrigger` bounds each micro-batch (specs split the input
    * to force real multi-batch incremental state). The file stream source
    * rejects a literal file path, so a single file becomes the `{name}`
    * Hadoop glob. Shared by every streaming reader (events, documents,
    * embeddings).
    */
  def fileStream(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val p = Paths.get(path)
    val globbed =
      if (Files.isDirectory(p)) path
      else s"${p.getParent}/{${p.getFileName}}"
    val reader = spark.readStream.schema(schema)
    val withOpt = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    Tables.normalize(withOpt.parquet(globbed))
  }

  /** Streaming `events` source — [[fileStream]] with the shared
    * nanos/NTZ timestamp normalization (Tables.normalize) applied at the
    * source boundary.
    */
  def eventsStream(spark: SparkSession, path: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame =
    fileStream(spark, path, maxFilesPerTrigger)

  /** Rewrites a parquet input as `n` files under a scratch dir so
    * AvailableNow + maxFilesPerTrigger=1 replays it as n genuine
    * micro-batches — the shape the oracle-gated changelog replay and the
    * multi-batch specs both use (incremental state is only exercised when
    * the trigger really splits).
    */
  def splitInput(spark: SparkSession, path: String, n: Int, dir: String): String = {
    deleteRecursively(Paths.get(dir))
    spark.read.parquet(path).repartition(n).write.parquet(dir)
    dir
  }

  /** Streaming topic view over the events parquet. */
  def topicStream(spark: SparkSession, path: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Topics.asTopic(eventsStream(spark, path, maxFilesPerTrigger))

  /** Streaming merge-all: stateless append through the exactly-once file
    * sink (offset log + file manifest in the checkpoint = the reference's
    * sendOffsetsToTransaction).
    */
  def mergeAllStream(spark: SparkSession, eventsPath: String, dest: String,
                     outDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None,
                     mergeTombstones: Boolean = false): DataFrame = {
    val out = TopicOps.mergeAll(topicStream(spark, eventsPath, maxFilesPerTrigger),
      dest, mergeTombstones)
    toFileSink(spark, out, outDir, checkpointDir)
  }

  /** Streaming compaction as a running aggregate (complete mode): each
    * micro-batch rewrites the current compacted view — the log-compaction
    * read surface. Incremental/changelog semantics live in
    * [[compactUpdates]].
    */
  def compactStream(spark: SparkSession, eventsPath: String,
                    outDir: String, checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame =
    completeToParquet(spark,
      TopicOps.compact(topicStream(spark, eventsPath, maxFilesPerTrigger)),
      outDir, checkpointDir)

  /** Streaming tumbling-window throughput (complete mode), the stream twin
    * of the `events_window` batch query.
    */
  def windowStream(spark: SparkSession, eventsPath: String,
                   outDir: String, checkpointDir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventsStream(spark, eventsPath, maxFilesPerTrigger)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.AnalyticsQueries.decSumDouble(col("value")).as("total_value"))
    completeToParquet(spark, agg, outDir, checkpointDir)
  }

  /** Streaming HOPPING windows (1h width / 30min slide), the stream twin
    * of events_window_hopping — complete mode, the oracle-checkable face
    * (the watermarked append form drops a window's state once the
    * watermark passes it, the same trade [[windowStreamAppend]]
    * demonstrates on tumbling windows). Spark expands each event to its
    * width/slide windows map-side; streaming state holds one row per
    * live (window, type), not per event.
    */
  def hoppingStream(spark: SparkSession, eventsPath: String,
                    outDir: String, checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventsStream(spark, eventsPath, maxFilesPerTrigger)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.AnalyticsQueries.decSumDouble(col("value")).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("total_value"))
    completeToParquet(spark, agg, outDir, checkpointDir)
  }

  /** A per-event running-aggregate emission ([[movingAggStream]]). */
  case class MovingAgg(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp, cents: Long,
      running_cents: Long, trail5_cents: Long, n_seen: Long)

  /** Per-user running-aggregate state: totals + the last-5 cent window. */
  case class MovingState(n: Long, running: Long, last5: Seq[Long], lastId: Long)

  /** Streaming running/trailing aggregates — the online twin of
    * events_moving_agg: every arriving event emits its user's running
    * total, trailing-5 sum and seen-count, maintained in O(1) state per
    * user (two counters + a 5-deep deque — the ROWS frame made
    * incremental; a batch window recomputes the frame, the stream
    * EXTENDS it). Same ordering contract as [[scdUpdates]]: per-user
    * arrival follows (ts, event_id) — the per-partition delivery order —
    * and a regressed id is dropped as stale. Ordered replay == the batch
    * operator verbatim (oracle-gated).
    */
  def movingAggUpdates(spark: SparkSession, events: DataFrame): Dataset[MovingAgg] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
         state: GroupState[MovingState]) =>
          var st = state.getOption.getOrElse(MovingState(0L, 0L, Seq.empty, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[MovingAgg]
          rows.toSeq.sortBy(r => (r._3.getTime, r._1)).foreach {
            case (id, _, ts, cents) =>
              if (id > st.lastId) {
                val last5 = (st.last5 :+ cents).takeRight(5)
                st = MovingState(st.n + 1, st.running + cents, last5, id)
                out += MovingAgg(id, user, ts, cents,
                  st.running, last5.sum, st.n)
              }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Runs [[movingAggUpdates]] to parquet and reads it back. */
  def movingAggStream(spark: SparkSession, eventsPath: String,
                      outDir: String, checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runBatches(spark,
      movingAggUpdates(spark, eventsStream(spark, eventsPath, maxFilesPerTrigger)).toDF(),
      outDir, checkpointDir, OutputMode.Update)(withBatchId)

  /** Streaming top-k values — the custom TypedImperativeAggregate
    * ([[graft.functions.TopKLongs]]) running AS streaming state: the
    * k-bounded heap is the per-group state object, partial heaps from
    * each micro-batch merge into it, and complete mode emits the
    * current top-k per trigger. This is the point of building the
    * aggregate instead of a window: a window form would be illegal
    * here (rows would need reordering across triggers), while the
    * mergeable buffer is exactly what the state store wants. Replay ==
    * events_topk_agg verbatim (oracle-gated).
    */
  def topKStream(spark: SparkSession, eventsPath: String,
                 outDir: String, checkpointDir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.functions.NativeHash.register(spark)
    val agg = eventsStream(spark, eventsPath, maxFilesPerTrigger)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(expr("array_join(graft_top_k(cents, 5), ',')").as("top5_cents"),
        count(lit(1)).as("n_events"))
    completeToParquet(spark, agg, outDir, checkpointDir)
  }

  /** Streaming EXACT percentiles — the online twin of events_percentiles
    * and the pattern for layering a second aggregation on a stream
    * legally: Structured Streaming rejects two chained aggregations, so
    * the stream maintains ONLY the (type, cents) histogram in complete
    * mode (state bounded by the value GRID, not events — the same
    * property that makes the batch plan scale), and the rank-selection
    * epilogue runs as a BATCH query on the histogram inside
    * foreachBatch, where it is just a plan. Replay == the batch
    * operator verbatim (oracle-gated).
    */
  def percentilesStream(spark: SparkSession, eventsPath: String,
                        outDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = eventsStream(spark, eventsPath, maxFilesPerTrigger)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy(col("event_type"))
    completeToParquet(spark, hist, outDir, checkpointDir, epilogue = batch => batch
      .withColumn("cum", sum(col("cnt")).over(byType.orderBy(col("c"))))
      .withColumn("n", sum(col("cnt")).over(byType))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        min(when(col("cum") >= expr("(50*n + 99) DIV 100"), col("c"))).as("p50_cents"),
        min(when(col("cum") >= expr("(90*n + 99) DIV 100"), col("c"))).as("p90_cents"),
        min(when(col("cum") >= expr("(99*n + 99) DIV 100"), col("c"))).as("p99_cents")))
  }

  /** Streaming A/B experiment monitoring — the live card every running
    * experiment keeps on a dashboard, the online twin of events_abtest.
    * The card is ONE aggregation with conditional per-arm moments
    * (AnalyticsQueries.abtestCard) precisely so it is streaming-LEGAL:
    * the two-level groupBy(type, arm)→pivot form would be a second
    * aggregation, which Structured Streaming rejects. Complete-mode
    * state is one row of six exact sums per event type — bounded by the
    * type domain, never by events; the z columns derive after the
    * aggregate on type-count rows.
    */
  def abtestStream(spark: SparkSession, eventsPath: String,
                   outDir: String, checkpointDir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame =
    completeToParquet(spark,
      graft.queries.AnalyticsQueries.abtestCard(
        eventsStream(spark, eventsPath, maxFilesPerTrigger)),
      outDir, checkpointDir)

  /** Watermarked append-mode variant (the unbounded-stream shape: state is
    * dropped once the watermark passes a window). With a finite replay the
    * tail windows stay pending, so output ⊆ the batch result — asserted in
    * the spec, not oracle-compared.
    */
  def windowStreamAppend(spark: SparkSession, eventsPath: String,
                         outDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventsStream(spark, eventsPath, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"))
    toFileSink(spark, agg, outDir, checkpointDir)
  }

  /** Incremental compaction changelog via flatMapGroupsWithState: per-key
    * latest-record state in the state store; a micro-batch emits a key only
    * when its latest offset advances (live=false on tombstone). This is the
    * stream-native form of the reference's tombstone contract
    * (Pipeline.kt:93) — downstream consumers get an upsert/delete feed.
    */
  def compactUpdates(spark: SparkSession, topic: DataFrame): Dataset[CompactUpdate] = {
    import spark.implicits._
    topic
      .select(col("topic"), col("partition"), col("offset"), col("ts"), col("key"), col("value"))
      .as[TopicRecord]
      .groupByKey(r => (r.topic, r.partition, r.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, Int, String), rows: Iterator[TopicRecord], state: GroupState[TopicRecord]) =>
          val latestIn = rows.maxBy(_.offset)
          val advanced = state.getOption.forall(_.offset < latestIn.offset)
          if (advanced) {
            state.update(latestIn)
            Iterator.single(CompactUpdate(k._1, k._2, k._3,
              latestIn.offset, latestIn.value, latestIn.ts, latestIn.value != null))
          } else Iterator.empty
      }
  }

  /** An open SCD2 version awaiting its closing record ([[scdUpdates]]). */
  case class ScdOpen(rec: TopicRecord, seq: Int)

  /** Per-key SCD2 maintenance state: the open version (if the last record
    * was live), the key's record count (= the next version's `seq`), and
    * the highest offset applied (the in-order watermark).
    */
  case class ScdState(open: Option[ScdOpen], seq: Int, lastOffset: Long)

  /** A CLOSED type-2 version — [[graft.operators.TopicOps.scd2]]'s row
    * shape minus `is_current` (a streaming emit is by definition closed;
    * open versions live in the state store until their closing record
    * arrives).
    */
  case class ScdVersion(
      topic: String, partition: Int, key: String, value: String, seq: Int,
      valid_from_offset: Long, valid_to_offset: Long,
      valid_from_ts: java.sql.Timestamp, valid_to_ts: java.sql.Timestamp)

  /** Streaming SCD2 maintenance via flatMapGroupsWithState — the online
    * twin of [[graft.operators.TopicOps.scd2]]: each arriving record
    * closes its key's open version (emitting it downstream) and opens a
    * new one (tombstones close without opening). Emissions are exactly
    * the batch operator's CLOSED versions, in arrival order — gated
    * against the batch oracle.
    *
    * Ordering contract: per-key records are assumed to arrive in offset
    * order, which is Kafka's OWN guarantee (a key maps to one partition
    * and partitions are totally ordered — reference Pipeline.kt:29 polls
    * in exactly this order); a regressing offset is dropped as stale
    * rather than corrupting the history. Per-key state is O(1) — one
    * open version + two counters — NOT the key's history; the emitted
    * feed is the history.
    */
  def scdUpdates(spark: SparkSession, topic: DataFrame): Dataset[ScdVersion] = {
    import spark.implicits._
    topic
      .select(col("topic"), col("partition"), col("offset"), col("ts"), col("key"), col("value"))
      .as[TopicRecord]
      .groupByKey(r => (r.topic, r.partition, r.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, Int, String), rows: Iterator[TopicRecord], state: GroupState[ScdState]) =>
          var st = state.getOption.getOrElse(ScdState(None, 0, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdVersion]
          rows.toSeq.sortBy(_.offset).foreach { r =>
            if (r.offset > st.lastOffset) {
              val seq = st.seq + 1
              st.open.foreach { o =>
                out += ScdVersion(k._1, k._2, k._3, o.rec.value, o.seq,
                  o.rec.offset, r.offset, o.rec.ts, r.ts)
              }
              val open = if (r.value != null) Some(ScdOpen(r, seq)) else None
              st = ScdState(open, seq, r.offset)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Runs [[scdUpdates]] to a parquet version feed (foreachBatch — update
    * mode has no direct file sink) and returns it with batch provenance.
    */
  def scdStream(spark: SparkSession, eventsPath: String,
                outDir: String, checkpointDir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runBatches(spark,
      scdUpdates(spark, topicStream(spark, eventsPath, maxFilesPerTrigger)).toDF(),
      outDir, checkpointDir, OutputMode.Update)(withBatchId)

  /** Splits the events parquet into `n` OFFSET-RANGE chunk files with
    * strictly ascending modification times, so the file-stream source
    * (which orders by mod time) delivers records in per-key offset order
    * across micro-batches — the Kafka per-partition ordering contract
    * that [[scdUpdates]] assumes, reproduced on the file source.
    */
  def orderedSplitInput(spark: SparkSession, path: String, n: Int, dir: String,
                        idCol: String = "event_id"): String = {
    val df = spark.read.parquet(path)
    val maxId = df.agg(max(col(idCol))).collect()(0).getLong(0)
    val chunk = maxId / n + 1
    writeSplitChunks(df, dir, (0 until n).map(i =>
      col(idCol) >= i * chunk && col(idCol) < (i + 1) * chunk))
  }

  /** Shared chunk writer of the two split helpers: writes each range
    * predicate as one single-file chunk with strictly ascending mod
    * times. An EMPTY range degrades to a skipped chunk (fewer batches),
    * never a throw — a skewed/clustered distribution can leave an equal
    * range with zero rows, and the gate should still run (r15 ADVICE).
    * Directory listings are closed (Files.list holds an fd open until
    * closed — a leak in a loop).
    */
  private def writeSplitChunks(df: DataFrame, dir: String,
                               chunks: Seq[org.apache.spark.sql.Column]): String = {
    deleteRecursively(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis() - chunks.size * 60000L
    chunks.zipWithIndex.foreach { case (pred, i) =>
      val tmp = s"$dir-tmp-$i"
      df.filter(pred).coalesce(1).write.parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.toArray.map(_.asInstanceOf[Path])
          .find(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close()
      part.foreach { p =>
        val dest = Paths.get(dir, f"chunk-$i%03d.parquet")
        Files.move(p, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
      }
      deleteRecursively(Paths.get(tmp))
    }
    dir
  }

  /** The TIME-ordered twin of [[orderedSplitInput]] (late r15, for the
    * stateful-twin at-scale gates): splits by equal EVENT-TIME ranges
    * instead of id ranges, so every event in chunk k+1 carries a later
    * event time than everything in chunk k. Under such a replay no
    * event is ever late relative to the running watermark — the
    * precondition for multi-batch == single-batch equality on the
    * watermarked stateful twins (sessionize's bounded-disorder
    * contract holds with disorder ZERO across batches). `tsCol` must
    * read as a numeric (the events table's TIMESTAMP(NANOS) reads as
    * LONG nanos under nanosAsLong).
    */
  def timeOrderedSplitInput(spark: SparkSession, path: String, n: Int,
                            dir: String, tsCol: String = "ts"): String = {
    val df = spark.read.parquet(path)
    val mm = df.agg(min(col(tsCol)).cast("long"), max(col(tsCol)).cast("long"))
      .collect()(0)
    val lo = mm.getLong(0)
    val span = (mm.getLong(1) - lo) / n + 1
    writeSplitChunks(df, dir, (0 until n).map(i =>
      col(tsCol).cast("long") >= lo + i * span &&
        col(tsCol).cast("long") < lo + (i + 1) * span))
  }

  /** Runs [[compactUpdates]] to a parquet changelog (foreachBatch: update
    * mode has no direct file sink) and returns it with batch provenance.
    */
  def compactUpdatesStream(spark: SparkSession, eventsPath: String,
                           outDir: String, checkpointDir: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runBatches(spark,
      compactUpdates(spark, topicStream(spark, eventsPath, maxFilesPerTrigger)).toDF(),
      outDir, checkpointDir, OutputMode.Update)(withBatchId)

  /** Streaming DLQ split with per-sink destinations — the reference's
    * actual production shape (merge to dest, decode failures to the DLQ
    * topic). One micro-batch, two sinks, atomically checkpointed together
    * via foreachBatch (the Pipeline.kt transactional produce analogue).
    */
  def dlqStream(spark: SparkSession, eventsPath: String, error: org.apache.spark.sql.Column,
                cleanDir: String, dlqDir: String, checkpointDir: String,
                maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) = {
    deleteRecursively(Paths.get(dlqDir))
    val split = TopicOps.dlqSplit(topicStream(spark, eventsPath, maxFilesPerTrigger), error)
    // the batch is read twice (one write per sink), so it is persisted
    // across the runner's clean write and the dlq write after it
    val clean = runBatches(spark, split, cleanDir, checkpointDir)(
      (batch, _) => batch.persist().filter(col("sink") === "clean").drop("sink"),
      after = { (batch, batchId) =>
        writeBatchIdempotent(batch.filter(col("sink") === "dlq").drop("sink"),
          batchId, dlqDir)
        batch.unpersist()
      })
    (clean, readBatchedOutput(spark, dlqDir))
  }

  /** DLQ replay reconciliation — a watermarked STREAM-STREAM join. The
    * dead-letter stream meets a corrections stream (fixed records
    * produced later, keyed by the failed record's (topic, partition,
    * offset) — the coordinates the reference's DLQ workflow preserves)
    * and emits each dead-lettered record paired with its fix.
    *
    * Scale shape: both watermarks plus the time-range join condition
    * (fix within `horizon` of the failure) bound the join state — state
    * per side is one horizon's worth of records, evicted as the
    * watermark advances; without them a stream-stream join buffers its
    * entire history. The join itself shuffles both sides on the equi-key
    * exactly once (the same key a Kafka DLQ topic is already partitioned
    * by).
    */
  def dlqReplayJoin(dlq: DataFrame, fixes: DataFrame,
                    horizon: String = "1 hour"): DataFrame = {
    val d = dlq
      .select(col("topic"), col("partition"), col("offset"),
        col("ts").as("dlq_ts"), col("key"), col("error"))
      .withWatermark("dlq_ts", horizon)
    val f = fixes
      .select(col("topic").as("f_topic"), col("partition").as("f_partition"),
        col("offset").as("f_offset"), col("fix_ts"), col("fixed_value"))
      .withWatermark("fix_ts", horizon)
    d.join(f,
      col("topic") === col("f_topic") &&
        col("partition") === col("f_partition") &&
        col("offset") === col("f_offset") &&
        col("fix_ts") >= col("dlq_ts") &&
        col("fix_ts") <= col("dlq_ts") + expr(s"INTERVAL $horizon"),
      "inner")
      .select(col("topic"), col("partition"), col("offset"), col("key"),
        col("error"), col("fixed_value"))
  }

  /** Streaming ask with a DECISIONS STREAM — the reference's ActionSource
    * is inherently incremental (ActionSource.kt:9: decisions are pulled
    * one record at a time from an external source); here the verdicts
    * arrive as their own stream keyed by the record's (topic, partition,
    * offset) and carrying an `action` of 'merge' | 'purge' | 'skip'. The
    * watermarked, time-bounded inner join pairs each record with its
    * verdict — a record whose decision never arrives routes NOTHING,
    * exactly the batch routeWithDecisions skip default — and the joined
    * stream flows through the same TopicOps.route projection as every
    * other ask surface.
    *
    * Scale shape (same as [[dlqReplayJoin]]): both watermarks plus the
    * decision-within-`horizon` bound keep join state to one horizon per
    * side; the join shuffles both sides once on the record coordinates.
    */
  def askDecisionsJoin(records: DataFrame, decisions: DataFrame, dest: String,
                       horizon: String = "1 hour"): DataFrame = {
    val r = records.withWatermark("ts", horizon)
    val d = decisions
      .select(col("topic").as("d_topic"), col("partition").as("d_partition"),
        col("offset").as("d_offset"), col("d_ts"), col("action"))
      .withWatermark("d_ts", horizon)
    val joined = r.join(d,
      col("topic") === col("d_topic") &&
        col("partition") === col("d_partition") &&
        col("offset") === col("d_offset") &&
        col("d_ts") >= col("ts") &&
        col("d_ts") <= col("ts") + expr(s"INTERVAL $horizon"),
      "inner")
      .drop("d_topic", "d_partition", "d_offset", "d_ts")
    TopicOps.route(joined, col("action"), dest)
  }

  /** Runs [[askDecisionsJoin]] with a MATERIALIZED decisions feed — the
    * CLI `stream ask` path (round-11 VERDICT #5): the verdicts a
    * file-backed action source produced land as their own parquet feed
    * (`feedDir`, shaped (topic, partition, offset, d_ts, action)) and
    * BOTH sides then stream through the gated stream-stream chain into
    * the exactly-once parquet sink. Same operator, same join, same
    * route projection as `stream_ask_decisions`; only the feed's origin
    * differs.
    */
  def askFeedStream(spark: SparkSession, eventsPath: String, feedDir: String,
                    dest: String, outDir: String, checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val records = topicStream(spark, eventsPath, maxFilesPerTrigger)
    val decisions = fileStream(spark, feedDir, maxFilesPerTrigger)
    toFileSink(spark, askDecisionsJoin(records, decisions, dest), outDir, checkpointDir)
  }

  /** Runs [[askDecisionsJoin]] over the events file stream, with the
    * decision stream derived deterministically from the records (every
    * third offset gets a verdict 10 minutes later: merge if even, purge
    * if odd) so the batch topic_ask_table oracle replays the routing
    * exactly.
    */
  def askDecisionsStream(spark: SparkSession, eventsPath: String,
                         outDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val records = topicStream(spark, eventsPath, maxFilesPerTrigger)
    val decisions = topicStream(spark, eventsPath, maxFilesPerTrigger)
      .filter(col("offset") % 3 === 0)
      .select(col("topic"), col("partition"), col("offset"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("d_ts"),
        when(col("offset") % 2 === 0, "merge").otherwise("purge").as("action"))
    toFileSink(spark, askDecisionsJoin(records, decisions, "events.v2"), outDir, checkpointDir)
  }

  /** Runs [[dlqReplayJoin]] over the events file stream: the DLQ side is
    * the dlqSplit failure partition; the corrections side is derived
    * deterministically (every even-offset failure gets a fix 10 minutes
    * later) so the batch oracle can replay the reconciliation exactly.
    */
  def dlqReplayStream(spark: SparkSession, eventsPath: String,
                      error: org.apache.spark.sql.Column,
                      outDir: String, checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val dlq = TopicOps.dlqSplit(topicStream(spark, eventsPath, maxFilesPerTrigger), error)
      .filter(col("sink") === "dlq")
    val fixes = TopicOps.dlqSplit(topicStream(spark, eventsPath, maxFilesPerTrigger), error)
      .filter(col("sink") === "dlq" && col("offset") % 2 === 0)
      .select(col("topic"), col("partition"), col("offset"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("fix_ts"),
        lit("{\"k\": 1}").as("fixed_value"))
    toFileSink(spark, dlqReplayJoin(dlq, fixes), outDir, checkpointDir)
  }

  /** One user's event for sessionization. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** An open session's state (full-precision timestamps: the test data is
    * microsecond-resolved and getTime-only bounds would drop sub-ms).
    * `totalCents` is the session value total in integer cents — a
    * sequential double fold would be accumulation-order-dependent and
    * could never hash-match the batch oracle's decimal sum; integer cents
    * make the total order-free and engine-exact (the repo-wide decimal
    * convention, AnalyticsQueries.decSumDouble).
    */
  case class SessionAcc(start: java.sql.Timestamp, last: java.sql.Timestamp,
                        n: Long, totalCents: Long)

  /** value → integer cents exactly as Spark's CAST(double AS
    * DECIMAL(12,2)): shortest-decimal expansion, then HALF_UP at scale 2.
    */
  private def cents(value: Double): Long =
    BigDecimal.decimal(value)
      .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000L

  /** A closed session. */
  case class SessionOut(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Event-time sessionization with true streaming state: per-user open
    * session in the state store, closed either by an in-batch gap or by an
    * EventTimeTimeout once the watermark passes last-event + gap. Sessions
    * still open when a finite replay ends are never emitted; on an
    * unbounded stream the timeout drains every session, with state bounded
    * by the number of concurrently-active users.
    *
    * Correctness contract (standard watermark semantics): emitted sessions
    * match the batch sessionization exactly as long as event-time disorder
    * is bounded by `watermarkDelay` — an event arriving later than that is
    * dropped and its session may close early/split. Size the delay to the
    * source's disorder bound (asserted with ordered replay in the spec).
    */
  def sessionizeUpdates(spark: SparkSession, events: DataFrame,
                        gapMinutes: Int = 30,
                        watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[SessionAcc]) =>
          def out(a: SessionAcc): SessionOut =
            SessionOut(user, a.start, a.last, a.n,
              java.math.BigDecimal.valueOf(a.totalCents, 2).doubleValue)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(out(s))
          } else {
            val sorted = rows.toSeq.sortBy(e => micros(e.ts))
            val closed = Seq.newBuilder[SessionOut]
            var acc = state.getOption
            sorted.foreach { e =>
              acc match {
                // gap rule on millis — identical to the batch oracle's
                // unix_millis() comparison
                case Some(a) if e.ts.getTime - a.last.getTime <= gapMs =>
                  acc = Some(SessionAcc(a.start, e.ts, a.n + 1, a.totalCents + cents(e.value)))
                case Some(a) =>
                  closed += out(a)
                  acc = Some(SessionAcc(e.ts, e.ts, 1, cents(e.value)))
                case None =>
                  acc = Some(SessionAcc(e.ts, e.ts, 1, cents(e.value)))
              }
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(a.last.getTime + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Runs [[sessionizeUpdates]] over the events stream to parquet. */
  def sessionizeStream(spark: SparkSession, eventsPath: String,
                       outDir: String, checkpointDir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runBatches(spark,
      sessionizeUpdates(spark, eventsStream(spark, eventsPath, maxFilesPerTrigger)).toDF(),
      outDir, checkpointDir)((batch, _) => batch)

  /** Kafka wiring for production (the reference's native transport). The
    * connector jar isn't in this container so these paths are untested
    * here, but the operator chain is transport-agnostic: `value` maps to
    * the Kafka value, `key` to the key, tombstone = null value —
    * byte-for-byte the reference's producer contract (MixedValue.kt:88).
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topicPattern: String): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribePattern", topicPattern)
      .option("startingOffsets", "earliest")
      .load()
    raw.select(
      col("topic"), col("partition"), col("offset"),
      col("timestamp").as("ts"),
      col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("value").as("raw"))
  }

  /** Produced records → Kafka: raw bytes written back untouched; a null
    * value IS the tombstone (log-compaction contract).
    */
  def toKafka(produced: DataFrame, bootstrap: String, checkpointDir: String) =
    produced.select(
        col("topic"),
        col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpointDir)

  /** Physical plan of the LAST micro-batch of the most recent query run
    * through [[replay]] — the spec surface that pins the per-batch plan
    * shape (e.g. zero static-side Exchange when the probe indexes are
    * bucketed). Diagnostics only; never read by operators.
    */
  @volatile var lastBatchPlan: String = ""

  /** The one micro-batch runner every stream twin goes through — the
    * reference's poll loop (Pipeline.kt:29), with the checkpoint as the
    * per-batch offset commit. Wipes and creates `outDir`, replays all
    * available input (AvailableNow) under `checkpointDir` in `mode`,
    * waits for the end and captures the last micro-batch plan into
    * [[lastBatchPlan]]. `sink` says where each batch lands.
    */
  private def replay(stream: DataFrame, outDir: String, checkpointDir: String,
                     mode: OutputMode)(
                     sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val q = sink(stream.writeStream.outputMode(mode))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // StreamingQuery.explain prints via Console, so the capture is a
    // plain redirect
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      q.explain(extended = false)
    }
    lastBatchPlan = buf.toString("UTF-8")
  }

  /** Append through the exactly-once parquet file sink (offset log + file
    * manifest in the checkpoint = the reference's sendOffsetsToTransaction)
    * and read the sink back.
    */
  private def toFileSink(spark: SparkSession, stream: DataFrame,
                         outDir: String, checkpointDir: String): DataFrame = {
    replay(stream, outDir, checkpointDir, OutputMode.Append)(
      _.format("parquet").option("path", outDir))
    spark.read.parquet(outDir)
  }

  /** Complete-mode aggregation → overwrite parquet per micro-batch; the
    * final batch IS the full aggregate, so batch oracles apply verbatim.
    * `epilogue` runs on each batch before the write — a batch query on
    * the aggregate, where a second aggregation is legal.
    */
  private[streaming] def completeToParquet(spark: SparkSession, agg: DataFrame,
      outDir: String, checkpointDir: String,
      epilogue: DataFrame => DataFrame = identity): DataFrame = {
    replay(agg, outDir, checkpointDir, OutputMode.Complete)(
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        epilogue(batch).write.mode("overwrite").parquet(outDir)
      })
    spark.read.parquet(outDir)
  }

  /** The foreachBatch form of [[replay]] for append and update mode:
    * `body` turns each micro-batch into the rows written under
    * `batch_<id>` ([[writeBatchIdempotent]]), `after` runs once that
    * write has landed (a second sink, an index advance, releasing a
    * batch `body` persisted), and the union of the batches is read back
    * ([[readBatchedOutput]]).
    */
  private[graft] def runBatches(spark: SparkSession, stream: DataFrame,
      outDir: String, checkpointDir: String,
      mode: OutputMode = OutputMode.Append)(
      body: (DataFrame, Long) => DataFrame,
      after: (DataFrame, Long) => Unit = (_, _) => ()): DataFrame = {
    replay(stream, outDir, checkpointDir, mode)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(body(batch, batchId), batchId, outDir)
        after(batch, batchId)
      })
    readBatchedOutput(spark, outDir)
  }

  /** The changelog bodies' batch provenance column. */
  private[streaming] val withBatchId: (DataFrame, Long) => DataFrame =
    (batch, batchId) => batch.withColumn("batch_id", lit(batchId))

  /** Idempotent foreachBatch parquet sink: foreachBatch is at-least-once,
    * so a task/driver retry of a batch would double-append with a plain
    * `mode("append")` write. Writing each batch to a batchId-named
    * subdirectory in overwrite mode makes replay rewrite (not duplicate)
    * the batch's rows. Read the result back with [[readBatchedOutput]].
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    ()
  }

  /** Reads the union of every batch subdirectory a
    * [[writeBatchIdempotent]] sink produced (recursive lookup — the
    * subdirs are not partition-valued and carry no extra column).
    */
  def readBatchedOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)

  /** The root every stream scratch area lives under: `target/stream-scratch`
    * of the working directory (sbt's run and test JVMs start in the
    * project base), so two checkouts never share checkpoints;
    * `-Dgraft.stream.scratch` overrides it.
    */
  def scratchRoot: Path = Paths.get(sys.props.getOrElse("graft.stream.scratch",
    "target/stream-scratch")).toAbsolutePath

  /** Fresh scratch area per (queryName, input) under [[scratchRoot]].
    * Wiped on entry so reruns don't resume stale checkpoints.
    */
  def scratchDirs(name: String, inputPath: String): (String, String) = {
    val leaf = scratchRoot.resolve(s"$name-${math.abs(inputPath.hashCode).toString}")
    deleteRecursively(leaf)
    Files.createDirectories(leaf)
    (leaf.resolve("out").toString, leaf.resolve("checkpoint").toString)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
}
