package graft

import org.apache.spark.sql.functions.col

/** Driver gate (r16, r15 VERDICT #6 — the last ungated stateful twin
  * families): at-scale equality for the SCD2 maintenance stream and the
  * streaming funnel, in one main.
  *
  * - stream_scd2: flatMapGroupsWithState version maintenance over an
  *   OFFSET-ordered 4-chunk replay (the Kafka per-partition ordering
  *   contract reproduced on the file source — TopicStream
  *   .orderedSplitInput) must emit exactly the batch SCD2 history's
  *   CLOSED live versions, with version payloads carried through the
  *   state store across batch boundaries.
  * - stream_funnel: the two-stage as-of resolution (stream-static click
  *   probe + per-batch view probe over the user_id-bucketed histories)
  *   must equal batch events_funnel row for row under any input cutting.
  *
  * Exits nonzero on any mismatch. sf10 note: the SCD2 state store
  * carries ~25M keys — run with SPARK_DRIVER_MEM=48g (the r15 probes-
  * ladder discipline).
  *
  * Usage: runMain graft.CheckStreamScd2 <sfDir>
  */
object CheckStreamScd2 {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    var failed = false

    // ---- SCD2: offset-ordered multi-batch replay vs batch closed versions
    locally {
      val scdCols = Seq("topic", "partition", "key", "value", "seq",
        "valid_from_offset", "valid_to_offset", "valid_from_ts", "valid_to_ts")
      val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_scd2", sfDir)
      val split = streaming.TopicStream.orderedSplitInput(
        spark, s"$sfDir/events.parquet", 4, s"$out-input")
      val t0 = System.nanoTime()
      val streamed = streaming.TopicStream.scdStream(spark, split, out, ckpt,
        maxFilesPerTrigger = Some(1))
        .select(scdCols.head, scdCols.tail: _*).cache()
      val nStream = streamed.count()
      println(f"[check-stream-scd2] scd2 streamed $nStream rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val batch = graft.operators.TopicOps.scd2(
        graft.sources.Topics.events(spark, sfDir))
        .filter(col("value").isNotNull && col("valid_to_offset").isNotNull)
        .select(scdCols.head, scdCols.tail: _*)
      failed |= !GraftSession.sameRows("[check-stream-scd2] scd2",
        "stream union == batch closed versions", streamed, batch)
    }

    // ---- Funnel: multi-batch replay vs batch chained as-of joins
    locally {
      val fCols = Seq("event_id", "user_id", "ts", "value",
        "click_id", "click_ts", "view_id", "view_ts", "funnel_depth")
      val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_funnel", sfDir)
      val t0 = System.nanoTime()
      val streamed = streaming.AsOfStream.funnelStream(spark, sfDir, out, ckpt,
        tablePrefix = "graft_check_funnel")
        .select(fCols.head, fCols.tail: _*).cache()
      val nStream = streamed.count()
      println(f"[check-stream-scd2] funnel streamed $nStream rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val e = graft.sources.Tables.load(spark, sfDir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val s1 = graft.operators.AsOf.joinAsOf(p, c, key = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts", tieBreak = Seq("click_id"))
      val s2 = graft.operators.AsOf.joinAsOf(s1, v, key = Seq("user_id"),
        leftTime = "click_ts", rightTime = "view_ts", tieBreak = Seq("view_id"))
      val batch = s2.withColumn("funnel_depth",
          org.apache.spark.sql.functions.lit(1L) +
            col("click_id").isNotNull.cast("long") +
            col("view_id").isNotNull.cast("long"))
        .select(fCols.head, fCols.tail: _*)
      failed |= !GraftSession.sameRows("[check-stream-scd2] funnel",
        "stream union == batch", streamed, batch)
    }

    // ---- As-of: multi-batch replay vs the batch single-shuffle window
    // (r16 stretch — the verdict named funnel AND asof as the remaining
    // ungated stream-static twins)
    locally {
      val aCols = Seq("event_id", "user_id", "ts", "value",
        "click_id", "click_ts", "click_value")
      val (out, ckpt) = streaming.TopicStream.scratchDirs("check_stream_asof", sfDir)
      val t0 = System.nanoTime()
      val streamed = streaming.AsOfStream.asofStream(spark, sfDir, out, ckpt,
        tablePrefix = "graft_check_asof")
        .select(aCols.head, aCols.tail: _*).cache()
      val nStream = streamed.count()
      println(f"[check-stream-scd2] asof streamed $nStream rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val (p, c) = graft.queries.AnalyticsQueries.asofSides(spark, sfDir)
      val batch = graft.operators.AsOf.joinAsOf(p, c, key = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts", tieBreak = Seq("click_id"))
        .select(aCols.head, aCols.tail: _*)
      failed |= !GraftSession.sameRows("[check-stream-scd2] asof",
        "stream union == batch", streamed, batch)
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
