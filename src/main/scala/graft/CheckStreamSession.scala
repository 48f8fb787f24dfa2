package graft

import org.apache.spark.sql.functions.col

/** Driver gate (late r15, the FIFTH CheckStream* — the first STATEFUL
  * twin at scale): event-time sessionization replayed as 3
  * TIME-ordered micro-batches and checked row-for-row against the
  * single-batch AvailableNow replay of the same events (the form the
  * DuckDB oracle already characterizes and gates at driver scales).
  *
  * Why time-ordered: the watermark advances after each batch, so an
  * id-ordered split would deliver events EARLIER than the running
  * watermark (ScaleGen timestamps are uniform over the window,
  * uncorrelated with ids) and correctly drop them — a different
  * answer by design, not a bug. Equal event-time ranges make
  * cross-batch disorder ZERO, where the sessionize contract
  * guarantees multi-batch == single-batch: every session closes
  * either by a gap event (whichever batch it arrives in) or by the
  * SAME final watermark, and the emitted row is identical either way.
  * What this gate adds over the oracle is the CROSS-BATCH state path
  * — open sessions carried in the state store across triggers and
  * closed by later batches' events or watermark timeouts — at sf1+
  * row counts, which a single-batch replay never exercises.
  * Exits nonzero on any mismatch.
  *
  * Usage: runMain graft.CheckStreamSession <sfDir>
  */
object CheckStreamSession {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    val eventsPath = s"$sfDir/events.parquet"
    val cols = Seq("user_id", "session_start", "session_end", "n_events",
      "total_value").map(col)

    val (outM, ckptM) = streaming.TopicStream.scratchDirs("check_stream_sess_multi", sfDir)
    val splitDir = streaming.TopicStream.timeOrderedSplitInput(
      spark, eventsPath, 3, s"$outM-input")
    val t0 = System.nanoTime()
    val multi = streaming.TopicStream.sessionizeStream(
      spark, splitDir, outM, ckptM, maxFilesPerTrigger = Some(1))
      .select(cols: _*).cache()
    val nM = multi.count()
    val tM = (System.nanoTime() - t0) / 1e9
    println(f"[check-stream-session] multi-batch  $nM sessions in $tM%.1f s (3 time-ordered batches)")

    val (outS, ckptS) = streaming.TopicStream.scratchDirs("check_stream_sess_single", sfDir)
    val t1 = System.nanoTime()
    val single = streaming.TopicStream.sessionizeStream(
      spark, eventsPath, outS, ckptS)
      .select(cols: _*).cache()
    val nS = single.count()
    val tS = (System.nanoTime() - t1) / 1e9
    println(f"[check-stream-session] single-batch $nS sessions in $tS%.1f s (the oracle-gated form)")

    val same = GraftSession.sameRows("[check-stream-session]",
      "multi-batch == single-batch", multi, single)
    spark.stop()
    if (!same) sys.exit(1)
  }
}
