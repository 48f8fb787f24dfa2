package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Driver gate (late r15, the SIXTH CheckStream*): the windowed /
  * running-aggregate twins replayed as 3 TIME-ordered micro-batches
  * and checked row-for-row against the single-batch replay (the
  * oracle-gated form) —
  *
  *   - stream_window (complete-mode tumbling hour aggregate): state
  *     is one row per live (hour, type); a multi-batch replay must
  *     close on the identical final table no matter how the input
  *     was cut;
  *   - stream_window_hopping (1h/30min hopping windows, complete);
  *   - stream_moving_agg (per-user running totals + trailing-5 deque
  *     in flatMapGroupsWithState): the REAL stateful path — per-user
  *     state crosses batches and the staleness rule (regressed ids
  *     drop) must not fire under the ordered replay.
  *
  * The time-ordered split is the stateful-gate recipe from
  * CheckStreamSession: cross-batch disorder zero, so the per-user
  * (ts, event_id) arrival contract holds across batch boundaries.
  * Exits nonzero on any mismatch.
  *
  * Usage: runMain graft.CheckStreamWindowed <sfDir>
  */
object CheckStreamWindowed {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    val eventsPath = s"$sfDir/events.parquet"
    val T = streaming.TopicStream
    val split = T.timeOrderedSplitInput(spark, eventsPath, 3,
      s"${T.scratchDirs("check_stream_windowed", sfDir)._1}-input")

    var ok = true
    def gate(name: String, cols: Seq[String])
            (run: (String, Option[Int], String) => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val multi = run(split, Some(1), s"${name}_multi").select(cols.map(col): _*)
      val tM = (System.nanoTime() - t0) / 1e9
      val single = run(eventsPath, None, s"${name}_single").select(cols.map(col): _*)
      ok &= GraftSession.sameRows(s"[check-stream-windowed] $name",
        "multi-batch == single-batch", multi, single)
      println(f"[check-stream-windowed] $name multi-batch wall $tM%.1f s")
    }

    gate("window", Seq("hour", "event_type", "n_events", "total_value")) {
      (path, mf, tag) =>
        val (out, ckpt) = T.scratchDirs(s"csw_$tag", sfDir)
        T.windowStream(spark, path, out, ckpt, mf)
    }
    gate("window_hopping", Seq("w_start", "event_type", "n_events", "total_value")) {
      (path, mf, tag) =>
        val (out, ckpt) = T.scratchDirs(s"csw_$tag", sfDir)
        T.hoppingStream(spark, path, out, ckpt, mf)
    }
    gate("moving_agg", Seq("event_id", "user_id", "cents", "running_cents",
        "trail5_cents", "n_seen")) {
      (path, mf, tag) =>
        val (out, ckpt) = T.scratchDirs(s"csw_$tag", sfDir)
        T.movingAggStream(spark, path, out, ckpt, mf)
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
