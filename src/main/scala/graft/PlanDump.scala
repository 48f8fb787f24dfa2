package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dev tool (r17 optimization round): dump `.explain("formatted")` for a
  * comma-separated list of declared queries to `<outDir>/<name>_<tag>.txt`.
  * Usage: PlanDump <names|all> <sfDir> <outDir> <tag>
  * The session is Bench's (GraftSession), so the captured plan is the
  * plan the bench actually times (same shuffle partitions, split size,
  * nanos handling). A `stream_*` row dumps its last micro-batch's plan
  * (TopicStream.lastBatchPlan), not the read-back of its output; a
  * stream row that captures no batch plan fails. Exits nonzero if any
  * row failed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: PlanDump <names|all> <sfDir> <outDir> <tag>")
    val names =
      if (args(0) == "all") Bench.headliners
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val outDir = Paths.get(args(2))
    val tag = args(3)
    Files.createDirectories(outDir)
    val spark = GraftSession.local()
    // SPARK_GRAFT_NOAQE=1: disable AQE so the static planner's
    // ReuseExchange markers show in the dump — a readable proxy for the
    // runtime stage reuse AQE performs but explain() hides.
    if (sys.env.get("SPARK_GRAFT_NOAQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    var failed = 0
    for (name <- names) {
      try {
        val stream = name.startsWith("stream_")
        streaming.TopicStream.lastBatchPlan = ""
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan =
          if (!stream) df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          else if (streaming.TopicStream.lastBatchPlan.nonEmpty)
            streaming.TopicStream.lastBatchPlan
          else throw new IllegalStateException(
            "stream row captured no micro-batch plan (TopicStream.replay)")
        Files.write(outDir.resolve(s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"[plandump] $name ok (${plan.length} chars)")
      } catch {
        case e: Throwable => failed += 1; println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
