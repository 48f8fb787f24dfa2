package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one workload per process, a closed loop of ops
  * through graft's public calls, timings and probe counters written to a
  * JSON result file that `perfbench/run.py` checks and reports.
  *
  * Flow: set up once, timed from JVM start; run the op `--warm-ops` times
  * untimed; then either time ops for `--seconds` (at least `--min-ops`) or,
  * with `--trace 1`, run the decomposed op once for per-layer numbers.
  */
object Main {
  final case class OpSample(spanId: String, wallS: Double, cpuS: Double, gcS: Double,
                            sinks: Map[String, Long])

  /** Per-layer metrics: span name → measures, in report order. */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "sources.Topics.asTopic" -> Seq("wall_s", "jobs", "task_s"),
    "sources.Serdes.Utf8JsonSerde" -> Seq("wall_s", "self_s", "task_s"),
    "operators.TopicOps.dlqSplit" -> Seq("wall_s", "self_s", "jobs", "task_s", "driver_s"),
    "operators.TopicOps.routeWithDecisions" ->
      Seq("wall_s", "self_s", "jobs", "task_s", "driver_s"),
    "operators.TopicOps.compact" -> Seq("wall_s", "self_s", "shuffle_mb", "spill_mb"),
    "operators.TopicOps.committedOffsets" ->
      Seq("wall_s", "self_s", "jobs", "task_s", "driver_s"),
    "operators.TextOps.qualityExactSurvivors" ->
      Seq("wall_s", "jobs", "task_s", "driver_s", "shuffle_mb"),
    "functions.graft_text_stats" -> Seq("rows_per_s"),
    "operators.Dedup.shingleHashes" -> Seq("wall_s", "self_s", "task_s"),
    "functions.graft_minhash_sig" -> Seq("rows_per_s"),
    "operators.Dedup.minhashPairs" -> Seq("wall_s", "self_s", "jobs", "task_s", "shuffle_mb"),
    "operators.TextOps.cleanCorpusMinhash" -> Seq("wall_s", "self_s", "jobs"),
    "operators.Similarity.fitCentroids" -> Seq("wall_s", "driver_s", "jobs"),
    "operators.Similarity.fitPqCodebooks" -> Seq("wall_s", "driver_s", "jobs"),
    "operators.Similarity.ivfPqTopKFittedSized" -> Seq("wall_s", "jobs", "driver_s", "task_s"),
    "functions.graft_pq_code" -> Seq("rows_per_s"),
    "functions.graft_pq_score" -> Seq("rows_per_s"),
    "functions.graft_dot" -> Seq("rows_per_s"),
    "functions.graft_ivf_bucket" -> Seq("rows_per_s"),
    "operators.Graph.writeKnnEdgeIndex" ->
      Seq("wall_s", "jobs", "task_s", "driver_s", "shuffle_mb"),
    "sources.Bucketing.writeBucketed" -> Seq("wall_s", "jobs", "task_s"),
    "operators.Graph.pageRankFromIndex" -> Seq("wall_s", "jobs", "driver_s"),
    "operators.Graph.diversityMisFromIndex" -> Seq("wall_s", "jobs", "driver_s"),
    "operators.Graph.semDeDupFromIndex" -> Seq("wall_s", "jobs", "driver_s"),
    "operators.Graph.consumerCardFromIndex" -> Seq("wall_s", "jobs", "driver_s"),
    "functions.NativeHash.register" -> Seq("wall_s"),
    "op" -> Seq("wall_s", "jobs", "task_s", "driver_s"))

  /** Named counts a workload reports itself, plus per-op GC time. Besides
    * these and [[Layers]], the traced result holds
    * `session.SparkSession.getOrCreate.wall_s`, timed before the tracer exists.
    */
  val Extra: Seq[String] = Seq(
    "operators.Dedup.minhashPairs.candidates",
    "operators.Dedup.minhashPairs.pairs",
    "operators.Dedup.minhashPairs.pairs_per_candidate",
    "op.gc_s")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4194304")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val out = s"$work/out"
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val wl = Workload(a("workload"), a("input"), a)

    // set-up, once, from JVM start: what a one-shot command pays before its op
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val tr = new Tracer(spark.sparkContext, probe)
    tr.span("functions.NativeHash.register") { graft.functions.NativeHash.register(spark) }
    wl.setup(spark, tr)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    var attempted = 0
    var failed = 0
    var opIndex = 0
    // one op (or, traced, one round: the decomposed calls, then the op);
    // the sinks are read off the op's own span
    def runOp(outer: String)(body: Int => Unit): Option[OpSample] = {
      val i = opIndex
      opIndex += 1
      attempted += 1
      val c0 = cpuNs
      val g0 = gcMs
      val t0 = System.nanoTime()
      try {
        tr.span(outer) { body(i) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs - c0) / 1e9
        val gc = (gcMs - g0) / 1e3
        tr.drain()
        val sinks = tr.last("op").filter(_.t0 >= t0).toSeq.flatMap { op =>
          tr.spans.filter(x => x.parent.contains(op.id) && x.name.startsWith("sink."))
            .map(x => x.name.stripPrefix("sink.") -> tr.totals(x).recordsWritten)
        }.toMap
        Some(OpSample(tr.last(outer).get.id, wall, cpu, gc, sinks))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
          None
      }
    }
    def realOp(i: Int): Unit = wl.op(spark, tr, i, out)

    val warm = mutable.ArrayBuffer[OpSample]()
    val timed = mutable.ArrayBuffer[OpSample]()
    val layer = mutable.LinkedHashMap[String, Double]()
    // warm-up: a fixed count of untimed ops, so that every run times its
    // ops at the same point of the JIT's warm-up curve
    for (_ <- 0 until a("warm-ops").toInt) runOp("op")(realOp).foreach(warm += _)

    if (!trace) {
      val t0 = System.nanoTime()
      val minOps = a("min-ops").toInt
      var n = 0
      while (n < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
        runOp("op")(realOp).foreach(timed += _)
        n += 1
      }
    } else {
      var extra = Map.empty[String, Double]
      runOp("round") { i =>
        extra = wl.traced(spark, tr, i)
        val g0 = gcMs
        tr.span("op") { realOp(i) }
        extra += "op.gc_s" -> (gcMs - g0) / 1e3
      }.foreach(timed += _)
      // workloads without a timed run of their own (README: run budget)
      // are traced here once each, after their own set-up
      a.get("also").toSeq.flatMap(_.split(";")).foreach { spec =>
        val Array(name, in, n) = spec.split("\\|")
        val w = Workload(name, in, Map("n" -> n))
        w.setup(spark, tr)
        runOp("round") { i => extra ++= w.traced(spark, tr, i) }.foreach(timed += _)
      }
      tr.drain()
      // spans of the traced rounds, and set-up spans (no parent)
      val roundIds = timed.map(_.spanId).toSet
      Layers.foreach { case (name, measures) =>
        val spans = tr.spans.filter(s => s.name == name && s.parent.forall(roundIds.contains)).toSeq
        measures.foreach { m =>
          val vals = spans.map { s =>
            val t = tr.totals(s)
            m match {
              case "wall_s" => t.wallS
              case "jobs" => t.jobs.toDouble
              case "task_s" => t.taskS
              case "driver_s" => t.driverS
              case "shuffle_mb" => t.shuffleMb
              case "spill_mb" => t.spillMb
              case "self_s" =>
                val in = s.input.flatMap(n =>
                  tr.spans.filter(x => x.name == n && x.parent == s.parent).lastOption)
                math.max(0.0, t.wallS - in.map(_.wallS).getOrElse(0.0))
              case "rows_per_s" => if (t.taskS > 0) s.rows / t.taskS else 0.0
            }
          }
          layer(s"$name.$m") = median(vals)
        }
      }
      layer("session.SparkSession.getOrCreate.wall_s") = sessionS
      Extra.foreach(k => layer(k) = extra.getOrElse(k, 0.0))
    }

    // a failed finish leaves outputs missing, which fails the checks
    try wl.finish(spark, tr, out)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] finish failed: $e")
        e.printStackTrace()
    }
    val rssKb = peakRssKb
    spark.stop()

    def samples(xs: Seq[OpSample]): String = xs.map { s =>
      s"""{"wall_s": ${num(s.wallS)}, "cpu_s": ${num(s.cpuS)}, "gc_s": ${num(s.gcS)}, """ +
        s""""sinks": {${s.sinks.toSeq.sortBy(_._1).map { case (k, v) => s"${js(k)}: $v" }.mkString(", ")}}}"""
    }.mkString("[", ", ", "]")
    val json =
      s"""{"workload": ${js(a("workload"))}, "items": ${wl.items}, "cores": $cores, """ +
        s""""setup_s": ${num(setupS)}, """ +
        s""""warm": ${samples(warm.toSeq)}, "timed": ${samples(timed.toSeq)}, """ +
        s""""attempted": $attempted, "failed": $failed, "peak_rss_kb": $rssKb, """ +
        s""""layers": {${layer.map { case (k, v) => s"${js(k)}: ${num(v)}" }.mkString(", ")}}}"""
    val path = java.nio.file.Paths.get(a("result"))
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))
  }
}
