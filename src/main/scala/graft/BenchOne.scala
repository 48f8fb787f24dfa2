package graft

/** Dev tool: time a comma-separated subset of SparkEntry.queries on a
  * warm session (same harness shape as Bench, min of reps) without
  * paying the full headliner sweep — for iterating on one operator.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val Array(names, sfDir) = args
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the printed table
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[bench-one] $name%-32s min=${ts.min}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
