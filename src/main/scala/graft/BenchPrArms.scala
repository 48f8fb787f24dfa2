package graft
import org.apache.spark.sql.functions.col

/** Dev tool: time BOTH arms of the N-adaptive pagerank broadcast switch
  * (r15 VERDICT #1) on the co-purchase graph at a given sf dir, and
  * assert the arms produce bit-identical rank tables — the at-scale
  * counterpart of GraphSpec's forced-arm equality.
  *
  *   sbt -batch "runMain graft.BenchPrArms /root/repo/target/sf1"
  *
  * Prints one line per arm: wall (min of reps) + row count, then the
  * symmetric-difference count (must be 0).
  */
object BenchPrArms {
  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the printed table
    spark.sparkContext.setLogLevel("ERROR")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    def time(label: String, budget: Long): org.apache.spark.sql.DataFrame = {
      var last: org.apache.spark.sql.DataFrame = null
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        last = operators.Graph.pageRankAdjacency(
          operators.Graph.coPurchaseEdges(lineitem), rounds = 5,
          symmetric = true, broadcastMaxNodes = Some(budget))
        // output is eagerly localCheckpointed — the wall is the build
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[pr-arms] $label%-10s min=${ts.min}%.3f " +
        f"all=${ts.map(t => f"$t%.2f").mkString(",")} nodes=${last.count()}")
      last
    }
    val bcast = time("broadcast", Long.MaxValue)
    val shuffle = time("shuffle", 0L)
    val diff = bcast.exceptAll(shuffle).count() + shuffle.exceptAll(bcast).count()
    println(s"[pr-arms] symmetric-difference rows: $diff " +
      (if (diff == 0) "(arms bit-identical)" else "(MISMATCH)"))
    spark.stop()
    if (diff != 0) sys.exit(1)
  }
}
