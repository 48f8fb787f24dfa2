package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The one session bootstrap: its environment parse, the guard that keeps
  * every main on it, the config the spec suite inherits from it, and the
  * row-equality check the graft.Check stream gates share.
  */
class GraftSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS parses to a positive thread count, default 32") {
    assert(GraftSession.parseCpus(None) === 32)
    assert(GraftSession.parseCpus(Some("8")) === 8)
    assert(GraftSession.parseCpus(Some(" 1 ")) === 1)
  }

  test("a malformed SPARK_GRAFT_CPUS fails naming the variable, before any session") {
    for (bad <- Seq("abc", "", "0", "-4", "2.5", "4x")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("no main builds its own session: only GraftSession calls the session builder") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSeq
    assert(offenders.isEmpty, s"build sessions through GraftSession.local: $offenders")
  }

  test("the spec session carries GraftSession's config") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(conf.get("spark.sql.files.maxPartitionBytes").stripSuffix("b") === "4194304")
    assert(conf.get("spark.sql.warehouse.dir").endsWith("target/spark-warehouse"))
    assert(conf.get("spark.ui.enabled") === "false")
  }

  test("sameRows is multiset equality: a duplicated or a missing row fails it") {
    import spark.implicits._
    val want = Seq((1, "a"), (2, "b"), (2, "b"), (3, "c")).toDF("id", "v")
    val reordered = Seq((3, "c"), (2, "b"), (1, "a"), (2, "b")).toDF("id", "v")
    val duplicated = Seq((1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "c")).toDF("id", "v")
    val missing = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    assert(GraftSession.sameRows("[spec]", "equal", reordered, want))
    assert(!GraftSession.sameRows("[spec]", "equal", duplicated, want))
    assert(!GraftSession.sameRows("[spec]", "equal", missing, want))
  }
}
