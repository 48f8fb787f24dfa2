package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TopicOps}
import graft.sources.{Tables, Topics}

/** Spark jobs per call on the timed benchmark paths: the fitted IVF-PQ
  * serving call and the topic-drain verbs. Each count covers building the
  * frame (counts, fit collects) and running it to the no-op sink, so a
  * call that gains a job fails here by name. Inputs are loaded before the
  * count starts (a bare `spark.read.parquet` runs its own schema job;
  * `Tables.load` runs none, pinned below).
  */
class JobBudgetSpec extends SparkSpec {

  private val Key = "graft.spec.jobBudget"
  private val ids = new AtomicInteger(0)

  /** Jobs submitted while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"call-${ids.incrementAndGet()}"
    val seen = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag) seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      try body
      finally sc.setLocalProperty(Key, null)
      org.apache.spark.SpecBus.drain(sc)
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs submitted while `body` builds its frame and the frame runs. */
  private def jobsOf(body: => DataFrame): Int =
    jobsDuring(body.write.format("noop").mode("overwrite").save())

  // the refine is scored at generation: no shortlist-join broadcasts
  test("fitted IVF-PQ serving runs in at most 5 jobs: no count job, one fit collect") {
    val emb = Tables.load(spark, sf, "embeddings")
    val jobs = jobsOf(Similarity.ivfPqTopKFittedSized(emb, col("vec_id") < 8, k = 10))
    info(s"ivfPqTopKFittedSized: $jobs jobs")
    assert(jobs <= 5, s"ivfPqTopKFittedSized ran $jobs jobs (budget 5)")
  }

  test("PQ-compact MIPS serving runs in at most 6 jobs: one max-norm job, " +
      "the refine scored at generation") {
    val emb = Tables.load(spark, sf, "embeddings")
    val jobs = jobsOf(Similarity.mipsIvfPqTopK(emb, col("vec_id") < 8, k = 10))
    info(s"mipsIvfPqTopK: $jobs jobs")
    assert(jobs <= 6, s"mipsIvfPqTopK ran $jobs jobs (budget 6)")
  }

  test("Tables.load runs no job: the schema is read from a footer on the driver") {
    for (name <- Tables.names) {
      val jobs = jobsDuring { Tables.load(spark, sf, name) }
      assert(jobs === 0, s"Tables.load($name) ran $jobs jobs")
    }
    assert(jobsDuring { spark.read.parquet(s"$sf/embeddings.parquet") } > 0,
      "a bare spark.read.parquet infers its schema in a job")
  }

  test("topic-drain verbs hold their job counts: routeWithDecisions, compact, " +
      "committedOffsets") {
    val topic = Topics.events(spark, sf)
    val decisions = topic.filter(col("offset") % 3 === 0)
      .select(col("topic"), col("partition"), col("offset"),
        when(col("offset") % 2 === 0, "merge").otherwise("purge").as("action"))
    val route = jobsOf(TopicOps.routeWithDecisions(topic, decisions, "events.v2"))
    val compact = jobsOf(TopicOps.compact(topic))
    val offsets = jobsOf(TopicOps.committedOffsets(topic, "spec"))
    info(s"routeWithDecisions $route, compact $compact, committedOffsets $offsets jobs")
    assert(route === 4, "routeWithDecisions job count")
    assert(compact === 2, "compact job count")
    assert(offsets === 2, "committedOffsets job count")
  }

  test("Tables.rowCount: footer sums with no job on a bare Parquet scan, count() " +
      "otherwise; equal to count() on a bare scan, a multi-file directory, a " +
      "filtered frame and a partitioned table") {
    val root = java.nio.file.Files.createTempDirectory("graft-rowcount")
    try {
      val emb = Tables.load(spark, sf, "embeddings")
      val multi = s"$root/multi"
      emb.repartition(3).write.parquet(multi)
      val parted = s"$root/parted"
      emb.withColumn("part", col("vec_id") % 4).write.partitionBy("part").parquet(parted)
      val frames = Seq(
        "bare scan" -> emb,
        "multi-file directory" -> spark.read.parquet(multi),
        "filtered" -> emb.filter(col("vec_id") % 3 === 0),
        "partitioned" -> spark.read.parquet(parted))
      for ((name, df) <- frames) {
        var n = -1L
        val jobs = jobsDuring { n = Tables.rowCount(df) }
        assert(n === df.count(), name)
        if (name == "bare scan" || name == "multi-file directory")
          assert(jobs === 0, s"$name: footers are read on the driver")
        else assert(jobs > 0, s"$name: falls back to count()")
      }
      assert(spark.read.parquet(multi).inputFiles.length >= 3)
    } finally {
      val fs = java.nio.file.Files.walk(root)
      try fs.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally fs.close()
    }
  }
}
