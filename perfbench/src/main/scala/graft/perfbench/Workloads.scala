package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Similarity, TextOps, TopicOps}
import graft.sources.{Bucketing, Serdes, Topics}

/** One benchmark workload: a set-up, an op the closed loop repeats, and a
  * decomposed form of the op for the traced run. Every op writes real
  * parquet sinks under `out`; each write runs in a `sink.<name>` span so
  * the probe counts the records each sink received.
  */
trait Workload {
  /** Items one op processes (records, documents, queries or nodes). */
  def items: Long
  def setup(spark: SparkSession, tr: Tracer): Unit
  def op(spark: SparkSession, tr: Tracer, i: Int, out: String): Unit
  /** The op's layer calls, each materialized to the no-op sink in its own
    * span. Returns named counts the spans cannot give (candidate pairs).
    */
  def traced(spark: SparkSession, tr: Tracer, i: Int): Map[String, Double]
  /** Extra outputs the checks need, written once after the timed ops. */
  def finish(spark: SparkSession, tr: Tracer, out: String): Unit = ()
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def write(tr: Tracer, df: DataFrame, out: String, name: String): Unit =
    tr.span(s"sink.$name") { df.write.mode("overwrite").parquet(s"$out/$name") }

  def apply(name: String, input: String, p: Map[String, String]): Workload = name match {
    case "topic_drain" => new TopicDrain(input, p("n").toLong)
    case "corpus_clean" => new CorpusClean(input, p("n").toLong)
    case "ann_serve" => new AnnServe(input, p("qbatch").toInt, p("nbatches").toInt)
    case "knn_graph" => new KnnGraph(input, p("n").toLong)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workload.{noop, write}

/** Drain of a keyed log: decode, DLQ split, routing against a decisions
  * table, compaction of the post-drain log and the committed offsets —
  * the `dlq` and `ask` verbs of the command line, back to back.
  */
final class TopicDrain(input: String, n: Long) extends Workload {
  val items: Long = n
  private val dest = "events_merged"
  private val dlqDest = "events_dlq"
  /** Produced records land after every source offset in the post-drain log. */
  private val offsetShift = 1000000000000L
  private val valueSerde = Serdes.Utf8JsonSerde
  private val keySerde = Serdes.Utf8LongKeySerde

  def setup(spark: SparkSession, tr: Tracer): Unit = ()

  private def decisions(spark: SparkSession) =
    spark.read.parquet(s"$input/decisions.parquet")

  private def decode(src: DataFrame): DataFrame =
    TopicOps.serdeView(src, valueSerde.decoded(col("raw")) ++ keySerde.decoded(col("key_raw")))

  private def split(view: DataFrame): DataFrame =
    TopicOps.dlqSplit(view, valueSerde.error(col("raw")), keySerde.error(col("key_raw")))

  private def postDrain(src: DataFrame, produced: DataFrame): DataFrame =
    src.select("topic", "partition", "key", "offset", "value", "ts")
      .unionByName(produced.select(col("topic"), col("partition"), col("key"),
        (col("src_offset") + offsetShift).as("offset"), col("value"),
        lit(null).cast("timestamp").as("ts")))

  def op(spark: SparkSession, tr: Tracer, i: Int, out: String): Unit = {
    val src = Topics.events(spark, input)
    // as the command line's `dlq` verb: the routed view is written once and
    // both sinks read it back, so the split plan is evaluated once
    write(tr, split(decode(src)).withColumn("dlq_topic",
      when(col("sink") === "dlq", lit(dlqDest))), out, "routed")
    val routed = spark.read.parquet(s"$out/routed")
    write(tr, routed.filter(col("sink") === "dlq"), out, "dlq")
    write(tr, routed.filter(col("sink") === "clean").drop("dlq_topic"), out, "clean")
    val clean = spark.read.parquet(s"$out/clean")
    write(tr, TopicOps.routeWithDecisions(clean, decisions(spark), dest), out, "produced")
    val produced = spark.read.parquet(s"$out/produced")
    write(tr, TopicOps.compact(postDrain(src, produced)), out, "compacted")
    write(tr, TopicOps.committedOffsets(src, "perfbench"), out, "offsets")
  }

  def traced(spark: SparkSession, tr: Tracer, i: Int): Map[String, Double] = {
    val src = Topics.events(spark, input)
    tr.span("sources.Topics.asTopic") { noop(src) }
    val view = decode(src).withColumn("value_error", valueSerde.error(col("raw")))
    tr.span("sources.Serdes.Utf8JsonSerde", "sources.Topics.asTopic") { noop(view) }
    val sp = split(decode(src))
    tr.span("operators.TopicOps.dlqSplit", "sources.Serdes.Utf8JsonSerde") { noop(sp) }
    val routed = TopicOps.routeWithDecisions(sp.filter(col("sink") === "clean"),
      decisions(spark), dest)
    tr.span("operators.TopicOps.routeWithDecisions", "operators.TopicOps.dlqSplit") {
      noop(routed)
    }
    tr.span("operators.TopicOps.compact", "operators.TopicOps.routeWithDecisions") {
      noop(TopicOps.compact(postDrain(src, routed)))
    }
    tr.span("operators.TopicOps.committedOffsets", "sources.Topics.asTopic") {
      noop(TopicOps.committedOffsets(src, "perfbench"))
    }
    Map.empty
  }
}

/** The corpus-cleaning headline: quality filter, exact dedup, banded
  * MinHash near-dup removal with exact verification.
  */
final class CorpusClean(input: String, n: Long) extends Workload {
  val items: Long = n
  private val tau = 0.5
  private var kEst = Dedup.MinhashK

  private def docs(spark: SparkSession) = spark.read.parquet(s"$input/documents.parquet")

  def setup(spark: SparkSession, tr: Tracer): Unit =
    kEst = Dedup.sizedEstK(docs(spark).count())

  def op(spark: SparkSession, tr: Tracer, i: Int, out: String): Unit =
    write(tr, TextOps.cleanCorpusMinhash(docs(spark), tau = tau, kEst = kEst), out, "clean")

  def traced(spark: SparkSession, tr: Tracer, i: Int): Map[String, Double] = {
    val d = docs(spark)
    tr.span("functions.graft_text_stats", rows = n) {
      noop(d.select(expr("graft_text_stats(text)")))
    }
    val qe = TextOps.qualityExactSurvivors(d)
    tr.span("operators.TextOps.qualityExactSurvivors") { noop(qe) }
    val hashes = Dedup.shingleHashes(qe)
    tr.span("operators.Dedup.shingleHashes", "operators.TextOps.qualityExactSurvivors") {
      noop(hashes)
    }
    val hs = hashes.persist()
    tr.span("functions.graft_minhash_sig", rows = hs.count()) {
      noop(hs.select(expr(s"graft_minhash_sig(hs, $kEst)")))
    }
    hs.unpersist()
    tr.span("operators.Dedup.minhashPairs", "operators.TextOps.qualityExactSurvivors") {
      noop(Dedup.minhashPairs(qe, tau, 4, kEst))
    }
    tr.span("operators.TextOps.cleanCorpusMinhash", "operators.Dedup.minhashPairs") {
      noop(TextOps.cleanCorpusMinhash(d, tau = tau, kEst = kEst))
    }
    // candidate pairs the banding admits vs pairs verified at tau; an
    // extra evaluation, outside every span
    val card = Dedup.sizingCard(qe, tau, 4, n).head()
    val cand = card.getAs[Long]("cand_banded").toDouble
    val pairs = card.getAs[Long]("pairs_verified").toDouble
    Map("operators.Dedup.minhashPairs.candidates" -> cand,
      "operators.Dedup.minhashPairs.pairs" -> pairs,
      "operators.Dedup.minhashPairs.pairs_per_candidate" ->
        (if (cand > 0) pairs / cand else 0.0))
  }
}

/** Fitted IVF-PQ serving: each op answers a fresh batch of queries, the
  * call fitting its coarse and residual books on the corpus.
  */
final class AnnServe(input: String, qbatch: Int, nbatches: Int) extends Workload {
  val items: Long = qbatch.toLong
  private def emb(spark: SparkSession) = spark.read.parquet(s"$input/embeddings.parquet")

  private def isQuery(i: Int) = {
    val b = (i % nbatches).toLong
    col("vec_id") >= b * qbatch && col("vec_id") < (b + 1) * qbatch
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = ()

  def op(spark: SparkSession, tr: Tracer, i: Int, out: String): Unit =
    write(tr, Similarity.ivfPqTopKFittedSized(emb(spark), isQuery(i), k = 10),
      out, s"topk/batch=${i % nbatches}")

  def traced(spark: SparkSession, tr: Tracer, i: Int): Map[String, Double] = {
    val e = emb(spark)
    val n = e.count()
    val cents = tr.span("operators.Similarity.fitCentroids") {
      Similarity.fitCentroids(e, Similarity.sizedNlist(n), 3)
    }
    val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    tr.span("operators.Similarity.fitPqCodebooks") {
      Similarity.fitPqCodebooks(e, cents, cnorms)
    }
    tr.span("operators.Similarity.ivfPqTopKFittedSized") {
      noop(Similarity.ivfPqTopKFittedSized(e, isQuery(i), k = 10))
    }
    Kernels.vectorKernels(e, tr, withPq = true)
    Map.empty
  }
}

/** kNN graph: the bulk all-vectors kNN self-join builds the edge index in
  * set-up; each op runs the combined consumer card off that index.
  */
final class KnnGraph(input: String, n: Long) extends Workload {
  val items: Long = n
  val table = "perfbench_knn"
  private val tau = 0.4
  private def emb(spark: SparkSession) = spark.read.parquet(s"$input/embeddings.parquet")

  def setup(spark: SparkSession, tr: Tracer): Unit =
    tr.span("operators.Graph.writeKnnEdgeIndex") { Graph.writeKnnEdgeIndex(emb(spark), table) }

  def op(spark: SparkSession, tr: Tracer, i: Int, out: String): Unit =
    write(tr, Graph.consumerCardFromIndex(spark, emb(spark), table, tau = tau), out, "card")

  def traced(spark: SparkSession, tr: Tracer, i: Int): Map[String, Double] = {
    val e = emb(spark)
    tr.span("sources.Bucketing.writeBucketed") {
      Bucketing.writeBucketed(spark.table(table), s"${table}_copy",
        Graph.sizedIndexBuckets(spark), "src")
    }
    tr.span("operators.Graph.pageRankFromIndex") { noop(Graph.pageRankFromIndex(spark, table)) }
    tr.span("operators.Graph.diversityMisFromIndex") {
      noop(Graph.diversityMisFromIndex(spark, table))
    }
    tr.span("operators.Graph.semDeDupFromIndex") {
      noop(Graph.semDeDupFromIndex(spark, e, table, tau))
    }
    tr.span("operators.Graph.consumerCardFromIndex") {
      noop(Graph.consumerCardFromIndex(spark, e, table, tau = tau))
    }
    Kernels.vectorKernels(e, tr, withPq = false)
    Map.empty
  }

  override def finish(spark: SparkSession, tr: Tracer, out: String): Unit = {
    write(tr, Graph.pageRankFromIndex(spark, table), out, "pagerank")
    write(tr, Graph.diversityMisFromIndex(spark, table), out, "mis")
    write(tr, Graph.semDeDupFromIndex(spark, emb(spark), table, tau), out, "semdedup")
  }
}

/** Throughput probes of the native vector kernels over the corpus: each
  * kernel alone over a persisted normalized view, rows per task-second.
  */
object Kernels {
  def vectorKernels(emb: DataFrame, tr: Tracer, withPq: Boolean): Unit = {
    val v = Similarity.vectors(emb).persist()
    val n = v.count()
    tr.span("functions.graft_dot", rows = n) { noop(v.select(expr("graft_dot(e, e)"))) }
    tr.span("functions.graft_ivf_bucket", rows = n) {
      noop(v.select(expr("graft_ivf_bucket(e)")))
    }
    if (withPq) {
      tr.span("functions.graft_pq_code", rows = n) { noop(v.select(expr("graft_pq_code(e)"))) }
      val coded = v.select(col("e"), expr("graft_ivf_bucket(e)").as("bucket"),
        expr("graft_pq_code(e)").as("codes")).persist()
      coded.count()
      tr.span("functions.graft_pq_score", rows = n) {
        noop(coded.select(expr("graft_pq_score(e, bucket, codes)")))
      }
      coded.unpersist()
    }
    v.unpersist()
  }
}
