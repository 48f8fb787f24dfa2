package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{AsOf, Graph, Pca, Similarity, TextOps, TopicOps}
import graft.sources.{Tables, Topics}
import graft.streaming.{AsOfStream, DedupStream, GraphStream, ImportanceStream, PcaStream,
  SimilarityStream, TopicStream}

/** The at-scale gates: every check that carries an oracle-gated answer
  * past the scales the DuckDB oracles reach (they stop at sf0.1, some
  * at sf1). Two kinds share one table and one harness:
  *
  *  - stream gates (r15–r16) replay one twin multi-batch through the
  *    file-stream transport and check its batched union ROW FOR ROW
  *    against a reference: the batch operator, or, for the watermarked
  *    and windowed twins, the single-batch replay the DuckDB oracle
  *    gates. They carry "a streaming surface never changes answers" to
  *    sf1+, where the bucketed probes, the state stores and the
  *    foreachBatch paths take their at-scale plans;
  *  - replay gates (r12–r17b) rebuild a graph, dedup or PQ serving
  *    answer on the driver from the collected edge, pair or vector
  *    list the operator consumed ([[CheckReplays]]) and require
  *    bit-equality, where the oracle's recursive closure or list folds
  *    run out of memory.
  *
  * Usage: runMain graft.Check <sfDir> [gate,…] (default: every gate, in
  * table order). Exits nonzero if any gate fails or throws. sf10: the
  * scd2 state store carries ~25M keys and the kNN candidate sort needs
  * the heap — run with SPARK_DRIVER_MEM=48g.
  */
object Check {

  /** One gate: a run over (session, sf dir) that prints what it compared
    * and returns whether the two sides agree. A gate that builds a kNN
    * edge index sets `buildsIndex`: the index's candidate sort is the
    * run's disk and heap peak, so [[GatePreflight]] checks the box
    * before the session starts.
    */
  final case class Gate(name: String, run: (SparkSession, String) => Boolean,
                        buildsIndex: Boolean = false)

  private val Union = "stream union == batch"

  /** A stream gate over the columns `cols`. The stream side runs first —
    * the `mis` reference reads the edge index its stream side fitted.
    * Each side is timed, counted and cached, then compared with
    * [[GraftSession.sameRows]]; both are unpersisted even when a side
    * throws.
    */
  def compare(name: String, cols: Seq[String], label: String,
              stream: (SparkSession, String) => DataFrame,
              reference: (SparkSession, String) => DataFrame): Gate =
    Gate(name, (spark, sf) => {
      val cached = ArrayBuffer.empty[DataFrame]
      def timed(side: (SparkSession, String) => DataFrame): (DataFrame, Long, Double) = {
        val t0 = System.nanoTime()
        val df = side(spark, sf).select(cols.map(col): _*)
        cached += df.cache()
        (df, df.count(), (System.nanoTime() - t0) / 1e9)
      }
      val tag = s"[check] $name"
      try {
        val (got, nGot, tGot) = timed(stream)
        val (want, nWant, tWant) = timed(reference)
        println(f"$tag stream $nGot rows in $tGot%.1f s (fit included), " +
          f"reference $nWant rows in $tWant%.1f s")
        GraftSession.sameRows(tag, label, got, want)
      } finally cached.foreach(_.unpersist())
    })

  private def scratch(name: String, sfDir: String): (String, String) =
    TopicStream.scratchDirs(s"check_stream_$name", sfDir)

  /** A twin replayed as 3 TIME-ordered micro-batches against its own
    * single-batch replay. Equal event-time ranges make cross-batch
    * disorder zero: an id-ordered split would deliver events behind the
    * running watermark, which a watermarked twin correctly drops — a
    * different answer by design. Under zero disorder every session,
    * window and per-user frame closes on the same rows however the input
    * was cut, so the gate exercises the state carried across triggers.
    */
  private def splitGate(name: String, cols: String*)(
      run: (SparkSession, String, String, String, Option[Int]) => DataFrame): Gate =
    compare(name, cols, "multi-batch == single-batch",
      (spark, sf) => {
        val (out, ckpt) = scratch(s"${name}_multi", sf)
        val split = TopicStream.timeOrderedSplitInput(spark, s"$sf/events.parquet", 3,
          s"$out-input")
        run(spark, split, out, ckpt, Some(1))
      },
      (spark, sf) => {
        val (out, ckpt) = scratch(s"${name}_single", sf)
        run(spark, s"$sf/events.parquet", out, ckpt, None)
      })

  val gates: Seq[Gate] = Seq(
    // the stream fits the edge index + MIS once, so comparing on the SAME
    // index isolates the per-trigger assignment path
    compare("mis", Seq("vec_id", "rep_id", "cos", "is_rep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("mis", sf)
        GraphStream.misAssignStream(spark, s"$sf/embeddings.parquet", out, ckpt,
          splits = 3, tablePrefix = "graft_check_stream_mis")
      },
      (spark, _) => Graph.misAssignFromIndex(spark, "graft_check_stream_mis_idx")),
    // a single-file sf table streams as ONE trigger; re-shard to 4 files
    // so the PQ-MIPS server replays genuinely multi-batch
    compare("sim", Seq("query_id", "corpus_id", "ip", "rnk"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("sim", sf)
        val embDir = s"$out-input"
        Tables.load(spark, sf, "embeddings").repartition(4)
          .write.mode("overwrite").parquet(embDir)
        SimilarityStream.mipsIvfPqTopKStream(spark, embDir, out, ckpt,
          maxFilesPerTrigger = Some(1), tablePrefix = "graft_check_stream_sim")
      },
      (spark, sf) => Similarity.mipsIvfPqTopKSized(
        Tables.load(spark, sf, "embeddings"), col("vec_id") < 8)),
    // the survivor/shingle indexes are fitted from the full corpus, so
    // every content hash is index-known and the replay is arrival-order
    // independent; the ascending-id split mirrors the production shape
    compare("clean", Seq("doc_id", "quality"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("clean", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/documents.parquet", 3,
          s"$out-input", idCol = "doc_id")
        DedupStream.cleanIngestStream(spark, split, out, ckpt,
          maxFilesPerTrigger = Some(1), tablePrefix = "graft_check_stream_clean")
      },
      (spark, sf) => TextOps.cleanCorpus(spark.read.parquet(s"$sf/documents.parquet"))),
    // pqCodeDedupStream splits its own input into ordered chunks
    compare("pq_dedup", Seq("vec_id", "bucket", "codes_str", "n_same", "rep_id", "keep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("pq_dedup", sf)
        SimilarityStream.pqCodeDedupStream(spark, s"$sf/embeddings.parquet", out, ckpt,
          tablePrefix = "graft_check_stream_pq_dedup")
      },
      (spark, sf) => Similarity.pqCodeDedup(Tables.load(spark, sf, "embeddings"))),
    // the two stateless scoring twins: both fit offline from the full
    // corpus and score per trigger
    compare("importance", Seq("doc_id", "n_sh", "importance_num", "importance", "keep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("importance", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/documents.parquet", 3,
          s"$out-input", idCol = "doc_id")
        ImportanceStream.importanceStream(spark, sf, out, ckpt,
          maxFilesPerTrigger = Some(1), docsPath = Some(split))
      },
      (spark, sf) => TextOps.importanceWeights(
        Tables.load(spark, sf, "documents"), col("doc_id") % 97 === 0)),
    compare("pca_score", Seq("vec_id", "proj_fp"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("pca_score", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/embeddings.parquet", 3,
          s"$out-input", idCol = "vec_id")
        PcaStream.pcaScoreStream(spark, sf, out, ckpt,
          maxFilesPerTrigger = Some(1), embPath = Some(split))
      },
      (spark, sf) => Pca.project(Tables.load(spark, sf, "embeddings"))),
    splitGate("session",
      "user_id", "session_start", "session_end", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.sessionizeStream(spark, path, out, ckpt, mf)
    },
    // an OFFSET-ordered 4-chunk replay (the Kafka per-partition ordering
    // contract on the file source) must emit exactly the batch history's
    // CLOSED live versions
    compare("scd2", Seq("topic", "partition", "key", "value", "seq",
        "valid_from_offset", "valid_to_offset", "valid_from_ts", "valid_to_ts"),
      "stream union == batch closed versions",
      (spark, sf) => {
        val (out, ckpt) = scratch("scd2", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/events.parquet", 4,
          s"$out-input")
        TopicStream.scdStream(spark, split, out, ckpt, maxFilesPerTrigger = Some(1))
      },
      (spark, sf) => TopicOps.scd2(Topics.events(spark, sf))
        .filter(col("value").isNotNull && col("valid_to_offset").isNotNull)),
    compare("funnel", Seq("event_id", "user_id", "ts", "value",
        "click_id", "click_ts", "view_id", "view_ts", "funnel_depth"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("funnel", sf)
        AsOfStream.funnelStream(spark, sf, out, ckpt, tablePrefix = "graft_check_funnel")
      },
      (spark, sf) => {
        val e = Tables.load(spark, sf, "events")
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val s1 = AsOf.joinAsOf(p, c, key = Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts", tieBreak = Seq("click_id"))
        AsOf.joinAsOf(s1, v, key = Seq("user_id"),
            leftTime = "click_ts", rightTime = "view_ts", tieBreak = Seq("view_id"))
          .withColumn("funnel_depth", lit(1L) +
            col("click_id").isNotNull.cast("long") + col("view_id").isNotNull.cast("long"))
      }),
    compare("asof", Seq("event_id", "user_id", "ts", "value",
        "click_id", "click_ts", "click_value"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("asof", sf)
        AsOfStream.asofStream(spark, sf, out, ckpt, tablePrefix = "graft_check_asof")
      },
      (spark, sf) => {
        val (p, c) = queries.AnalyticsQueries.asofSides(spark, sf)
        AsOf.joinAsOf(p, c, key = Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts", tieBreak = Seq("click_id"))
      }),
    splitGate("window", "hour", "event_type", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.windowStream(spark, path, out, ckpt, mf)
    },
    splitGate("window_hopping", "w_start", "event_type", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.hoppingStream(spark, path, out, ckpt, mf)
    },
    splitGate("moving_agg", "event_id", "user_id", "cents", "running_cents",
      "trail5_cents", "n_seen") {
      (spark, path, out, ckpt, mf) => TopicStream.movingAggStream(spark, path, out, ckpt, mf)
    },
    // the driver replays: each rebuilds its operator's answer from a
    // collected edge, pair or vector list (see CheckReplays)
    Gate("knn_mis", CheckReplays.knnMis, buildsIndex = true),
    Gate("card", CheckReplays.card, buildsIndex = true),
    Gate("semdedup", CheckReplays.semDedup, buildsIndex = true),
    Gate("components", CheckReplays.components),
    Gate("pq", CheckReplays.pq),
    Gate("triangle", CheckReplays.triangle, buildsIndex = true))

  /** The gates `names` picks, comma-separated (every gate, in table
    * order, when absent). An unknown name throws here, before any
    * preflight or session.
    */
  def select(names: Option[String]): Seq[Gate] = names match {
    case None => gates
    case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
      gates.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"unknown gate '$n' (gates: ${gates.map(_.name).mkString(",")})"))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2, "usage: Check <sfDir> [gate,…]")
    val sfDir = args(0)
    val chosen = select(args.lift(1))
    if (chosen.exists(_.buildsIndex)) GatePreflight.run(sfDir, main = "check")
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the verdicts
    spark.sparkContext.setLogLevel("ERROR")
    val failed = runAll(spark, sfDir, chosen)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Runs `chosen` in order, timing each gate; a gate that throws fails
    * and the next one still runs. Prints `N/M gates pass` and returns
    * the names of the gates that failed.
    */
  def runAll(spark: SparkSession, sfDir: String, chosen: Seq[Gate]): Seq[String] = {
    val failed = chosen.filterNot { g =>
      val t0 = System.nanoTime()
      val ok = try g.run(spark, sfDir) catch {
        case NonFatal(e) =>
          println(s"[check] ${g.name} FAILED: $e")
          e.printStackTrace()
          false
      }
      println(f"[check] ${g.name} ${if (ok) "pass" else "FAIL"} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      ok
    }.map(_.name)
    println(s"[check] ${chosen.size - failed.size}/${chosen.size} gates pass" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(",")}"))
    failed
  }
}
