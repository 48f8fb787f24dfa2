package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{AsOf, Graph, Pca, Similarity, TextOps, TopicOps}
import graft.sources.{Tables, Topics}
import graft.streaming.{AsOfStream, DedupStream, GraphStream, ImportanceStream, PcaStream,
  SimilarityStream, TopicStream}

/** At-scale equality gates for the stream twins (r15–r16). Each gate
  * replays one twin multi-batch through the file-stream transport and
  * checks its batched union ROW FOR ROW against a reference: the batch
  * operator, or, for the watermarked and windowed twins, the
  * single-batch replay the DuckDB oracle gates. The oracles stop at
  * sf0.1; the gates carry "a streaming surface never changes answers"
  * to sf1+, where the bucketed probes, the state stores and the
  * foreachBatch paths take their at-scale plans.
  *
  * Usage: runMain graft.CheckStream <sfDir> [gate,…] (default: every
  * gate, in table order). Exits nonzero if any gate mismatches or
  * throws. sf10: the scd2 state store carries ~25M keys — run with
  * SPARK_DRIVER_MEM=48g.
  */
object CheckStream {

  /** One gate: the columns compared, what equality means, and the two
    * sides over an sf dir. The stream side runs first — the `mis`
    * reference reads the edge index its stream side fitted.
    */
  final case class Gate(name: String, cols: Seq[String], label: String,
                        stream: (SparkSession, String) => DataFrame,
                        reference: (SparkSession, String) => DataFrame)

  private val Union = "stream union == batch"

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
  private def replayGate(name: String, cols: String*)(
      run: (SparkSession, String, String, String, Option[Int]) => DataFrame): Gate =
    Gate(name, cols, "multi-batch == single-batch",
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
    Gate("mis", Seq("vec_id", "rep_id", "cos", "is_rep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("mis", sf)
        GraphStream.misAssignStream(spark, s"$sf/embeddings.parquet", out, ckpt,
          splits = 3, tablePrefix = "graft_check_stream_mis")
      },
      (spark, _) => Graph.misAssignFromIndex(spark, "graft_check_stream_mis_idx")),
    // a single-file sf table streams as ONE trigger; re-shard to 4 files
    // so the PQ-MIPS server replays genuinely multi-batch
    Gate("sim", Seq("query_id", "corpus_id", "ip", "rnk"), Union,
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
    Gate("clean", Seq("doc_id", "quality"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("clean", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/documents.parquet", 3,
          s"$out-input", idCol = "doc_id")
        DedupStream.cleanIngestStream(spark, split, out, ckpt,
          maxFilesPerTrigger = Some(1), tablePrefix = "graft_check_stream_clean")
      },
      (spark, sf) => TextOps.cleanCorpus(spark.read.parquet(s"$sf/documents.parquet"))),
    // pqCodeDedupStream splits its own input into ordered chunks
    Gate("pq_dedup", Seq("vec_id", "bucket", "codes_str", "n_same", "rep_id", "keep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("pq_dedup", sf)
        SimilarityStream.pqCodeDedupStream(spark, s"$sf/embeddings.parquet", out, ckpt,
          tablePrefix = "graft_check_stream_pq_dedup")
      },
      (spark, sf) => Similarity.pqCodeDedup(Tables.load(spark, sf, "embeddings"))),
    // the two stateless scoring twins: both fit offline from the full
    // corpus and score per trigger
    Gate("importance", Seq("doc_id", "n_sh", "importance_num", "importance", "keep"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("importance", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/documents.parquet", 3,
          s"$out-input", idCol = "doc_id")
        ImportanceStream.importanceStream(spark, sf, out, ckpt,
          maxFilesPerTrigger = Some(1), docsPath = Some(split))
      },
      (spark, sf) => TextOps.importanceWeights(
        Tables.load(spark, sf, "documents"), col("doc_id") % 97 === 0)),
    Gate("pca_score", Seq("vec_id", "proj_fp"), Union,
      (spark, sf) => {
        val (out, ckpt) = scratch("pca_score", sf)
        val split = TopicStream.orderedSplitInput(spark, s"$sf/embeddings.parquet", 3,
          s"$out-input", idCol = "vec_id")
        PcaStream.pcaScoreStream(spark, sf, out, ckpt,
          maxFilesPerTrigger = Some(1), embPath = Some(split))
      },
      (spark, sf) => Pca.project(Tables.load(spark, sf, "embeddings"))),
    replayGate("session",
      "user_id", "session_start", "session_end", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.sessionizeStream(spark, path, out, ckpt, mf)
    },
    // an OFFSET-ordered 4-chunk replay (the Kafka per-partition ordering
    // contract on the file source) must emit exactly the batch history's
    // CLOSED live versions
    Gate("scd2", Seq("topic", "partition", "key", "value", "seq",
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
    Gate("funnel", Seq("event_id", "user_id", "ts", "value",
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
    Gate("asof", Seq("event_id", "user_id", "ts", "value",
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
    replayGate("window", "hour", "event_type", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.windowStream(spark, path, out, ckpt, mf)
    },
    replayGate("window_hopping", "w_start", "event_type", "n_events", "total_value") {
      (spark, path, out, ckpt, mf) => TopicStream.hoppingStream(spark, path, out, ckpt, mf)
    },
    replayGate("moving_agg", "event_id", "user_id", "cents", "running_cents",
      "trail5_cents", "n_seen") {
      (spark, path, out, ckpt, mf) => TopicStream.movingAggStream(spark, path, out, ckpt, mf)
    })

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2, "usage: CheckStream <sfDir> [gate,…]")
    val sfDir = args(0)
    val chosen =
      if (args.length == 1) gates
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
        gates.find(_.name == n).getOrElse(throw new IllegalArgumentException(
          s"unknown gate '$n' (gates: ${gates.map(_.name).mkString(",")})"))
      }
    val spark = GraftSession.local()
    val failed = chosen.filterNot(run(spark, sfDir, _)).map(_.name)
    println(s"[check-stream] ${chosen.size - failed.size}/${chosen.size} gates pass" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(",")}"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Times and counts each side, then compares them with
    * [[GraftSession.sameRows]]. A side that throws fails the gate.
    */
  private def run(spark: SparkSession, sfDir: String, g: Gate): Boolean = {
    val tag = s"[check-stream] ${g.name}"
    def timed(side: (SparkSession, String) => DataFrame): (DataFrame, Long, Double) = {
      val t0 = System.nanoTime()
      val df = side(spark, sfDir).select(g.cols.map(col): _*).cache()
      val n = df.count()
      (df, n, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val (got, nGot, tGot) = timed(g.stream)
      val (want, nWant, tWant) = timed(g.reference)
      println(f"$tag stream $nGot rows in $tGot%.1f s (fit included), " +
        f"reference $nWant rows in $tWant%.1f s")
      GraftSession.sameRows(tag, g.label, got, want)
    } catch {
      case NonFatal(e) =>
        println(s"$tag FAILED: $e")
        e.printStackTrace()
        false
    }
  }
}
