package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._

import graft.operators.TopicOps
import graft.sources.Topics

/** The command surface (reference CLI.kt / commands dir): arg parsing,
  * the interactive ActionSource contract, and each command's output
  * against the library operator it rides.
  */
class CliSpec extends SparkSpec {

  private def outDir(name: String): String = {
    val d = s"target/cli-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("arg parsing: globals, arity errors, unknown flags/commands") {
    val ok = Cli.parse(Seq("-d", "/x", "-T", "-n", "-l", "5", "merge-all", "events", "dest"))
    assert(ok == Right(Cli.Opts(dir = "/x", out = "/x/out", mergeTombstones = true,
      noCommit = Some(true), limit = 5, command = "merge-all",
      positional = List("events", "dest"))))
    assert(Cli.parse(Seq("print", "events")).isLeft) // missing -d
    assert(Cli.parse(Seq("-d", "/x", "merge-all", "events")).isLeft) // arity
    assert(Cli.parse(Seq("-d", "/x", "--bogus", "print", "events")).isLeft)
    assert(Cli.parse(Seq("-d", "/x", "frobnicate", "events")).isLeft)
    // -n arity 0..1: explicit false makes print commit
    assert(Cli.parse(Seq("-d", "/x", "-n", "false", "print", "events"))
      .toOption.get.noCommit == Some(false))
  }

  test("action source: default merge on empty line, unknown input reprompts, " +
      "exhausted stream defaults to merge (the reference's default)") {
    val lines = new ByteArrayInputStream("\np\nzzz\ns\n".getBytes("UTF-8"))
    val prompts = scala.collection.mutable.ArrayBuffer.empty[String]
    val next = Cli.actionSource(lines, prompts += _)
    assert(next() == "merge") // empty line
    assert(next() == "purge")
    assert(next() == "skip") // zzz repromopts, then s
    assert(prompts.count(_.startsWith("Unknown option")) == 1)
    assert(next() == "merge") // stream exhausted
  }

  test("merge-all writes the operator's produced records and the counter line") {
    val out = outDir("mergeall")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark, Seq("-d", sf, "-O", out, "merge-all", "events", "dest"),
      print = lines += _)
    assert(code == 0)
    val produced = spark.read.parquet(s"$out/produced")
    val expect = TopicOps.mergeAll(Topics.events(spark, sf), "dest")
    assert(produced.count() == expect.count())
    assert(produced.exceptAll(expect.select(produced.columns.map(col): _*)).isEmpty)
    val m = expect.filter(col("kind") === "merge").count()
    val p = expect.filter(col("kind") === "purge").count()
    assert(lines.contains(s"Successfully processed records: $m merged, $p purged"))
    // processing commands commit by default
    assert(spark.read.parquet(s"$out/offsets").count() > 0)
  }

  test("print honors --limit, emits the reference record block, and does NOT " +
      "commit by default") {
    val out = outDir("print")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark, Seq("-d", sf, "-O", out, "-l", "3", "print", "events"),
      print = lines += _)
    assert(code == 0)
    assert(lines.count(_.startsWith("Record at offset #")) == 3)
    assert(lines.exists(_.startsWith("Finished printing 3 record(s)")))
    assert(!new java.io.File(s"$out/offsets").exists())
    // --no-commit false flips print to committing (reference -n arity 0..1)
    val out2 = outDir("print2")
    Cli.run(spark, Seq("-d", sf, "-O", out2, "-n", "false", "-l", "1", "print", "events"),
      print = _ => ())
    assert(spark.read.parquet(s"$out2/offsets").count() > 0)
  }

  test("interactive ask: stdin decisions route through the decisions-table " +
      "plan; tombstones skip without consuming an action") {
    val out = outDir("ask")
    val src = Topics.events(spark, sf)
    val live = src.filter(col("value").isNotNull).count()
    val tombs = src.filter(col("value").isNull).count()
    assert(tombs > 0, "fixture must contain tombstones")
    // purge the first record, skip the second, merge everything after
    // (exhausted stream defaults to merge)
    val stdin = new ByteArrayInputStream("p\ns\n".getBytes("UTF-8"))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark, Seq("-d", sf, "-O", out, "ask", "events", "dest"),
      in = stdin, print = lines += _)
    assert(code == 0)
    // one prompt per LIVE record only — tombstones never consumed input
    assert(lines.count(_.startsWith("Would you like to")) == live)
    assert(lines.contains(
      s"Successfully processed records: ${live - 2} merged, 1 purged, 1 skipped"))
    val decisions = spark.read.parquet(s"$out/decisions")
    assert(decisions.count() == live)
    // the produced output IS routeWithDecisions over those decisions
    val produced = spark.read.parquet(s"$out/produced")
    val expect = TopicOps.routeWithDecisions(src, decisions, "dest")
    assert(produced.count() == expect.count())
    assert(produced.exceptAll(expect.select(produced.columns.map(col): _*)).isEmpty)
  }

  test("dlq splits on the serde error predicates and names the dlq topic") {
    val out = outDir("dlq")
    val code = Cli.run(spark, Seq("-d", sf, "-O", out, "dlq", "events", "events.dlq"),
      print = _ => ())
    assert(code == 0)
    val dlq = spark.read.parquet(s"$out/dlq")
    val clean = spark.read.parquet(s"$out/clean")
    val src = Topics.events(spark, sf)
    assert(dlq.count() + clean.count() == src.count())
    // this fixture's bytes all decode (corrupt-byte arms live in the serde
    // specs), so the dlq side is empty — the routed count and the named
    // dlq_topic column are still the command's contract
    assert(dlq.columns.contains("dlq_topic"))
    assert(dlq.filter(col("dlq_topic") =!= "events.dlq").isEmpty)
    assert(clean.count() ==
      TopicOps.dlqSplit(src, graft.sources.Serdes.Utf8JsonSerde.error(col("raw")),
        graft.sources.Serdes.Utf8LongKeySerde.error(col("key_raw")))
        .filter(col("sink") === "clean").count())
  }

  test("ask with a short actions FILE fails at EOF with exit 1 (reference " +
      "streamActionSource throw), reporting the counts reached — no silent " +
      "merge of the unanswered tail, no produced output") {
    val out = outDir("ask-short")
    val live = Topics.events(spark, sf).filter(col("value").isNotNull).count()
    assert(live > 2, "fixture must have more live records than the actions file")
    val actions = java.nio.file.Files.createTempFile("graft-actions", ".txt")
    java.nio.file.Files.write(actions, "p\ns\n".getBytes("UTF-8"))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", sf, "-O", out, "-y", actions.toString, "ask", "events", "dest"),
      print = lines += _)
    assert(code == 1)
    assert(lines.exists(_.contains("action source exhausted")))
    assert(lines.contains("Successfully processed records: 0 merged, 1 purged, 1 skipped"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/produced")),
      "a failed ask must not write produced output")
    java.nio.file.Files.delete(actions)
  }

  test("stream verb: a multi-batch merge-all run equals the batch command " +
      "output and commits offsets; stream dlq covers the full record set") {
    // a source directory whose events table is 4 parquet files so -m 2
    // drives the run through more than one micro-batch
    val srcDir = "target/cli-spec/stream-src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    graft.sources.Tables.load(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val out = outDir("stream-mergeall")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", srcDir, "-O", out, "-m", "2", "stream", "merge-all", "events", "dest"),
      print = lines += _)
    assert(code == 0)
    val produced = spark.read.parquet(s"$out/produced")
    val expect = TopicOps.mergeAll(Topics.events(spark, sf), "dest")
    assert(produced.count() == expect.count())
    assert(produced.exceptAll(expect.select(produced.columns.map(col): _*)).isEmpty)
    val m = expect.filter(col("kind") === "merge").count()
    val p = expect.filter(col("kind") === "purge").count()
    assert(lines.contains(s"Successfully processed records: $m merged, $p purged"))
    assert(spark.read.parquet(s"$out/offsets").count() > 0)
    // the checkpoint really drove a multi-batch incremental run
    val commits = new java.io.File(s"$out/checkpoint/commits").listFiles()
    assert(commits != null && commits.count(!_.getName.startsWith(".")) >= 2,
      "expected >= 2 committed micro-batches under -m 2 over 4 files")

    val out2 = outDir("stream-dlq")
    val lines2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val code2 = Cli.run(spark,
      Seq("-d", srcDir, "-O", out2, "stream", "dlq", "events", "events.dlq"),
      print = lines2 += _)
    assert(code2 == 0)
    val clean = graft.streaming.TopicStream.readBatchedOutput(spark, s"$out2/clean")
    val dlqN = Topics.events(spark, sf).count() - clean.count()
    assert(lines2.contains(s"Routed $dlqN record(s) to 'events.dlq'"))

    // stream compact ships the CHANGELOG form (the §5 complete-mode
    // rule's production default): reconciled, it equals batch compaction
    val out3 = outDir("stream-compact")
    val lines3 = scala.collection.mutable.ArrayBuffer.empty[String]
    val code4 = Cli.run(spark,
      Seq("-d", srcDir, "-O", out3, "-m", "2", "stream", "compact", "events", "events.compact"),
      print = lines3 += _)
    assert(code4 == 0)
    val changelog = graft.streaming.TopicStream
      .readBatchedOutput(spark, s"$out3/changelog")
    val reconciled = TopicOps.reconcileChangelog(changelog)
    val compacted = TopicOps.compact(Topics.events(spark, sf))
    assert(reconciled.count() == compacted.count())
    assert(reconciled.exceptAll(compacted.select(reconciled.columns.map(col): _*)).isEmpty)
    val up = changelog.filter(col("live")).count()
    val del = changelog.filter(!col("live")).count()
    assert(lines3.contains(
      s"Emitted ${up + del} change(s) to 'events.compact': $up upsert(s), $del delete(s)"))

    // arity + unknown-subcommand arms stay CLI errors, not throws
    assert(Cli.parse(Seq("-d", srcDir, "stream", "merge-all", "events")).isLeft)
    val code3 = Cli.run(spark,
      Seq("-d", srcDir, "-O", outDir("stream-bad"), "stream", "nope", "events", "d"),
      print = _ => ())
    assert(code3 == 1)
  }

  test("stream ask: a multi-batch streamed run with a file action feed " +
      "equals the batch ask's routing and counters (the poll-loop " +
      "ActionSource, r11 VERDICT #5); the interactive terminal is refused") {
    val srcDir = "target/cli-spec/stream-ask-src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    graft.sources.Tables.load(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val live = Topics.events(spark, sf).filter(col("value").isNotNull).count()
    val actions = java.nio.file.Files.createTempFile("graft-stream-ask", ".txt")
    java.nio.file.Files.write(actions,
      ("p\ns\n" + "m\n" * (live - 2).toInt).getBytes("UTF-8"))
    // batch reference over the SAME directory and feed
    val outB = outDir("stream-ask-batchref")
    assert(Cli.run(spark,
      Seq("-d", srcDir, "-O", outB, "-y", actions.toString, "ask", "events", "dest"),
      print = _ => ()) == 0)
    // the streamed run: -m 2 over 4 files forces a multi-batch drain
    val outS = outDir("stream-ask")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", srcDir, "-O", outS, "-m", "2", "-y", actions.toString,
        "stream", "ask", "events", "dest"),
      print = lines += _)
    assert(code == 0)
    assert(lines.contains(
      s"Successfully processed records: ${live - 2} merged, 1 purged, 1 skipped"))
    val prodB = spark.read.parquet(s"$outB/produced")
    val prodS = spark.read.parquet(s"$outS/produced")
    assert(prodS.count() == prodB.count(),
      s"streamed ask routed ${prodS.count()} records, batch routed ${prodB.count()}")
    val common = prodB.columns.toSet.intersect(prodS.columns.toSet).toSeq.sorted
    assert(common.nonEmpty)
    val b = prodB.select(common.map(col): _*)
    val s2 = prodS.select(common.map(col): _*)
    assert(s2.exceptAll(b).isEmpty && b.exceptAll(s2).isEmpty,
      "streamed routing must equal the batch decisions-table routing")
    // decisions table written, offsets committed, checkpoint multi-batch
    assert(spark.read.parquet(s"$outS/decisions").count() == live)
    assert(spark.read.parquet(s"$outS/offsets").count() > 0)
    val commits = new java.io.File(s"$outS/checkpoint/commits").listFiles()
    assert(commits != null && commits.count(!_.getName.startsWith(".")) >= 2,
      "expected >= 2 committed micro-batches under -m 2 over 4 files")
    // a poll loop has no terminal: '-' is a clean error exit
    val errLines = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(Cli.run(spark,
      Seq("-d", srcDir, "-O", outDir("stream-ask-tty"), "stream", "ask", "events", "dest"),
      print = errLines += _) == 1)
    assert(errLines.exists(_.contains("file action source")))
    java.nio.file.Files.delete(actions)
  }

  test("unknown topic is an error exit, not a throw") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark, Seq("-d", sf, "print", "nope"), print = lines += _)
    assert(code == 1)
    assert(lines.exists(_.contains("unknown topic")))
  }

  test("index + assign: the serving verb pair builds the bucketed edge table " +
      "and the assignment parquet equals the library operator bit-for-bit") {
    val out = outDir("assign")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", sf, "index", "embeddings", "graft_cli_spec_idx"), print = lines += _)
    assert(code == 0)
    val edges = spark.table("graft_cli_spec_idx").count()
    assert(lines.exists(_.contains(s"'graft_cli_spec_idx' ($edges edges)")))
    // the command-built index IS the library index (same defaults)
    val lib = graft.operators.Graph.knnMisAssign(
      graft.sources.Tables.load(spark, sf, "embeddings"), "graft_cli_spec_lib")
    val code2 = Cli.run(spark,
      Seq("-d", sf, "-O", out, "assign", "graft_cli_spec_idx"), print = lines += _)
    assert(code2 == 0)
    val assigned = spark.read.parquet(s"$out/assigned")
    assert(assigned.count() == lib.count())
    assert(assigned.exceptAll(lib.select(assigned.columns.map(col): _*)).isEmpty &&
      lib.select(assigned.columns.map(col): _*).exceptAll(assigned).isEmpty)
    val reps = lib.filter(col("is_rep")).count()
    assert(lines.exists(_.contains(s"($reps representatives)")))
    // unknown vector topic mirrors the record-topic contract
    val code3 = Cli.run(spark, Seq("-d", sf, "index", "nope", "t"), print = lines += _)
    assert(code3 == 1)
    assert(lines.exists(_.contains("unknown vector topic")))
  }

  test("query: the ANN lookup verb serves top-k from the compact index it " +
      "builds, bit-identical to the gated PQ serving operator") {
    val out = outDir("query")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", sf, "-O", out, "query", "embeddings", "graft_cli_spec_pq"),
      print = lines += _)
    assert(code == 0)
    val got = spark.read.parquet(s"$out/topk")
    val lib = graft.operators.Similarity.ivfPqTopKSized(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      col("vec_id") < 8, k = 10)
      .select(got.columns.map(col): _*)
    assert(got.count() == lib.count())
    assert(got.exceptAll(lib).isEmpty && lib.exceptAll(got).isEmpty,
      "command answers must equal the library serving operator bit-for-bit")
    assert(lines.exists(_.contains("from compact index 'graft_cli_spec_pq'")))
    // -k plumbs through: a k=3 run returns 3 rows per query
    val code2 = Cli.run(spark,
      Seq("-d", sf, "-O", out, "-k", "3", "query", "embeddings", "graft_cli_spec_pq3"),
      print = lines += _)
    assert(code2 == 0)
    val got3 = spark.read.parquet(s"$out/topk")
    assert(got3.groupBy("query_id").count()
      .filter(col("count") =!= 3).count() === 0)
    // bad -k is a parse error, not a throw
    assert(Cli.parse(Seq("-d", sf, "-k", "0", "query", "a", "b")).isLeft)
  }

  test("query -f / -r: the fitted books and the high recall target serve " +
      "bit-identical to the fitted library operators") {
    val out = outDir("queryf")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", sf, "-O", out, "-f", "query", "embeddings", "graft_cli_spec_pqf"),
      print = lines += _)
    assert(code == 0)
    val got = spark.read.parquet(s"$out/topk")
    val lib = graft.operators.Similarity.ivfPqTopKFittedSized(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      col("vec_id") < 8, k = 10)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(lib).isEmpty && lib.exceptAll(got).isEmpty,
      "-f answers must equal ivfPqTopKFittedSized bit-for-bit")
    assert(lines.exists(_.contains("fitted books")))
    // -f -r high == the registered fitted_hr row's operator
    val code2 = Cli.run(spark,
      Seq("-d", sf, "-O", out, "-f", "-r", "high", "query", "embeddings",
        "graft_cli_spec_pqfh"),
      print = lines += _)
    assert(code2 == 0)
    val gotH = spark.read.parquet(s"$out/topk")
    val libH = graft.operators.Similarity.ivfPqTopKFittedSized(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      col("vec_id") < 8, k = 10,
      probes = graft.operators.Similarity.probesForRecall("high"))
      .select(gotH.columns.map(col): _*)
    assert(gotH.exceptAll(libH).isEmpty && libH.exceptAll(gotH).isEmpty,
      "-f -r high answers must equal the fitted_hr operator bit-for-bit")
    assert(lines.exists(_.contains("recall=high")))
    // bad -r is a parse error, not a throw
    assert(Cli.parse(Seq("-d", sf, "-r", "ultra", "query", "a", "b")).isLeft)
  }

  test("query -q: the high-quality (16x64) serving point serves bit-identical " +
      "to the registered m16 library operator") {
    val out = outDir("queryq")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.run(spark,
      Seq("-d", sf, "-O", out, "-q", "query", "embeddings", "graft_cli_spec_pqq"),
      print = lines += _)
    assert(code == 0)
    val got = spark.read.parquet(s"$out/topk")
    val lib = graft.operators.Similarity.ivfPqTopKSized(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      col("vec_id") < 8, k = 10,
      index = graft.operators.Similarity.PqIndex.Fitted(
        graft.functions.Codebooks.PqBook.M16),
      refineMul = 4)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(lib).isEmpty && lib.exceptAll(got).isEmpty,
      "-q answers must equal the m16 operator bit-for-bit")
    assert(lines.exists(_.contains("quality (16x64) books")))
  }
}
