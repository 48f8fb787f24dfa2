package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Deterministic sf1-scale generator for the dedup/ANN stress runs
  * (round-9 VERDICT #1): writes `documents.parquet` (10× the sf0.1 row
  * count) and `embeddings.parquet` into `outDir`, mirroring the driver
  * tables' shape (TESTDATA.md) and duplicate structure — same schema,
  * same ~30-word vocabulary, and planted duplication at the rates
  * measured on the driver data (≈0.3% exact-dup docs, ≈5% near-dup docs
  * across strong/borderline/below-threshold perturbations; embeddings in
  * 10 label clusters with ≈3% scaled near-copies), plus a GENERATED
  * driver-shaped events topic (round 10 — see [[eventRow]]). The
  * remaining (TPC-H) tables are copied from sf0.1 so the directory
  * gates through tools/check.py unchanged.
  *
  * Everything derives from the row id via an LCG, so any row regenerates
  * identically regardless of partitioning — near-dups rebuild their base
  * doc's text in place instead of joining to it. Dev tool, not part of
  * the engine surface.
  *
  * Usage: runMain graft.ScaleGen <outDir> [nDocs] [nVecs] [copyFromDir]
  *        [nEvents]  (default 1,000,000 — events is GENERATED
  *        driver-shaped, round 10; only the TPC-H tables are copied)
  */
object ScaleGen {

  val Vocab: Array[String] = Array(
    "spark", "table", "join", "scan", "filter", "agg", "group", "sort",
    "hash", "merge", "batch", "stream", "window", "query", "row", "column",
    "key", "value", "data", "line", "part", "order", "customer", "vector",
    "fast", "slow", "small", "big", "the", "a")

  private def rng(seed: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + 42L)

  /** Base text for a doc id: 8–100 words drawn uniformly from the vocab. */
  private def baseWords(id: Long): Array[String] = {
    val r = rng(id)
    Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.length)))
  }

  /** Per-1000 block layout: offsets 930–979 are near-dups of the block's
    * first 50 docs (perturbation strength cycling strong / borderline /
    * below-τ, so candidate sets strictly contain the verified output);
    * 997–999 are exact copies of the first 3; everything else is unique.
    */
  private[graft] def docText(id: Long): String = {
    val off = (id % 1000L).toInt
    val base = id - off
    if (off >= 997) baseWords(base + (off - 997)).mkString(" ")
    else if (off >= 930 && off < 980) {
      val words = baseWords(base + (off - 930))
      val r = rng(id + 7000000L)
      // word-replacement probability: 1/50 keeps 8-gram Jaccard ~0.7,
      // 1/25 lands near τ=0.5, 1/12 falls below τ (candidate, not pair)
      val denom = Array(50, 25, 12)((off - 930) % 3)
      val out = words.map(w =>
        if (r.nextInt(denom) == 0) Vocab(r.nextInt(Vocab.length)) else w)
      // an unperturbed draw would silently collapse into an EXACT copy
      // (likely for short docs) and inflate the exact-dup rate far past
      // the driver tables' — force at least one replacement
      if (out.sameElements(words)) {
        val i = r.nextInt(out.length)
        val cur = Vocab.indexOf(out(i))
        out(i) = Vocab((cur + 1 + r.nextInt(Vocab.length - 1)) % Vocab.length)
      }
      out.mkString(" ")
    } else baseWords(id).mkString(" ")
  }

  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de")

  private[graft] def docRow(id: Long): (Long, String, String, String, Long) = {
    val t = docText(id)
    val r = rng(id + 3000000L)
    (id, t, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
  }

  /** 64-dim float vector: cluster center (by label) + noise; per-100
    * offsets 97–99 are scaled near-copies (cos ≳ 0.98) of the block's
    * first 3 vectors — sign-LSH is scale-invariant, so these collide in
    * every band like the driver's planted pairs.
    */
  private[graft] def vecRow(id: Long): (Long, Array[Float], Int) = {
    val off = (id % 100L).toInt
    val src = if (off >= 97) id - off + (off - 97) else id
    val r = rng(src + 11000000L)
    val label = r.nextInt(10)
    val c = rng(1000L + label)
    val v = Array.fill(64)((0.8 * (c.nextDouble() * 2 - 1) + 0.35 * r.nextGaussian()).toFloat)
    if (off >= 97) {
      val p = rng(id + 13000000L)
      val scale = 0.7 + p.nextDouble()
      (id, v.map(x => (x * scale + 0.02 * p.nextGaussian()).toFloat), label)
    } else (id, v, label)
  }

  private val EventTypes = Array("view", "click", "purchase", "signup", "error")

  /** Driver-shaped event row (round-9 VERDICT #8): users number n/66 and
    * are drawn uniformly (the driver tables' own key shape — its top user
    * holds ~1.5× the mean, exactly a multinomial tail, not a planted hot
    * key; the adversarial hot-key remap is measured in SURVEY §5,
    * round 9), five uniform
    * event types, timestamps uniform over the driver's 30-day January
    * window, value uniform to the driver's ~560 ceiling at 2 decimals,
    * props the driver's {"k": int} JSON. Everything regenerates from the
    * id via the same LCG discipline as [[docRow]].
    */
  private[graft] def eventRow(id: Long, nUsers: Long): (Long, java.sql.Timestamp, Long, String, Double, String) = {
    val r = rng(id + 23000000L)
    val user = (r.nextDouble() * nUsers).toLong.min(nUsers - 1)
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    val ts = new java.sql.Timestamp(0L)
    val us = baseUs + (r.nextDouble() * 30L * 86400 * 1000000L).toLong
    ts.setTime(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    val value = math.round(r.nextDouble() * 560.0 * 100.0) / 100.0
    (id, ts, user, EventTypes(r.nextInt(EventTypes.length)), value,
      s"""{"k": ${r.nextInt(100)}}""")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val nVecs = if (args.length > 2) args(2).toLong else 20000L
    val copyFrom = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val nEvents = if (args.length > 4) args(4).toLong else 1000000L
    val nUsers = (nEvents / 66L).max(1L)
    val spark = GraftSession.local()
    import spark.implicits._

    // check.py/DuckDB read `<dir>/<t>.parquet` as ONE file, so the Spark
    // directory output is collapsed to a single part and moved in place.
    // 4 MB row groups keep the one file SPLITTABLE: with the default
    // 128 MB parquet block a 100 MB sf10 corpus is one row group, so
    // every scan stage collapses to a single straggler task no matter
    // what maxPartitionBytes says (splits align to row groups) — the
    // r12 sf10 run measured exactly that (one core, 18 CPU-minutes).
    def writeSingle(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(outDir))
      Files.move(Paths.get(part), Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.list(Paths.get(tmp)).toArray.foreach(p => Files.delete(p.asInstanceOf[java.nio.file.Path]))
      Files.delete(Paths.get(tmp))
    }
    writeSingle(spark.range(nDocs).map(i => docRow(i))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    writeSingle(spark.range(nVecs).map(i => vecRow(i))
      .toDF("vec_id", "embedding", "label"), "embeddings")
    writeSingle(spark.range(nEvents).map(i => eventRow(i, nUsers))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")
    for (t <- graft.sources.Tables.names
         if t != "documents" && t != "embeddings" && t != "events") {
      Files.copy(Paths.get(s"$copyFrom/$t.parquet"), Paths.get(s"$outDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"ScaleGen: $nDocs docs, $nVecs vecs, $nEvents events -> $outDir")
    spark.stop()
  }
}
