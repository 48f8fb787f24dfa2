package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hub-skew stress for the kNN-edge bucket layout (r15 VERDICT #7):
  * the bucketed edge index assumes near-uniform src buckets; a
  * hub-heavy corpus — one vector every spoke counts as its nearest
  * neighbor — concentrates the hub's IN-edges on one src after
  * symmetrization. This plants a deterministic star (spokes =
  * α·hub + β·uᵢ with orthogonal per-spoke directions: cos(spoke, hub)
  * = α/√(α²+β²) beats cos(spoke, spoke') = α²/(α²+β²), so the hub is
  * every spoke's top-1) over the stock sf corpus, builds the index on
  * both, and reports per-bucket edge mass, the top src in-degrees, and
  * the from-index consumer walls side by side. Whatever the numbers
  * say lands in SURVEY §5 verbatim — the chunked adjacency
  * (pmod-1024 per-src chunks) and hash-aggregate consumers were
  * DESIGNED to absorb exactly this, so the honest expectation is "no
  * straggler"; if one shows, the bucket key gets salted like
  * events_range_join_salted. Dev tool, not part of the engine surface.
  *
  * A third argument (comma-separated probes list) appends the
  * HUB-RECALL sweep (r15, the r16 candidate the skew run surfaced):
  * the side-finding was that 118/500 spoke→hub pairs are INVISIBLE at
  * probes=2 — tight clusters don't co-bucket under a random codebook —
  * so this rebuilds the hub-corpus edge index at each probes value and
  * counts how many planted spoke→hub edges the graph actually
  * contains, pricing the recall-vs-candidates trade on the adversarial
  * fixture instead of the uniform corpus the RecallSweep uses.
  *
  * Usage: runMain graft.KnnSkewBench <sfDir> [spokes] [probesList]
  */
object KnnSkewBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spokes = if (args.length > 1) args(1).toInt else 500
    val spark = GraftSession.local()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val dim = graft.operators.Similarity.Dim

    // hub = vec 0's direction; spokes 1..spokes get 0.9·hub + 0.436·uᵢ
    // with uᵢ a decorrelated per-spoke direction from a golden-ratio
    // integer hash. Two construction traps, both measured here: (a)
    // basis axes don't work — any two spokes sharing an axis score
    // (α²+β²/2)/(α²+β²) ≥ α/√(α²+β²) by AM-QM, beating the hub; (b)
    // the repo's LCG generator rows don't work as RANDOM directions —
    // each row is an arithmetic progression (per-j step a·1 ≡ −237 mod
    // 2001), so distinct rows normalize near-parallel (spoke-spoke cos
    // ≈ 0.9999) and the clique's mutual ties bury the hub. The hash
    // directions have |cos| ≤ ~0.5 pairwise, so spoke-hub 0.9 wins
    // top-1 wherever the hub's bucket is probed (numpy replay of the
    // exact bucket/probe/top-k logic: 382/500 spokes probe it at
    // probes=2 — the other 118 scatter to other coarse buckets, an
    // honest ANN-recall-on-hubs observation in its own right).
    val e0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .head().getSeq[Double](0).toArray
    val n0 = math.sqrt(e0.map(x => x * x).sum)
    val hubDir = e0.map(_ / n0)
    def hval(x: Long): Double = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= (h >>> 33)
      h *= 0xC2B2AE3D27D4EB4FL
      (java.lang.Long.remainderUnsigned(h >>> 20, 2001L) - 1000L).toDouble
    }
    val spokeRows = (1 to spokes).map { i =>
      val g = Array.tabulate(dim)(j => hval((90000L + i) * dim + j))
      val gn = math.sqrt(g.map(x => x * x).sum)
      val v = Array.tabulate(dim)(j => 0.9 * hubDir(j) + 0.436 * g(j) / gn)
      Row(i.toLong, v.toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType), nullable = false)))
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(spokeRows, 4), schema)
    val hubEmb = emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      .filter(col("vec_id") === 0L || col("vec_id") > spokes.toLong)
      .union(planted)

    for ((label, corpus) <- Seq(
        "stock" -> emb.select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("embedding")),
        "hub" -> hubEmb)) {
      val table = s"graft_skew_knn_$label"
      val (_, tBuild) = time(graft.operators.Graph.writeKnnEdgeIndex(corpus, table))
      val edges = spark.table(table)
      // per-bucket mass by the bucketing hash (Murmur3, the same hash
      // Spark's bucketed write clusters by)
      val mass = edges.groupBy(pmod(hash(col("src")), lit(8)).as("bucket"))
        .count().orderBy(col("bucket"))
        .collect().map(r => r.getLong(1))
      val top = edges.groupBy("src").count()
        .orderBy(col("count").desc).limit(3)
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}")
      val (_, tRank) = time(
        graft.operators.Graph.pageRankFromIndex(spark, table)
          .write.mode("overwrite").format("noop").save())
      val (_, tAssign) = time(
        graft.operators.Graph.misAssignFromIndex(spark, table)
          .write.mode("overwrite").format("noop").save())
      println(s"[knn-skew] $label edges=${mass.sum} bucketMass=${mass.mkString(",")} " +
        f"maxOverMean=${mass.max.toDouble / (mass.sum.toDouble / mass.length)}%.2f " +
        f"topSrcDegrees=${top.mkString(",")} build=$tBuild%.2f s " +
        f"pageRankFromIndex=$tRank%.2f s misAssignFromIndex=$tAssign%.2f s")
    }
    // hub-recall sweep: planted spoke→hub edges found vs probes, on
    // BOTH quantizers (r16: the fitted-book arm is the VERDICT #3
    // answer — a k-means book co-buckets tight clusters where the
    // random LCG book scatters them)
    if (args.length > 2) {
      for (p <- args(2).split(",").map(_.trim.toInt);
           fitted <- Seq(false, true)) {
        val arm = if (fitted) "fitted" else "lcg"
        val table = s"graft_skew_knn_hub_${arm}_p$p"
        val (_, tBuild) = time(
          graft.operators.Graph.writeKnnEdgeIndex(hubEmb, table, probes = p,
            fittedBook = fitted))
        val edges = spark.table(table)
        // symmetrized index: each discovered pair appears in both
        // orientations, so hub-as-src counts every spoke that found it
        val hubPairs = edges.filter(col("src") === 0L &&
          col("dst") >= 1L && col("dst") <= spokes.toLong).count()
        val pairEdges = edges.count() / 2
        println(f"[knn-skew-sweep] book=$arm probes=$p hubPairs=$hubPairs/$spokes " +
          f"pairEdges=$pairEdges build=$tBuild%.2f s")
      }
    }
    spark.stop()
  }
}
