package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.functions.{Codebooks, VectorNativeImpl => V}

/** sf10 gate for the PQ serving rows (r14 — round-15 candidate (c)
  * closed early; the [[CheckMis]] / [[CheckSemDedup]] pattern): the
  * DuckDB replay of `sim_topk_ivf_pq` / `sim_topk_mips_ivf_pq` is
  * gate-practical only to sf1 (per-candidate list folds over 200k+
  * vectors OOM a single connection), so beyond it this main replays the
  * WHOLE serving pipeline sequentially on the driver — bucket + code
  * assignment, probe lists, approximate scoring of every probed
  * candidate, the (score DESC, id) shortlist, the exact rerank — and
  * requires bit-equality of every output row. The scalar kernels are
  * the SAME JVM functions the executors run (they are DuckDB-gated
  * bit-exact at ≤ sf1); what this verifies at scale is everything the
  * kernels ride on: the bucket join, the two-phase salted shortlist
  * window (must equal a total-order sort), the sized refine/nlist
  * ladders, and the rerank joins. Collects are count-guarded.
  *
  * Usage: runMain graft.CheckPq <sfDir>
  */
object CheckPq {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxCollect = sys.env.getOrElse("GRAFT_CHECK_MAX_ROWS", "100000000").toLong
    val spark = GraftSession.local()
    // quieter than WARN: Spark warnings would interleave with the printed table
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    require(n <= maxCollect, s"[check-pq] $n rows exceed the driver cap")
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val k = 10
    val probes = 8
    val refine = graft.operators.Similarity.sizedRefine(n)
    println(s"[check-pq] $sfDir: $n vectors, refine=$refine")
    var bad = 0L
    val byId = rows.toMap

    def ad(a: Array[Double]) = new GenericArrayData(a)

    /** Sequential serving replay: corpus indexed by (bucket, codes),
      * queries probe, approximate-score, shortlist k·refine by
      * (score DESC, id), exact-rerank top k by (exact DESC, id).
      */
    def replay(queryVec: Long => Array[Double], corpusVec: Long => Array[Double],
               cents: Array[Array[Double]], cnorms: Array[Double],
               chat: Array[Array[Double]], pq: Array[Array[Array[Double]]],
               exact: (Array[Double], Array[Double]) => Double): scala.collection.Map[(Long, Long), (Double, Int)] = {
      val queries = rows.map(_._1).filter(_ < 8)
      val corpus = rows.map(_._1).filter(_ >= 8)
      val idx = corpus.map { id =>
        val ea = ad(corpusVec(id))
        val b = V.ivfBucket(ea, cents, cnorms)
        val codes = V.pqCode(ea, cents, cnorms, chat, pq)
        (id, b, codes)
      }
      val byBucket = idx.groupBy(_._2)
      val out = scala.collection.mutable.Map[(Long, Long), (Double, Int)]()
      for (q <- queries) {
        val eqa = ad(queryVec(q))
        val probed = V.ivfProbes(eqa, probes, cents, cnorms)
          .toIntArray().distinct
        val cand = probed.flatMap(b => byBucket.getOrElse(b, Array.empty))
          .map { case (cid, b, codes) => (cid, V.pqScore(eqa, b, codes, chat, pq)) }
        val short = cand.sortBy { case (cid, s) => (-s, cid) }.take(k * refine)
        // exact scores over the ORIGINAL vectors of query and candidate
        val exactScored = short.map { case (cid, _) =>
          (cid, exact(byId(q), byId(cid)))
        }
        val top = exactScored.sortBy { case (cid, s) => (-s, cid) }.take(k)
        for (((cid, s), i) <- top.zipWithIndex) out((q, cid)) = (s, i + 1)
      }
      out
    }

    // cosine side: plain vectors, exact = cos
    def cosExact(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { dot += a(i) * b(i); i += 1 }
      dot / (V.norm(ad(a)) * V.norm(ad(b)))
    }
    // The nlist ladder on the cosine PQ row stays the serving default 64
    // (the §2 parity note), so the LCG books apply directly.
    val cosReplay = replay(
      id => byId(id), id => byId(id),
      Codebooks.centroidsArr, Codebooks.centroidNorms,
      Codebooks.centroidsArr.zip(Codebooks.centroidNorms).map { case (c, nn) => c.map(_ / nn) },
      Codebooks.pqCents, cosExact)
    val gotCos = graft.operators.Similarity.ivfPqTopKSized(emb, col("vec_id") < 8, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    if (gotCos != cosReplay) {
      bad += (gotCos.keySet ++ cosReplay.keySet)
        .count(kk => gotCos.get(kk) != cosReplay.get(kk))
      System.err.println(s"[check-pq] cosine PQ mismatch rows: $bad")
    }
    println(s"[check-pq] sim_topk_ivf_pq: ${gotCos.size} rows, replay ${cosReplay.size}, " +
      s"mismatches so far $bad")

    // MIPS side: augmented vectors for index/probe, exact = raw ip
    val corpusNorms = rows.filter(_._1 >= 8).map { case (_, e) => V.norm(ad(e)) }
    val mx = corpusNorms.max
    def augC(id: Long): Array[Double] = {
      val e = byId(id); val nr = V.norm(ad(e))
      e :+ math.sqrt(mx * mx - nr * nr)
    }
    def augQ(id: Long): Array[Double] = byId(id) :+ 0.0
    def ipExact(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val mipsReplay = replay(
      augQ, augC,
      Codebooks.mipsCentroidsArr, Codebooks.mipsCentroidNorms,
      Codebooks.mipsCentroidsHat, Codebooks.mipsPqCents, ipExact)
    val gotMips = graft.operators.Similarity.mipsIvfPqTopKSized(emb, col("vec_id") < 8, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    if (gotMips != mipsReplay) {
      val mb = (gotMips.keySet ++ mipsReplay.keySet)
        .count(kk => gotMips.get(kk) != mipsReplay.get(kk))
      System.err.println(s"[check-pq] MIPS PQ mismatch rows: $mb")
      bad += mb
    }
    println(s"[check-pq] $sfDir: cosine ${gotCos.size} + mips ${gotMips.size} rows, " +
      s"refine=$refine, mismatches=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
