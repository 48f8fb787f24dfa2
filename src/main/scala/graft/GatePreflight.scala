package graft

import java.nio.file.Files

import graft.streaming.TopicStream

/** Shared preflight for the heavy at-scale gates (r16 VERDICT #5): the
  * sf10 consumer-card gate died once on 16 GB of stale stream-scratch
  * before it succeeded (~40 GB transient candidate-sort spill; ~60 GB
  * free needed) — and the root error of an undersized heap is a single
  * "Java heap space" line buried far above a cascade of
  * SPILL_OUT_OF_MEMORY noise. This applies the check_one.py
  * assert-loud discipline to the Spark side: wipe stale scratch, ASSERT
  * usable disk (scaled to the input, so a small sf gates on a small
  * disk), and surface the driver heap that actually applied, all
  * BEFORE the expensive build starts.
  */
object GatePreflight {

  /** The sf10 calibration point: 200,000 vectors needed ~60 GB free
    * (~40 GB of transient kNN candidate-sort spill plus margin). */
  val Sf10Vectors = 200000L
  val Sf10FreeGb = 60L

  /** Usable disk a gate over `nVectors` embeddings demands: the sf10
    * figure scaled linearly with the vector count, rounded up, never
    * below 1 GB (sf1's 20,000 vectors ask for 6 GB). Only the sf10 spill
    * was measured; if the kNN candidate sort spills faster than linearly
    * in N, a linear scale overstates the need below sf10, which is the
    * safe side for a preflight.
    */
  def requiredFreeGb(nVectors: Long): Long =
    math.max(1L, (Sf10FreeGb * nVectors + Sf10Vectors - 1) / Sf10Vectors)

  /** Rows of `sfDir`'s embeddings table, from its Parquet footers (no
    * SparkSession needed). */
  def embeddingRows(sfDir: String): Long =
    graft.sources.Tables.footerRowCount(s"$sfDir/embeddings.parquet")

  /** Wipe the stale stream scratch ([[TopicStream.scratchRoot]], so
    * `-Dgraft.stream.scratch` moves the wipe with it), assert the usable
    * space a gate over `sfDir` needs ([[requiredFreeGb]] of its
    * embeddings row count) on the scratch filesystem, and print the JVM
    * heap cap. Call before building the SparkSession (nothing here needs
    * one).
    */
  def run(sfDir: String, main: String): Unit = {
    val scratch = TopicStream.scratchRoot
    if (Files.exists(scratch)) {
      val sz = Files.walk(scratch).mapToLong(p => p.toFile.length).sum() / (1024L * 1024 * 1024)
      println(s"[$main] preflight: wiping stale $scratch (~$sz GB)")
      TopicStream.deleteRecursively(scratch)
    }
    Files.createDirectories(scratch)
    val nVectors = embeddingRows(sfDir)
    val minFreeGb = requiredFreeGb(nVectors)
    val freeGb = scratch.toFile.getUsableSpace / (1024L * 1024 * 1024)
    require(freeGb >= minFreeGb,
      s"[$main] preflight: only $freeGb GB usable under $scratch but the " +
        s"gate needs >= $minFreeGb GB transient spill headroom for $nVectors " +
        s"vectors (r16: the sf10 kNN candidate sort spills ~40 GB) — free disk before gating")
    val heapGb = Runtime.getRuntime.maxMemory / (1024L * 1024 * 1024)
    println(s"[$main] preflight: $freeGb GB disk free ($minFreeGb GB needed for " +
      s"$nVectors vectors), driver heap cap " +
      s"~$heapGb GB (SPARK_DRIVER_MEM=${sys.env.getOrElse("SPARK_DRIVER_MEM", "unset — 8g default")})")
  }
}
