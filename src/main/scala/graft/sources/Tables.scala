package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{FooterSchema, ParquetFileFormat}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All operators take a scale-factor directory and read parquet directly so
  * Catalyst sees the scan — filters/projections push down to the parquet
  * reader (checked via `.explain` in the specs).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Sessions must set `spark.sql.legacy.parquet.nanosAsLong=true` (the
    * events table carries TIMESTAMP(NANOS), which Spark's vectorized reader
    * otherwise rejects) and SHOULD set
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` so naive
    * `timestamp[us]` columns (isAdjustedToUTC=false) infer directly as
    * session-zone TIMESTAMP — inferring NTZ and casting after the scan
    * would sit a Cast between the filter and the parquet reader and lose
    * predicate pushdown on those columns. [[normalize]] still casts any
    * NTZ column that slips through a foreign session's inference.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val reader = footerSchema(spark, path).fold(spark.read)(spark.read.schema(_))
    normalize(reader.parquet(path))
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver:
    * Spark infers it from the footer of the first data file by path,
    * which it reads in a one-task job; this reads the same footer here
    * and converts it with Spark's own conversion ([[FooterSchema]])
    * under the session's settings, so a load runs no job. None — Spark
    * infers — for a table this does not mirror (summary files, nested or
    * partitioned directories, schema merging on) and when a footer
    * cannot be read, so the plain read reports the real error.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val root = p.getFileSystem(conf).makeQualified(p)
      val (meta, data) = leafFiles(path, conf).partition(f => hidden(f.getPath.getName))
      val summaries = meta.exists(f => Seq("_metadata", "_common_metadata")
        .exists(f.getPath.getName.startsWith))
      val flat = data.forall(f => f.getPath == root || f.getPath.getParent == root)
      if (summaries || !flat) None
      else data.sortBy(_.getPath.toString).headOption.flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val footer = try reader.getFooter finally reader.close()
        FooterSchema.read(Seq(new Footer(st.getPath, footer)), spark)
      }
    } catch { case NonFatal(_) => None }

  /** Row count of `df` for the N-adaptive ladders, without a Spark job
    * when the answer is in the files' footers: when the analyzed plan is
    * a bare, non-partitioned Parquet scan (what `spark.read.parquet` and
    * [[load]] return), the footer row counts of the scan's listed files
    * are summed on the driver. Any other plan — a filter, a projection
    * over a join, a partitioned or bucketed table, a stream — runs
    * `df.count()`. The file list is the relation's own (listed when the
    * frame was built), the same files `count()` would scan, so the two
    * agree. A footer that cannot be read falls back to `count()`, which
    * reports the real error if there is one.
    */
  def rowCount(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.partitionSchema.isEmpty && r.bucketSpec.isEmpty =>
          val files = r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
          val conf = df.sparkSession.sessionState.newHadoopConf()
          try footerRowCount(files, conf)
          catch { case NonFatal(_) => df.count() }
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** Rows of the Parquet table at `path` (a file or a directory), from
    * its footers, with no SparkSession: the data files under `path`,
    * skipping the names a Spark scan skips as metadata (`_SUCCESS`,
    * `_metadata`, `.crc` and other `_`/`.`-prefixed names). */
  def footerRowCount(path: String): Long = {
    val conf = new Configuration()
    footerRowCount(leafFiles(path, conf).filterNot(f => hidden(f.getPath.getName)), conf)
  }

  /** Every file under `path` (a file or a directory), recursively. */
  private def leafFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val it = p.getFileSystem(conf).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  /** A name a Spark scan skips as metadata. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Sum of the row counts in the Parquet footers of `files`. */
  private def footerRowCount(files: Seq[FileStatus], conf: Configuration): Long =
    files.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum

  /** Normalizes timestamp storage variants across test-data generations to
    * session-zone TIMESTAMP, the type watermarks and the typed topic
    * encoders require: a raw nanos long is floored to micros with integer
    * DIV (double division loses precision above 2^53), and naive
    * `timestamp[us]` columns (isAdjustedToUTC=false, inferred as
    * TIMESTAMP_NTZ) are cast in place. Sessions run in UTC, so both casts
    * are value-identical to DuckDB's naive read of the same parquet.
    */
  /** Scale-adaptive parallelism repair for per-row-HEAVY downstream work
    * (r17, guide §2.5 "input skew — one huge unsplittable file"): parquet
    * splits align to row groups, so a single-row-group file scans as ONE
    * task no matter what maxPartitionBytes says — and a codec/kernel
    * seam above it then runs the whole corpus on one core (measured:
    * mm_decode_jpeg 4.2 s at sf0.1 on the driver's single-row-group
    * documents.parquet — 1,667 JPEG roundtrips serialized on 1 of 32
    * cores). When the planned scan width is below the session's
    * parallelism, hash-repartition the NARROW pre-kernel rows by `key`
    * (deterministic routing — no round-robin retry hazard, no
    * sort-before-repartition); when the input already splits to session
    * width (any real multi-file / multi-row-group layout — the 100-TB
    * case), this is a NO-OP and the plan is unchanged. Every caller's
    * per-row computation is partitioning-invariant by the engine-exact
    * discipline (DeterminismSpec), so results are bit-identical either
    * way. UNBOUNDED streaming frames pass through untouched (no RDD to
    * inspect; micro-batch parallelism is the trigger's own dial) — but
    * a foreachBatch micro-batch frame has isStreaming=false and a
    * LogicalRDD leaf, i.e. it IS scan-shaped and DOES get spread when
    * it arrives narrower than the session (r18, ADVICE: the r17 comment
    * claimed otherwise). That is intentional: a file-stream batch reads
    * as one split exactly like the batch corpus, so per-row-heavy
    * ingest probes would serialize per batch; StreamingSpec pins the
    * resulting (bounded, batch-side) exchange count.
    */
  def spreadScan(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming || !df.columns.contains(key)) return df
    // Probe ONLY scan-shaped frames (projection/filter/generate/limit
    // chains over a relation): anything with a shuffle-producing node
    // (join, aggregate, window, sort, repartition, union) already runs
    // at session width — and, decisively, materializing `.rdd` on such
    // an AQE plan EXECUTES its shuffle stages eagerly in a throwaway
    // query execution (measured: +0.6-0.8 s on the clean-corpus rows
    // whose near-dup stage sits over a join output). For a scan-shaped
    // plan `.rdd` is pure planning — it just exposes the file-split
    // count.
    // Deduplicate is deliberately NOT whitelisted (r18, ADVICE):
    // distinct/dropDuplicates plans a shuffle, so the .rdd probe below
    // would eagerly execute it (the +0.6-0.8 s throwaway-execution cost
    // this guard exists to avoid) — and its output already runs at
    // session width, so the spread would buy nothing.
    import org.apache.spark.sql.catalyst.plans.logical._
    val scanShaped = df.queryExecution.analyzed.collect {
      case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias |
                _: GlobalLimit | _: LocalLimit) => n
      case l: LeafNode => l
    }.size == df.queryExecution.analyzed.collect { case n => n }.size
    if (!scanShaped) return df
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width, col(key))
  }

  def normalize(df: DataFrame): DataFrame = {
    val nanosFixed =
      if (df.columns.contains("ts") && df.schema("ts").dataType == LongType)
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      else df
    nanosFixed.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(nanosFixed)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
