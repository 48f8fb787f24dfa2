package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one local-session bootstrap every graft main and the spec suite
  * build on, so a gate or dev main reads the sf tables exactly the way
  * Verify and Bench do. A main whose run really needs a different value
  * sets it on the returned session with `spark.conf.set`, next to its
  * reason.
  */
object GraftSession {
  /** Local worker threads (and shuffle partitions): `SPARK_GRAFT_CPUS`,
    * default 32. Read once; a malformed value fails here, naming the
    * variable, before any session is built.
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => 32
    case Some(s) => s.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$s'"))
  }

  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the table-reading contract of sources.Tables.load: TIMESTAMP(NANOS)
      // reads as longs, naive timestamps infer as session-zone TIMESTAMP
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // single-FILE test tables only split on row-group boundaries;
      // 4 MB splits let a one-file corpus (ScaleGen writes 4 MB row
      // groups) scan in parallel instead of one straggler task (r12)
      .config("spark.sql.files.maxPartitionBytes", "4194304")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Row-for-row multiset equality of `got` and `want`: `exceptAll` both
    * ways catches duplicated rows as well as missing ones. Prints
    * `<tag> rows=<got>/<want> missing=… extra=… (<label>)`, with
    * `(MISMATCH)` in place of the label when they differ, and returns
    * whether they match. A frame the caller already cached is reused;
    * both are unpersisted after.
    */
  def sameRows(tag: String, label: String, got: DataFrame, want: DataFrame): Boolean = {
    def cached(df: DataFrame) = if (df.storageLevel == StorageLevel.NONE) df.cache() else df
    val g = cached(got); val w = cached(want)
    val nGot = g.count(); val nWant = w.count()
    val missing = w.exceptAll(g).count()
    val extra = g.exceptAll(w).count()
    g.unpersist(); w.unpersist()
    val same = missing == 0 && extra == 0
    println(s"$tag rows=$nGot/$nWant missing=$missing extra=$extra " +
      (if (same) s"($label)" else "(MISMATCH)"))
    same
  }
}
