package graft

import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** `Tables.load` reads a table's schema from a footer on the driver; it
  * must be the schema, and give the rows, that `spark.read.parquet` gives.
  */
class TablesSpec extends SparkSpec {

  test("Tables.load's schema and rows equal spark.read.parquet's for every table") {
    for (name <- Tables.names) {
      val path = s"$sf/$name.parquet"
      val loaded = Tables.load(spark, sf, name)
      val read = Tables.normalize(spark.read.parquet(path))
      assert(loaded.schema === read.schema, name)
      assert(loaded.exceptAll(read).isEmpty && read.exceptAll(loaded).isEmpty, name)
    }
  }

  test("tables the footer read does not mirror keep Spark's inference: a " +
      "partitioned directory keeps its partition column, and a multi-file " +
      "directory reads every file") {
    val root = java.nio.file.Files.createTempDirectory("graft-tables")
    try {
      val emb = Tables.load(spark, sf, "embeddings")
      emb.withColumn("part", col("vec_id") % 4)
        .write.partitionBy("part").parquet(s"$root/parted.parquet")
      emb.repartition(3).write.parquet(s"$root/multi.parquet")
      for (name <- Seq("parted", "multi")) {
        val loaded = Tables.load(spark, root.toString, name)
        val read = spark.read.parquet(s"$root/$name.parquet")
        assert(loaded.schema === read.schema, name)
        assert(loaded.count() === emb.count(), name)
      }
    } finally {
      val fs = java.nio.file.Files.walk(root)
      try fs.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally fs.close()
    }
  }
}
