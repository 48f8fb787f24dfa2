package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema a Parquet read infers from `footers`, converted by Spark's
  * own `ParquetFileFormat.readSchema` (package-private to Spark) under
  * the session's settings — for footers already read on the driver. */
object FooterSchema {
  def read(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
