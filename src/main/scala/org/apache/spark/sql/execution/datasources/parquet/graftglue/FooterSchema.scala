package org.apache.spark.sql.execution.datasources.parquet.graftglue

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's footer-to-schema conversion, which is private to the
  * parquet package: the writer's stored Spark schema if the footer
  * holds one, else the parquet schema converted under the session's
  * parquet confs — the converter schema inference builds. Used by
  * `org.apache.spark.sql.graftglue.ListedParquet`. */
object FooterSchema {
  def apply(footer: Footer, spark: SparkSession): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
