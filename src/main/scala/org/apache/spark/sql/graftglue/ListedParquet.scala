package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** A parquet read planned from file statuses the caller already
  * holds. `spark.read.parquet(files: _*)` checks every path with an
  * `exists` call and then lists every path again, through a Spark job
  * once there are more than `parallelPartitionDiscovery.threshold` of
  * them. A caller that knows its exact file set lists their parent
  * directories once ([[listLeafFiles]]) and hands the statuses to
  * [[read]], which plans the same `HadoopFsRelation` over an
  * `InMemoryFileIndex` whose status cache already holds them.
  */
object ListedParquet {

  /** Leaf file statuses under `dirs`, through Spark's own listing
    * (`HadoopFSUtils.parallelListLeafFiles`, the one
    * `InMemoryFileIndex` uses): on the driver for at most
    * `parallelPartitionDiscovery.threshold` directories, as a listing
    * job above it. A missing directory lists as empty. */
  def listLeafFiles(spark: SparkSession, dirs: Seq[Path]): Seq[FileStatus] = {
    val conf = spark.sessionState.conf
    HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, dirs,
      spark.sessionState.newHadoopConf(), null, conf.ignoreMissingFiles,
      conf.ignoreDataLocality, conf.parallelPartitionDiscoveryThreshold,
      conf.parallelPartitionDiscoveryParallelism).flatMap(_._2)
  }

  /** Spark's planning-time missing-path error (`PATH_NOT_FOUND`). */
  def pathNotFound(path: String): Throwable =
    QueryCompilationErrors.dataPathNotExistError(path)

  /** `spark.read.option("basePath", basePath)[.schema(s)].parquet(files)`
    * over exactly `files`, with no filesystem call beyond the
    * `basePath` directory check; without `schema` the data schema is
    * inferred from the footers (one job), as the reader does. */
  def read(
      spark: SparkSession,
      basePath: String,
      files: Seq[FileStatus],
      schema: Option[StructType]): DataFrame = {
    val byPath = files.map(s => s.getPath -> Array(s)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(
      spark, files.map(_.getPath), options, schema, listed)
    val format = new ParquetFileFormat
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = schema
      .map(s => StructType(s.filterNot(f =>
        partitionSchema.exists(p => resolver(p.name, f.name)))))
      .orElse(format.inferSchema(spark, options, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, format, options)(spark))
  }

  /** `schema` with every field nullable, nested struct fields, array
    * elements and map values included — what a parquet round trip
    * reports (the reader applies the same `asNullable`). */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
