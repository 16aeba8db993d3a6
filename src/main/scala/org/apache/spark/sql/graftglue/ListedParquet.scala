package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions}
import org.apache.spark.sql.execution.datasources.parquet.graftglue.FooterSchema
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet reads planned on the driver from file statuses, with no
  * Spark job before the data is touched.
  *
  * `spark.read.parquet(files: _*)` checks every path with an `exists`
  * call and then lists every path again, through a Spark job once
  * there are more than `parallelPartitionDiscovery.threshold` of them.
  * A caller that knows its exact file set lists their parent
  * directories once ([[listLeafFiles]]) and hands the statuses to
  * [[read]], which plans the same `HadoopFsRelation` over an
  * `InMemoryFileIndex` whose status cache already holds them.
  *
  * Without a user schema, the reader infers the data schema in a
  * one-task job that reads one footer. [[inferSchema]] reads that same
  * footer on the driver and converts it with Spark's own
  * footer-to-schema code, so the session's parquet confs
  * (`nanosAsLong`, `inferTimestampNTZ`, binary-as-string) still apply.
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

  /** The statuses of exactly `files` (qualified paths), through
    * [[listLeafFiles]] of the files themselves, as the reader lists
    * them, or (`byDirectory`) of each distinct parent directory once —
    * one listing per directory for a read of (nearly) whole
    * directories, where per-file listing runs a job above the
    * threshold. A file absent from the listing fails here with the
    * reader's `PATH_NOT_FOUND`. */
  def fileStatuses(spark: SparkSession, files: Seq[Path], byDirectory: Boolean): Seq[FileStatus] = {
    val listed = listLeafFiles(spark,
      if (byDirectory) files.map(_.getParent).distinct else files.distinct)
      .map(s => s.getPath -> s).toMap
    files.map(p => listed.getOrElse(p, throw pathNotFound(p.toString)))
  }

  /** Spark's planning-time missing-path error (`PATH_NOT_FOUND`). */
  def pathNotFound(path: String): Throwable =
    QueryCompilationErrors.dataPathNotExistError(path)

  /** `spark.read[.option("basePath", b)][.schema(s)].parquet(files)`
    * over exactly `files`, with no filesystem call beyond the
    * `basePath` directory check. */
  def read(
      spark: SparkSession,
      files: Seq[FileStatus],
      basePath: Option[String],
      schema: Option[StructType]): DataFrame =
    read(spark, files, basePath.map("basePath" -> _).toMap, schema, footerSchema(spark, _))

  /** [[read]] with the reader `options`, inferring a missing schema
    * with `footer` as the footer-to-schema read (a memoizing caller
    * passes its own). */
  def read(
      spark: SparkSession,
      files: Seq[FileStatus],
      options: Map[String, String],
      schema: Option[StructType],
      footer: FileStatus => StructType): DataFrame = {
    val byPath = files.map(s => s.getPath -> Array(s)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    relation(spark, new InMemoryFileIndex(
      spark, files.map(_.getPath), options, schema, listed), options, schema, footer)
  }

  /** `spark.read[.schema(s)].parquet(dir)` for a directory the caller
    * knows exists: one driver-side listing of `dir`, and no schema
    * job. */
  def readDir(spark: SparkSession, dir: String, schema: Option[StructType]): DataFrame =
    readDir(spark, dir, schema, footerSchema(spark, _))

  /** [[readDir]] inferring a missing schema with `footer`. */
  def readDir(
      spark: SparkSession,
      dir: String,
      schema: Option[StructType],
      footer: FileStatus => StructType): DataFrame =
    relation(spark, new InMemoryFileIndex(
      spark, Seq(new Path(dir)), Map.empty, schema), Map.empty, schema, footer)

  private def relation(
      spark: SparkSession,
      index: InMemoryFileIndex,
      options: Map[String, String],
      schema: Option[StructType],
      footer: FileStatus => StructType): DataFrame = {
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = schema
      .map(s => StructType(s.filterNot(f =>
        partitionSchema.exists(p => resolver(p.name, f.name)))))
      .orElse(inferSchema(spark, options, index.allFiles(), footer))
      .getOrElse(throw missingRoot(spark, index)
        .getOrElse(QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, options)(spark))
  }

  /** The reader's `PATH_NOT_FOUND` for a root of `index` that does
    * not exist — checked only once a read found nothing to infer
    * from, where the reader would have failed on it first. */
  private def missingRoot(spark: SparkSession, index: InMemoryFileIndex): Option[Throwable] =
    index.rootPaths.find { p =>
      !p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }.map(p => pathNotFound(p.toString))

  /** The data schema `ParquetFileFormat.inferSchema` gives for `files`.
    * Without `mergeSchema` that is one footer's schema (`footer` of
    * [[footerToTouch]]), read on the driver; with it, Spark's own
    * inference runs, job and all. */
  private def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus],
      footer: FileStatus => StructType): Option[StructType] =
    if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema)
      new ParquetFileFormat().inferSchema(spark, options, files)
    else footerToTouch(files).map(footer)

  /** The footer non-merging inference reads: `_common_metadata`, else
    * `_metadata`, else the first data file by path. */
  private def footerToTouch(files: Seq[FileStatus]): Option[FileStatus] = {
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => !isSummary(f)))
  }

  private def isSummary(f: FileStatus): Boolean =
    Set("_common_metadata", "_metadata")(f.getPath.getName)

  /** `file`'s Spark schema, as schema inference converts it from the
    * footer (read here on the driver): the writer's stored Spark
    * schema if present, else the parquet schema under the session's
    * parquet confs. */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    FooterSchema(new Footer(file.getPath, footer), spark)
  }

  private def fsRelation(df: DataFrame): Option[(HadoopFsRelation, PartitioningAwareFileIndex)] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.collectFirst {
      case r @ HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) => (r, index)
    }

  /** The data files behind the file-source read `df` (summary, hidden
    * and `_`-prefixed files left out), from the file index the read
    * already listed; empty for any other plan. */
  def dataFiles(df: DataFrame): Seq[FileStatus] =
    fsRelation(df).toSeq.flatMap(_._2.allFiles()).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }

  /** The partition columns the file-source read `df` discovered;
    * empty for any other plan. */
  def partitionSchema(df: DataFrame): StructType =
    fsRelation(df).fold(new StructType())(_._1.partitionSchema)

  /** What inference reports for the files behind the file-source read
    * `df`, whatever schema the read itself was given: [[inferSchema]]
    * over the already-listed files, with `footer` as the footer read,
    * then the discovered partition columns. None for any other plan
    * or for no files. */
  def storedSchema(df: DataFrame, footer: FileStatus => StructType): Option[StructType] =
    fsRelation(df).flatMap { case (r, index) =>
      inferSchema(df.sparkSession, r.options, index.allFiles(), footer).map { data =>
        StructType(data.filterNot(f => r.partitionSchema.fieldNames.contains(f.name)) ++
          r.partitionSchema)
      }
    }

  /** The parallelism `FilePartition.maxSplitBytes` divides a scan's
    * bytes by: `spark.sql.files.minPartitionNum`, else the leaf-node
    * default parallelism. */
  def splitParallelism(spark: SparkSession): Int =
    spark.sessionState.conf.filesMinPartitionNum
      .getOrElse(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .leafNodeDefaultParallelism)

  /** `schema` with every field nullable, nested struct fields, array
    * elements and map values included — what a parquet round trip
    * reports (the reader applies the same `asNullable`). */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
