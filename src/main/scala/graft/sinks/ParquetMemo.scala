package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftglue.ListedParquet
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The parquet reads of sidecars, corpus tables, contract tables and
  * index metadata: planned on the driver by [[ListedParquet]], with no
  * Spark job before the data is touched, and memoized in [[LakeMemo]]
  * under the listing each read already made.
  *
  *  - [[readFiles]] reads an explicit file list, [[readDir]] a
  *    directory. Neither runs a schema-inference job, on the first
  *    read or any later one: inference reads one footer on the driver,
  *    and that footer's schema is memoized under the status of the
  *    footer file, taken from the read's own file index. A rewritten
  *    footer file (new name, length or mtime) misses.
  *  - [[readContract]] reads a table under an explicit contract schema
  *    and compares the stored schema with the contract on every read,
  *    a memo hit while the footer is unchanged. A table that drifts
  *    after its first read fails loudly on the next one.
  *  - [[metaRows]] collects a tiny index metadata table (LSH planes,
  *    IVF centroids, PQ codebooks) under the signature of its directory
  *    read's listing: one listing and no Spark job while the table is
  *    unchanged, one job (the collect) when it changed.
  */
private[graft] object ParquetMemo {

  private val Footers = new LakeMemo.Slot[StructType]
  private val MetaRows = new LakeMemo.Slot[(StructType, Array[Row])]

  /** `file`'s footer schema, memoized under `file`'s status. */
  private def footerSchema(spark: SparkSession)(file: FileStatus): StructType =
    LakeMemo(Footers, file.getPath.getParent.toString, LakeMemo.signature(Seq(file)))(
      ListedParquet.footerSchema(spark, file))

  /** `spark.read.option("basePath", dir).parquet(files: _*)`, with
    * `ignoreMissingFiles` when `ignoreMissing`, planned from
    * [[ListedParquet.fileStatuses]] in place of the reader's `exists`
    * call per file: the files listed as the reader lists them (on the
    * driver up to `parallelPartitionDiscovery.threshold` of them, a
    * listing job above it), or with `byDirectory` one listing per
    * distinct parent directory — for a read of whole directories, such
    * as a sidecar's committed generation. A missing file fails here
    * with Spark's `PATH_NOT_FOUND`, as the reader does; `ignoreMissing`
    * covers only files that vanish after planning. */
  def readFiles(
      spark: SparkSession,
      dir: String,
      files: Seq[String],
      ignoreMissing: Boolean = false,
      byDirectory: Boolean = false): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = ListedParquet.fileStatuses(spark,
      files.map(f => fs.makeQualified(new Path(f))), byDirectory)
    val options = Map("basePath" -> dir) ++
      Option.when(ignoreMissing)("ignoreMissingFiles" -> "true")
    ListedParquet.read(spark, statuses, options, None, footerSchema(spark))
  }

  /** `spark.read.parquet(dir)`: one driver-side listing of `dir`. */
  def readDir(spark: SparkSession, dir: String): DataFrame =
    ListedParquet.readDir(spark, dir, None, footerSchema(spark))

  /** `spark.read.schema(contract).parquet(dir)` for an existing table
    * whose schema is fixed by contract (the per-micro-batch reads of
    * TRUSTED and aggregate state; every field read nullable, as a
    * parquet round trip reports it). An explicit schema silently drops
    * stored columns the contract lacks and reads contract columns the
    * table lacks as NULL, so every read compares the stored schema
    * (the footer inference would read) with the contract by field name
    * and type, nullability aside, and fails naming both on any
    * difference. */
  def readContract(spark: SparkSession, dir: String, contract: StructType): DataFrame = {
    val df = ListedParquet.readDir(spark, dir, Some(ListedParquet.asNullable(contract)))
    ListedParquet.storedSchema(df, footerSchema(spark)).foreach { stored =>
      def fields(s: StructType) =
        ListedParquet.asNullable(s).map(f => f.name -> f.dataType).toMap
      val (have, want) = (fields(stored), fields(contract))
      val diverged = (have.keySet ++ want.keySet).filter(n => have.get(n) != want.get(n))
      if (diverged.nonEmpty) throw new IllegalStateException(
        s"stored schema at $dir diverged from its contract in " +
          s"${diverged.toSeq.sorted.mkString(", ")}\n  stored:   ${stored.toDDL}" +
          s"\n  contract: ${contract.toDDL}")
    }
    df
  }

  /** The footer of the parquet file at `path`: one driver-side read,
    * no Spark job, with `conf`'s read options. The no-options
    * `ParquetFileReader.open` builds a fresh `Configuration`, which
    * re-parses Hadoop's default XML on every call. */
  def footer(conf: org.apache.hadoop.conf.Configuration, path: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  /** Row count of the parquet file at `path`, from its [[footer]]. */
  def footerRows(conf: org.apache.hadoop.conf.Configuration, path: Path): Long =
    footer(conf, path).getBlocks.asScala.map(_.getRowCount).sum

  /** Collected rows (+ schema) of the tiny metadata table at `dir`,
    * memoized under the listing of its directory read. */
  def metaRows(spark: SparkSession, dir: String): (StructType, Array[Row]) = {
    val df = readDir(spark, dir)
    LakeMemo(MetaRows, new Path(dir).toString,
      LakeMemo.signature(ListedParquet.dataFiles(df)))((df.schema, df.collect()))
  }

  /** First row of the metadata table (LSH `(planes, seed)` row, PQ
    * codebooks row). */
  def metaHead(spark: SparkSession, dir: String): Row = {
    val (_, rows) = metaRows(spark, dir)
    require(rows.nonEmpty, s"empty metadata table at $dir")
    rows(0)
  }

  /** The metadata table as a LOCAL-relation DataFrame: joins and
    * broadcasts against it never launch a collect/exchange job (a
    * `LocalTableScan` is collected driver-side). */
  def metaDF(spark: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = metaRows(spark, dir)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
