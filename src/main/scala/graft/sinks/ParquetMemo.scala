package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftglue.ListedParquet
import org.apache.spark.sql.types.StructType

/** Driver-side memos that remove per-read SPARK JOBS from the sidecar
  * and index-metadata access paths (r18 optimization round).
  *
  * Two observations, both measured with `graft.JobProfile`:
  *
  *  1. Every `spark.read.parquet(...)` WITHOUT a user schema runs a
  *     schema-inference job (one task reading one footer) before the
  *     data is ever touched. A persisted-index lifecycle issues
  *     10–15 sidecar reads (snapshot probes, kept-rows guards,
  *     survivor rewrites, compactions) — each paying that footer job
  *     plus its driver-side plan/schedule gap (~0.1–0.15 s locally,
  *     one extra RPC round-trip per read against an object store).
  *     A sidecar's SCHEMA is fixed at creation by its family layout
  *     (`(file, vec_id, embedding, bucket)` etc. — commits append
  *     same-schema files, rewrites preserve it), so inference is paid
  *     once per directory and memoized; rebuilds published through
  *     [[DirSwap]] ([[SidecarMaintenance.publishDir]]) invalidate.
  *
  *  2. Index METADATA tables (LSH `(planes, seed)`, IVF centroids,
  *     PQ codebooks) are tiny one-to-nCells-row parquet tables read
  *     with `spark.read.parquet(...).head()/collect()` — TWO jobs
  *     (inference + fetch) on every refresh and every probe. The
  *     rows are memoized against a LISTING SIGNATURE of the meta
  *     directory (name:length:mtime of every file — one driver FS
  *     call, no Spark job): any rebuild/republish changes the file
  *     name (Spark part-file names are unique per write), so a stale
  *     memo cannot survive. Steady state: zero jobs per meta read.
  *
  * The trust model matches the coverage log ([[SidecarMaintenance]]):
  * only an out-of-band rewrite that preserves file names, lengths
  * AND mtimes could plant a stale meta row — the same adversary that
  * defeats any manifest system. Schema staleness additionally
  * surfaces loudly (parquet vectorized reader rejects mismatched
  * physical types) rather than as wrong rows.
  */
private[graft] object ParquetMemo {

  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private val rowsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType, Array[Row])]()
  private val contractChecked =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def key(dir: String): String = new Path(dir).toString

  /** Drop both memos for `dir` (and any meta dir beneath it) — called
    * when a whole-directory [[DirSwap]] publish (or its recovery) may
    * have replaced the sidecar wholesale. */
  def invalidate(dir: String): Unit = {
    val k = key(dir)
    schemaMemo.remove(k)
    val it = rowsMemo.keySet().iterator()
    while (it.hasNext) { if (it.next().startsWith(k)) it.remove() }
  }

  /** Test hook: simulate a fresh driver JVM. */
  private[graft] def clearAll(): Unit = {
    schemaMemo.clear(); rowsMemo.clear(); contractChecked.clear()
  }

  /** Read an explicit file list under sidecar `dir` (basePath = dir)
    * with the memoized schema; first read per dir infers once and
    * memoizes. Exactly `spark.read.option("basePath", dir)
    * .parquet(files: _*)` minus the repeat inference jobs. */
  def readFiles(spark: SparkSession, dir: String, files: Seq[String]): DataFrame = {
    val k = key(dir)
    val memo = schemaMemo.get(k)
    val reader = spark.read.option("basePath", dir)
    if (memo != null) reader.schema(memo).parquet(files: _*)
    else {
      val df = reader.parquet(files: _*)
      schemaMemo.put(k, df.schema)
      df
    }
  }

  /** [[readFiles]] with `ignoreMissingFiles` — the probe re-rank's
    * corpus read ([[SidecarMaintenance.readCandidateFiles]]): same
    * schema memo, so the steady-state probe pays no inference job.
    * Missing-path failures still surface at PLANNING time (the file
    * index lists the explicit paths regardless of schema), which is
    * what the caller's exception-driven staleness retry keys on. */
  def readFilesLenient(
      spark: SparkSession, dir: String, files: Seq[String]): DataFrame = {
    val k = key(dir)
    val memo = schemaMemo.get(k)
    val reader = spark.read.option("basePath", dir)
      .option("ignoreMissingFiles", "true")
    if (memo != null) reader.schema(memo).parquet(files: _*)
    else {
      val df = reader.parquet(files: _*)
      schemaMemo.put(k, df.schema)
      df
    }
  }

  /** Directory read of a sidecar with the memoized schema
    * (`spark.read.parquet(dir)` minus repeat inference). */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val k = key(dir)
    val memo = schemaMemo.get(k)
    if (memo != null) spark.read.schema(memo).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      schemaMemo.put(k, df.schema)
      df
    }
  }

  /** [[readFiles]] of exactly `files` without Spark's per-path
    * planning: one listing per distinct parent directory (on the
    * driver up to `parallelPartitionDiscovery.threshold` directories,
    * Spark's listing job above it) replaces the reader's `exists` call
    * per file and its "Listing leaf files" job once there are more
    * than that many files. A file absent from its directory's listing
    * fails here with Spark's `PATH_NOT_FOUND`, as the reader does. */
  def readListed(spark: SparkSession, dir: String, files: Seq[String]): DataFrame = {
    val fs = fsFor(spark, dir)
    val paths = files.map(f => fs.makeQualified(new Path(f)))
    val listed = ListedParquet.listLeafFiles(spark, paths.map(_.getParent).distinct)
      .map(s => s.getPath -> s).toMap
    val statuses = paths.map(p =>
      listed.getOrElse(p, throw ListedParquet.pathNotFound(p.toString)))
    val k = key(dir)
    val memo = Option(schemaMemo.get(k))
    val df = ListedParquet.read(spark, statuses, Some(dir), memo)
    if (memo.isEmpty) schemaMemo.put(k, df.schema)
    df
  }

  /** `spark.read.schema(asNullable(contract)).parquet(dir)` for an
    * existing table whose schema is fixed by contract (the
    * per-micro-batch reads of TRUSTED and aggregate state; every field
    * nullable, as a parquet round trip reports it). An explicit schema silently drops
    * stored columns the contract lacks and reads contract columns the
    * table lacks as NULL, so the first read of each path (per contract)
    * in this JVM compares the stored schema, from the footer inference
    * would read, with the contract by field name and type (nullability
    * aside), and fails naming both on any difference. */
  def readContract(spark: SparkSession, dir: String, contract: StructType): DataFrame = {
    val df = ListedParquet.readDir(spark, dir, Some(asNullable(contract)))
    val k = key(dir)
    if (contractChecked.get(k) != contract) {
      ListedParquet.storedSchema(df).foreach { stored =>
        def fields(s: StructType) = asNullable(s).map(f => f.name -> f.dataType).toMap
        val (have, want) = (fields(stored), fields(contract))
        val diverged = (have.keySet ++ want.keySet).filter(n => have.get(n) != want.get(n))
        if (diverged.nonEmpty) throw new IllegalStateException(
          s"stored schema at $dir diverged from its contract in " +
            s"${diverged.toSeq.sorted.mkString(", ")}\n  stored:   ${stored.toDDL}" +
            s"\n  contract: ${contract.toDDL}")
        contractChecked.put(k, contract)
      }
    }
    df
  }

  /** Row count of the parquet file at `path`, from its footer: one
    * driver-side footer read, no Spark job. */
  def footerRows(conf: org.apache.hadoop.conf.Configuration, path: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try r.getRecordCount finally r.close()
  }

  /** `schema` with every field nullable, nested ones included — what
    * a parquet round trip reports for a just-written DataFrame's
    * schema; lets write-then-validate paths pass the written schema to
    * the read-back explicitly instead of paying an inference job. */
  def asNullable(schema: StructType): StructType =
    ListedParquet.asNullable(schema)

  /** name:len:mtime of every plain file directly under `dir` — the
    * meta-table identity. One driver FS listing, no Spark job. */
  private def signature(fs: FileSystem, dir: Path): String =
    fs.listStatus(dir).iterator.filterNot(_.isDirectory)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .toSeq.sorted.mkString("\n")

  /** Collected rows (+ schema) of the tiny metadata table at `dir`,
    * memoized against the directory's listing signature. Steady
    * state: ONE `listStatus` RPC, zero Spark jobs. */
  def metaRows(spark: SparkSession, dir: String): (StructType, Array[Row]) = {
    val k = key(dir)
    val fs = fsFor(spark, dir)
    val sig = signature(fs, new Path(dir))
    val memo = rowsMemo.get(k)
    if (memo != null && memo._1 == sig) (memo._2, memo._3)
    else {
      val df = spark.read.parquet(dir)
      val rows = df.collect()
      rowsMemo.put(k, (sig, df.schema, rows))
      (df.schema, rows)
    }
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
