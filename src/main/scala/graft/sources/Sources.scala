package graft.sources

import graft.planner.Boundaries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S1-S3 — JDBC source (reference `shared_etls/etls/load_utils.py:11-46,
  * 306-362, 460-526` + query construction `utils.py:270-287`).
  *
  * The reference pushes the WHERE into the database as a dbTable
  * subquery so the range filter executes server-side; Spark passes the
  * `dbtable` string verbatim, giving exact parity. The reference reads
  * each chunk single-partition (`load_utils.py:37-44` sets no
  * partitioning options); chunk-level parallelism comes from the
  * planner. `numPartitions` here additionally allows intra-chunk
  * parallel pull at scale (SURVEY.md §4 improvement row).
  */
final case class JdbcSource(url: String, user: String, password: String, driver: Option[String] = None) {

  private def reader(spark: SparkSession) = {
    val r = spark.read
      .format("jdbc")
      .option("url", url)
      .option("user", user)
      .option("password", password)
    driver.fold(r)(d => r.option("driver", d))
  }

  /** S1 query construction (reference `utils.py:282-287`): half-open
    * `[start, end)` range pushed as a subquery aliased `subs`.
    *
    * Deviation from the reference, documented: the reference quotes
    * BOTH date and integer bounds (`'{start}'`), relying on MySQL's
    * implicit string→int coercion; strict engines (Derby, Postgres
    * with ints) reject the cross-type comparison. Numeric bounds are
    * therefore emitted as bare literals — identical semantics on
    * coercing engines, valid SQL on strict ones. */
  def rangedQuery(dataset: String, pc: String, start: String, end: String): String = {
    def lit(v: String): String =
      if (v.matches("-?\\d+")) v else s"'$v'"
    s"(select * from $dataset where $pc >= ${lit(start)} and $pc < ${lit(end)}) subs"
  }

  /** Single-partition read of a pushed subquery (the reference's
    * shape); use [[readChunksParallel]] for parallel pulls. */
  def readQuery(spark: SparkSession, query: String): DataFrame =
    reader(spark).option("dbtable", query).load()

  def readRange(spark: SparkSession, dataset: String, pc: String, start: String, end: String): DataFrame =
    readQuery(spark, rangedQuery(dataset, pc, start, end))

  /** Parallel chunked pull (SURVEY.md §4 improvement row): the
    * reference reads every chunk single-partition
    * (`load_utils.py:37-44` sets no partitioning options) and gets
    * its parallelism from the driver loop; this maps the planner's
    * half-open chunks onto JDBC partition predicates, so one read
    * pulls all chunks concurrently — one DB cursor per executor
    * slot instead of one at a time. Semantically identical to the
    * union of per-chunk S1 reads because the chunks tile. */
  def readChunksParallel(
      spark: SparkSession,
      dataset: String,
      pc: String,
      chunks: Seq[(String, String)]): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    driver.foreach(d => props.setProperty("driver", d))
    def lit(v: String): String = if (v.matches("-?\\d+")) v else s"'$v'"
    val predicates = chunks.map { case (s, e) =>
      s"$pc >= ${lit(s)} and $pc < ${lit(e)}"
    }.toArray
    spark.read.jdbc(url, dataset, predicates, props)
  }

  /** S2 — `(select min(pc) from ds) subs`, aggregate pushed to the DB,
    * one-row result collected (reference `load_utils.py:343, 358`). */
  def minValue(spark: SparkSession, dataset: String, pc: String): Any =
    readQuery(spark, s"(select min($pc) as v from $dataset) subs").head().get(0)

  /** S3 — `(select max(pc) from ds) subs` + the +300000 safety margin
    * (reference `load_utils.py:490-517`), with the reference's
    * string→int coercion of a text-typed max (`load_utils.py:509-515`). */
  def maxIntWithMargin(spark: SparkSession, dataset: String, pc: String): Long = {
    val raw = readQuery(spark, s"(select max($pc) as v from $dataset) subs").head().get(0)
    val v = raw match {
      case n: Number => n.longValue()
      case s: String => s.trim.toLong
      case other => sys.error(s"non-numeric max($pc) = $other")
    }
    v + Boundaries.SecurityMargin
  }
}

/** S4-S6 — document-store ("Mongo-like") source. No mongo connector
  * jar ships in this environment, so the source abstraction is backed
  * by parquet; the operator semantics are what the reference
  * exercises (reference `load_utils.py:49-103, 244-303, 365-457`):
  *
  *  - optional explicit schema with inference disabled
  *    (`load_utils.py:89`: `.load(schema=…, inferSchema=False)`),
  *  - a post-load INCLUSIVE `between` range filter
  *    (`load_utils.py:90` — note the asymmetry with S1's half-open
  *    range; the P6 end+1 compensation makes chunk boundaries overlap
  *    by design, healed by T4 dedup downstream),
  *  - min/max boundary aggregates evaluated by Spark.
  */
final case class MongoLikeSource(path: String) extends DocumentRanges {
  protected def base(spark: SparkSession, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
}

/** S4-S6 over a document collection, shared by [[MongoLikeSource]] and
  * [[DocStoreSource]]: `base` loads the collection, with inference
  * disabled when a schema is resolved. */
trait DocumentRanges {
  protected def base(spark: SparkSession, schema: Option[StructType]): DataFrame

  /** S4 ranged scan: inclusive `pc BETWEEN start AND end`. The filter
    * is declarative, so Catalyst pushes it into the scan (with a real
    * connector it becomes a server-side `$match`). */
  def readRange(
      spark: SparkSession,
      pc: String,
      start: Any,
      end: Any,
      schema: Option[StructType] = None): DataFrame =
    base(spark, schema).filter(col(pc).between(lit(start), lit(end)))

  /** S5 — `df.agg(min(pc))` collected to the driver (reference
    * `load_utils.py:283-299`). A resolved schema disables inference
    * here too (`load_utils.py:289`) — otherwise every boundary probe
    * pays an inference scan and may type the partition column
    * differently than the ranged reads. */
  def minValue(spark: SparkSession, pc: String, schema: Option[StructType] = None): Any =
    base(spark, schema).agg(min(col(pc))).head().get(0)

  /** S6 — `df.select(max(pc))` + the +300000 margin
    * (reference `load_utils.py:419-445`, schema at `:425`). */
  def maxIntWithMargin(spark: SparkSession, pc: String, schema: Option[StructType] = None): Long = {
    val v = base(spark, schema).select(max(col(pc))).head().getLong(0)
    v + Boundaries.SecurityMargin
  }
}

/** S7/S8 — lake parquet scans (reference `utils.py:118-124, 792-798`). */
object ParquetSource {
  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
}

/** Connector ADAPTER SEAM for document stores: URI + database +
  * collection + optional schema → DataFrame.
  *
  * The reference loads real MongoDB through the mongo-spark connector
  * (`shared_etls/etls/load_utils.py:49-103`: `spark.read.format(…)`
  * with URI/collection options and inference disabled when a schema
  * is resolved). No connector jar ships in this environment, so the
  * engine cannot BE that reader — but the option plumbing must not be
  * welded to the parquet stand-in either, or a production deployment
  * has to fork the source to swap the jar in. This trait is the seam:
  * [[DocStoreSource]] resolves the database name from the URI
  * (P7 `ConnStrings.mongoDatabaseName` — regex `database=(\w+)`,
  * namespace fallback) and routes every S4–S6 read through the
  * adapter registered for the URI's scheme.
  *
  * Dropping the real connector in is a config swap, no engine change:
  * {{{
  * DocStoreAdapters.register("mongodb", new DocStoreAdapter {
  *   def load(spark, uri, database, collection, schema) = {
  *     val r = spark.read.format("mongodb")
  *       .option("connection.uri", uri)
  *       .option("database", database)
  *       .option("collection", collection)
  *     schema.fold(r)(s => r.schema(s)).load()  // schema ⇒ no inference
  *   }
  * })
  * }}}
  */
trait DocStoreAdapter {
  def load(
      spark: SparkSession,
      uri: String,
      database: String,
      collection: String,
      schema: Option[StructType]): DataFrame
}

object DocStoreAdapters {
  private val adapters =
    new java.util.concurrent.ConcurrentHashMap[String, DocStoreAdapter]()

  /** Default adapter: the parquet-backed stand-in — the URI (scheme
    * stripped, query string dropped) is a lake directory and the
    * collection is `<dir>/<collection>.parquet`. The explicit schema
    * disables inference exactly as a real connector would. */
  object ParquetDirAdapter extends DocStoreAdapter {
    def load(
        spark: SparkSession,
        uri: String,
        database: String,
        collection: String,
        schema: Option[StructType]): DataFrame = {
      val noQuery = uri.split('?')(0)
      val dir = noQuery.indexOf("://") match {
        case -1 => noQuery
        case i => noQuery.substring(i + 3).dropWhile(_ != '/')
      }
      val path = s"$dir/$collection.parquet"
      schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
    }
  }

  def register(scheme: String, adapter: DocStoreAdapter): Unit = {
    adapters.put(scheme, adapter); ()
  }
  def unregister(scheme: String): Unit = { adapters.remove(scheme); () }

  /** Adapter for a URI, by the P7 scheme rule ([[graft.planner
    * .ConnStrings.driverName]]): `mongodb` anywhere in the URI wins;
    * else the scheme is the last `:`-segment before `://` (so both
    * `fakedb://…` and the JDBC-style `jdbc:mysql://…` resolve).
    * Unregistered schemes (and bare paths) fall back to
    * [[ParquetDirAdapter]]. */
  def forUri(uri: String): DocStoreAdapter = {
    val scheme =
      if (uri.contains("mongodb")) "mongodb"
      else uri.indexOf("://") match {
        case -1 => ""
        case i => uri.substring(0, i).split(':').last
      }
    Option(adapters.get(scheme)).getOrElse(ParquetDirAdapter)
  }
}

/** Document-store source over the [[DocStoreAdapter]] seam: the same
  * S4–S6 semantics as [[MongoLikeSource]] (inclusive `between` ranged
  * scan, min/max boundary aggregates, schema-optional load with
  * inference disabled when resolved — reference
  * `load_utils.py:49-103, 244-303, 365-457`), with the reader itself
  * swappable per URI scheme. The database name comes from the URI by
  * the reference's own rule (`utils.py:30-47`). */
final case class DocStoreSource(
    uri: String,
    collection: String,
    fallbackNamespace: String = "default") extends DocumentRanges {

  def database: String =
    graft.planner.ConnStrings.mongoDatabaseName(uri, fallbackNamespace)

  protected def base(spark: SparkSession, schema: Option[StructType]): DataFrame =
    DocStoreAdapters.forUri(uri).load(spark, uri, database, collection, schema)
}
