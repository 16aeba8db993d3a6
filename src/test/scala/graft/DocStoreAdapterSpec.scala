package graft

import graft.sources.{DocStoreAdapter, DocStoreAdapters, DocStoreSource, MongoLikeSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The connector adapter seam must make the real mongo-spark jar a
  * CONFIG swap: the source resolves the database from the URI (the
  * reference's `database=(\w+)` rule), forwards URI / database /
  * collection / schema verbatim to whatever adapter the scheme
  * registers, and keeps the S4–S6 semantics identical to the
  * parquet-backed stand-in. */
class DocStoreAdapterSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  override def afterEach(): Unit = {
    DocStoreAdapters.unregister("fakedb")
    DocStoreAdapters.unregister("mongodb")
  }

  test("default parquet adapter: bare-path URI, S4/S5/S6 parity with MongoLikeSource") {
    val seam = DocStoreSource(sf, "orders")
    val standIn = MongoLikeSource(s"$sf/orders.parquet")
    val a = seam.readRange(spark, "o_orderkey", 100, 200)
    val b = standIn.readRange(spark, "o_orderkey", 100, 200)
    assert(a.count() == b.count() && a.count() > 0)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "inclusive-between semantics must match the stand-in exactly")
    assert(seam.minValue(spark, "o_orderkey") == standIn.minValue(spark, "o_orderkey"))
    assert(seam.maxIntWithMargin(spark, "o_orderkey") ==
      standIn.maxIntWithMargin(spark, "o_orderkey"))
  }

  test("registered adapter receives URI / database / collection / schema verbatim") {
    val seen = new java.util.concurrent.atomic.AtomicReference[
      (String, String, String, Option[StructType])]()
    DocStoreAdapters.register("fakedb", new DocStoreAdapter {
      def load(s: SparkSession, uri: String, database: String,
               collection: String, schema: Option[StructType]): DataFrame = {
        seen.set((uri, database, collection, schema))
        // serve from the fixture so the query above the seam still runs
        schema.fold(s.read.parquet(s"$sf/orders.parquet"))(sc =>
          s.read.schema(sc).parquet(s"$sf/orders.parquet"))
      }
    })
    val uri = "fakedb://user:pw@host1:27017,host2:27017/?database=proddb&replicaSet=rs0"
    val schema = spark.read.parquet(s"$sf/orders.parquet").schema
    val src = DocStoreSource(uri, "orders", fallbackNamespace = "ns_fallback")
    val out = src.readRange(spark, "o_orderkey", 1, 50, Some(schema))
    assert(out.count() > 0)
    val (gotUri, gotDb, gotColl, gotSchema) = seen.get()
    assert(gotUri == uri, "the connection URI must pass through untouched")
    assert(gotDb == "proddb",
      "database must resolve from the URI by the reference's database=(\\w+) rule")
    assert(gotColl == "orders")
    assert(gotSchema.contains(schema),
      "a resolved schema must reach the adapter (inference disabled)")

    // no database= in the URI → the namespace fallback (utils.py:30-47)
    src.copy(uri = "fakedb://host/x").minValue(spark, "o_orderkey")
    assert(seen.get()._2 == "ns_fallback")
  }

  test("mongodb anywhere in the URI routes to the mongodb adapter (P7 scheme rule)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    DocStoreAdapters.register("mongodb", new DocStoreAdapter {
      def load(s: SparkSession, uri: String, database: String,
               collection: String, schema: Option[StructType]): DataFrame = {
        hits.incrementAndGet()
        s.read.parquet(s"$sf/orders.parquet")
      }
    })
    DocStoreSource("mongodb+srv://cluster0.example.net/?database=d", "orders")
      .minValue(spark, "o_orderkey")
    assert(hits.get() == 1, "mongodb+srv URIs must route to the mongodb adapter")
  }

  test("the resync flow runs unchanged over an adapter-backed source (DocRanged)") {
    import graft.app.ResyncJob
    import graft.core.{DatasetRef, LakePaths}
    DocStoreAdapters.register("fakedb", new DocStoreAdapter {
      def load(s: SparkSession, uri: String, database: String,
               collection: String, schema: Option[StructType]): DataFrame =
        s.read.parquet(s"$sf/$collection.parquet")
    })
    val lake = LakePaths(
      SparkTestSession.tmp("docseam").toString)
    val ref = DatasetRef("test", "fakedb", "orders")
    val src = DocStoreSource("fakedb://host/?database=tpch", "orders")
    val truth = spark.read.parquet(s"$sf/orders.parquet")
    val maxKey = truth.agg(max("o_orderkey")).head().getLong(0)
    ResyncJob.runInt(
      spark, ResyncJob.DocRanged(src), pc = "o_orderkey", ref = ref,
      lake = lake, cliEnd = Some(maxKey), estimatedRows = truth.count(),
      withRecovery = false, sleep = _ => ())
    val work = spark.read.parquet(lake.work(ref))
    // document ranges are INCLUSIVE and chunks overlap at boundaries
    // by P6 design — healed by T4 at promote; distinct keys must tile
    assert(work.select("o_orderkey").distinct().count() == truth.count())
  }
}
