package graft

import graft.schema._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** §1.4 three-tier schema resolution (utils.py:143-183). */
class SchemaRegistrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("payload", StructType(Seq( // nested pass-through (§1.3)
      StructField("a", StringType),
      StructField("b", ArrayType(IntegerType)))))))

  test("tier 1: JSON file registry parses StructType.fromJson files") {
    val dir = SparkTestSession.tmp("schemas")
    Files.writeString(dir.resolve("ns_ds.json"), schema.json)
    val reg = JsonFileRegistry(dir.toString)
    assert(reg.resolve("ns", "ds").contains(schema))
    assert(reg.resolve("ns", "missing").isEmpty)
  }

  test("tier 2: existing-table registry round-trips the trusted schema through JSON") {
    val dir = SparkTestSession.tmp("trusted").toString
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/ns/ds")
    val reg = ExistingTableRegistry(spark, (n, d) => s"$dir/$n/$d")
    val got = reg.resolve("ns", "ds")
    assert(got.isDefined)
    assert(got.get.fieldNames.toSeq == Seq("id", "v"))
    assert(reg.resolve("ns", "nope").isEmpty)
  }

  test("chain resolves in registry-first order; empty chain means infer") {
    val dir = SparkTestSession.tmp("schemas2")
    Files.writeString(dir.resolve("ns_ds.json"), schema.json)
    val tableDir = SparkTestSession.tmp("trusted2").toString
    Seq((1L, "x")).toDF("other", "cols").write.parquet(s"$tableDir/ns/ds")
    val chain = ChainedRegistry(
      JsonFileRegistry(dir.toString),
      ExistingTableRegistry(spark, (n, d) => s"$tableDir/$n/$d"))
    // tier 1 wins over tier 2
    assert(chain.resolve("ns", "ds").contains(schema))
    // tier 2 used when tier 1 misses
    assert(chain.resolve("ns", "ds").isDefined)
    assert(ChainedRegistry().resolve("ns", "ds").isEmpty)
  }
}
