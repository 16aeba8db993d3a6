package graft

import graft.core.Meter
import graft.sinks.{AggStateSink, MergeUpsert, ParquetMemo}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.graftglue.ListedParquet
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side schema reads on the promote and state paths: the
  * inferred read equals Spark's reader without its inference job, and
  * the explicit-schema (contract) reads fail loudly on a stored table
  * whose schema has drifted from the contract, instead of silently
  * cutting it down to the contract's columns. */
class SchemaContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String) = SparkTestSession.tmp(name).toString + "/t"

  private def jobsDuring(body: => Unit): Int = Meter.during(spark)(body)._2.jobs.size

  /** A parquet file written without Spark's schema metadata: a
    * TIMESTAMP(NANOS) column (read as a long under the session's
    * `nanosAsLong`) and an unannotated binary column. */
  private def foreignFile(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); optional binary b; required int32 n; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(s"$dir/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000000000000L)
      .append("b", org.apache.parquet.io.api.Binary.fromString("x")).append("n", 7))
    finally w.close()
  }

  test("ListedParquet.readDir: Spark's reader schema, with no Spark job") {
    val sparkWritten = tmp("inferred")
    Seq((1L, "a", BigDecimal("1.50"), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "s", "d", "ts")
      .withColumn("nested", struct($"id", struct($"s".as("inner")).as("deep")))
      .withColumn("arr", org.apache.spark.sql.functions.array($"id"))
      .write.parquet(sparkWritten)
    val foreign = tmp("foreign")
    foreignFile(foreign)
    Seq(sparkWritten, foreign).foreach { dir =>
      var got: StructType = null
      assert(jobsDuring { got = ListedParquet.readDir(spark, dir, None).schema } == 0)
      assert(got == spark.read.parquet(dir).schema, dir)
      assert(ListedParquet.readDir(spark, dir, None).collect().toSeq ==
        spark.read.parquet(dir).collect().toSeq)
    }
    assert(ListedParquet.readDir(spark, foreign, None).schema("ts").dataType == LongType)
  }

  test("readContract: a stored schema diverged from its contract fails naming both") {
    val contract = StructType(Seq(StructField("sk", StringType), StructField("v", IntegerType)))
    val widened = tmp("widened")
    Seq(("a", 1, "x")).toDF("sk", "v", "extra").write.parquet(widened)
    val e1 = intercept[IllegalStateException](ParquetMemo.readContract(spark, widened, contract))
    assert(e1.getMessage.contains("extra") && e1.getMessage.contains("extra STRING") &&
      e1.getMessage.contains(contract.toDDL), e1.getMessage)

    val retyped = tmp("retyped")
    Seq(("a", 1L)).toDF("sk", "v").write.parquet(retyped)
    val e2 = intercept[IllegalStateException](ParquetMemo.readContract(spark, retyped, contract))
    assert(e2.getMessage.contains("in v") && e2.getMessage.contains("v BIGINT"), e2.getMessage)
  }

  test("readContract: column order and nullability are not drift") {
    val dir = tmp("order")
    Seq((1, "a")).toDF("v", "sk").write.parquet(dir) // v non-nullable, other order
    val contract = StructType(Seq(StructField("sk", StringType), StructField("v", IntegerType)))
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = ParquetMemo.readContract(spark, dir, contract) } == 0)
    assert(df.as[(String, Int)].collect().toSeq == Seq(("a", 1)))
  }

  test("applyChangesInto over a table widened out of band fails instead of dropping the column") {
    val dir = tmp("applydrift")
    Seq(("a", 1, "keep me")).toDF("sk", "v", "note").write.parquet(dir)
    val log = Seq(("b", 2, "I", 1)).toDF("sk", "v", "op", "seq")
    val e = intercept[IllegalStateException](MergeUpsert.applyChangesInto(spark, dir, log))
    assert(e.getMessage.contains("note"), e.getMessage)
    assert(spark.read.parquet(dir).as[(String, Int, String)].collect().toSeq == Seq(("a", 1, "keep me")))
  }

  test("AggStateSink.maintainInto over a diverged stored state fails instead of reading NULLs") {
    val dir = tmp("statedrift")
    val delta = Seq(("g", 5L, 1)).toDF("g", "x", "__sign")
    val contract = graft.operators.Cdc.aggState(delta.drop("__sign").limit(0), Seq("g"), Seq("x"))
    // the stored state lost its first sum column to a rename
    val renamed = contract.columns.map(c => if (c == contract.columns(1)) s"${c}_old" else c)
    contract.toDF(renamed: _*).write.parquet(dir)
    val e = intercept[IllegalStateException](
      AggStateSink.maintainInto(spark, dir, delta, Seq("g"), Seq("x"), batchId = 1))
    assert(e.getMessage.contains(contract.columns(1)), e.getMessage)
  }
}
