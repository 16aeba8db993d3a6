package graft

import graft.sources.CorpusIO
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CorpusIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  test("JSONL round-trip preserves escapes, unicode and nulls exactly") {
    val dir = SparkTestSession.tmp("corpusio").toString
    val docs = Seq(
      (1L, "plain text", Some("en")),
      (2L, "line\nbreak \"quoted\" tab\there", Some("en")),
      (3L, "ünïcödé — 中文 🙂", None),
      (4L, "", Some("fr"))
    ).toDF("doc_id", "text", "lang")
    CorpusIO.writeJsonl(docs, s"$dir/out")
    val back = CorpusIO.clean(CorpusIO.readJsonl(spark, s"$dir/out", schema))
      .as[(Long, String, Option[String])].collect().toSet
    assert(back == docs.as[(Long, String, Option[String])].collect().toSet)
  }

  test("malformed lines quarantine into _corrupt instead of failing the read") {
    val dir = SparkTestSession.tmp("corpusio2")
    val f = dir.resolve("part.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "good", "lang": "en"}
        |this is not json at all
        |{"doc_id": 2, "text": "also good", "lang": "de"}
        |""".stripMargin)
    // cache before splitting: corrupt-only-pruned plans over a RAW
    // json scan are disallowed (see readJsonl doc)
    val raw = CorpusIO.readJsonl(spark, f.toString, schema).cache()
    try {
      assert(CorpusIO.clean(raw).count() == 2)
      val bad = CorpusIO.corrupt(raw).collect()
        .map(_.getAs[String](CorpusIO.CorruptColumn))
      assert(bad.toSeq == Seq("this is not json at all"))
    } finally {
      raw.unpersist()
      ()
    }
  }

  test("CSV round-trip preserves quoting, the null sentinel, and numeric fidelity") {
    val dir = SparkTestSession.tmp("corpusio3").toString
    val rows = Seq(
      (1L, Some("has,comma"), Some(1.5)),
      (2L, Some("has \"quotes\" inside"), Some(0.1 + 0.2)), // non-representable double
      (3L, None, None),
      (4L, Some(""), Some(-0.0))                             // empty string ≠ NULL
    ).toDF("id", "s", "v")
    CorpusIO.writeCsv(rows, s"$dir/out")
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StringType),
      StructField("v", DoubleType)))
    val back = CorpusIO.clean(CorpusIO.readCsv(spark, s"$dir/out", sch))
      .as[(Long, Option[String], Option[Double])].collect().toSet
    val want = rows.as[(Long, Option[String], Option[Double])].collect().toSet
    assert(back == want) // "" stays "" and null stays null
    // pin the SIGN of zero explicitly: boxed-Double == (what Set
    // equality above uses) treats -0.0 == 0.0, so only the raw bits
    // prove the round-trip kept the negative zero
    val v4 = CorpusIO.clean(CorpusIO.readCsv(spark, s"$dir/out", sch))
      .where($"id" === 4L).as[(Long, Option[String], Option[Double])]
      .collect().head._3.get
    assert(java.lang.Double.doubleToLongBits(v4) ==
      java.lang.Double.doubleToLongBits(-0.0))
  }

  test("readCsv verifies each file's header names against the schema") {
    // enforceSchema=false: a column-reordered file must FAIL, not be
    // silently misread by position
    val dir = SparkTestSession.tmp("corpusio5")
    val f = dir.resolve("part.csv")
    java.nio.file.Files.writeString(f,
      """s,id,v
        |good,1,2.5
        |""".stripMargin)
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StringType),
      StructField("v", DoubleType)))
    val err = intercept[Exception] {
      CorpusIO.readCsv(spark, f.toString, sch).collect()
    }
    val all = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString(" ")
    assert(all.toLowerCase.contains("header"))
  }

  test("malformed CSV rows quarantine into _corrupt") {
    val dir = SparkTestSession.tmp("corpusio4")
    val f = dir.resolve("part.csv")
    java.nio.file.Files.writeString(f,
      """id,s,v
        |1,good,2.5
        |not-a-long,bad,xyz
        |3,fine,\N
        |""".stripMargin)
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StringType),
      StructField("v", DoubleType)))
    val raw = CorpusIO.readCsv(spark, f.toString, sch).cache()
    try {
      assert(CorpusIO.clean(raw).count() == 2)
      val bad = CorpusIO.corrupt(raw).collect()
        .map(_.getAs[String](CorpusIO.CorruptColumn))
      assert(bad.toSeq == Seq("not-a-long,bad,xyz"))
    } finally {
      raw.unpersist()
      ()
    }
  }

  test("quarantineSplit persists clean rows and the exact raw corrupt lines") {
    val dir = SparkTestSession.tmp("corpusio6")
    val f = dir.resolve("part.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "good", "lang": "en"}
        |garbage — ünïcödé and "quotes" survive verbatim
        |{"doc_id": 2, "text": "also good", "lang": "de"}
        |{broken json
        |""".stripMargin)
    val cleanPath = s"$dir/docs"
    val quarantinePath = s"$dir/docs__quarantine"
    val (nClean, nBad) = CorpusIO.quarantineSplit(
      spark, f.toString, schema, cleanPath, quarantinePath)
    assert((nClean, nBad) == ((2L, 2L)))
    val good = spark.read.parquet(cleanPath)
    assert(good.columns.toSeq == schema.fieldNames.toSeq) // audit column gone
    assert(good.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    val bad = spark.read.parquet(quarantinePath).collect()
    // raw lines byte-for-byte, schema fields null (auditable rows)
    assert(bad.map(_.getAs[String](CorpusIO.CorruptColumn)).toSet ==
      Set("garbage — ünïcödé and \"quotes\" survive verbatim", "{broken json"))
    assert(bad.forall(r => r.isNullAt(r.fieldIndex("doc_id"))))
  }

  test("a schema already containing the audit column is rejected up front") {
    val err = intercept[IllegalArgumentException] {
      CorpusIO.readJsonl(spark, "/nonexistent",
        schema.add(CorpusIO.CorruptColumn, StringType))
    }
    assert(err.getMessage.contains(CorpusIO.CorruptColumn))
  }
}
