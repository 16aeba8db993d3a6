package graft

import graft.core.Clock
import graft.operators._
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TransformSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // T1 (utils.py:659-701): hyphen branch uses concat_ws (skips NULLs),
  // plain branch uses concat (propagates NULL).
  test("T1 null semantics: concat propagates, concat_ws skips") {
    val df = Seq(
      (Some(1L), Some("a")),
      (None: Option[Long], Some("b")),
      (Some(3L), None: Option[String]),
      (None: Option[Long], None: Option[String])
    ).toDF("id1", "id2")

    val plain = SurrogateKey.addSk(df, Seq("id1", "id2")).collect()
      .map(r => (r.get(0), r.get(1)) -> Option(r.getAs[String]("sk"))).toMap
    assert(plain((1L, "a")).isDefined)
    assert(plain((null, "b")).isEmpty)
    assert(plain((3L, null)).isEmpty)
    assert(plain((null, null)).isEmpty)

    val hyphen = SurrogateKey.addSk(df, Seq("id1", "id2"), hyphen = true).collect()
      .map(r => (r.get(0), r.get(1)) -> Option(r.getAs[String]("sk"))).toMap
    // concat_ws drops NULL args entirely: md5 of the surviving parts.
    assert(hyphen((null, "b")).contains(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("b")))
    assert(hyphen((null, null)).contains(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("")))
    assert(hyphen((1L, "a")).contains(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("1-a")))
  }

  test("T1 sk is stable across evaluations") {
    val li = graft.queries.Fixtures.tbl(spark, "/root/testdata/sf0.001", "lineitem")
    val a = SurrogateKey.addSk(li, Seq("l_orderkey", "l_linenumber"), hyphen = true)
      .select("sk").collect().map(_.getString(0)).sorted
    val b = SurrogateKey.addSk(li, Seq("l_orderkey", "l_linenumber"), hyphen = true)
      .select("sk").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  // T2 (utils.py:704-719): one literal for the whole batch, second
  // precision, cast to timestamp (NTZ — the lake's timestamps are all
  // naive, so Row.get yields LocalDateTime).
  test("T2 fixed-clock timestamp") {
    val df = Seq(1, 2, 3).toDF("x")
    val out = IngestTimestamp.add(df, Clock.Fixed("2024-06-01 12:34:56"))
    assert(out.schema("timestamp_kafka").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val vals = out.select("timestamp_kafka").distinct().collect()
    assert(vals.length == 1)
    assert(vals(0).getAs[java.time.LocalDateTime](0) ==
      java.time.LocalDateTime.parse("2024-06-01T12:34:56"))
  }

  // T3 (utils.py:722-751): years 0000-0009 → NULL, 0010+ kept; only
  // temporal columns touched.
  test("T3 garbage-year scrub boundary") {
    val df = Seq(
      (1, Timestamp.valueOf("0009-12-31 23:59:59")),
      (2, Timestamp.valueOf("0010-01-01 00:00:00")),
      (3, Timestamp.valueOf("1997-05-05 00:00:00"))
    ).toDF("id", "t")
    val out = DateQuality.repair(df).collect()
      .map(r => r.getInt(0) -> Option(r.getTimestamp(1))).toMap
    assert(out(1).isEmpty)
    assert(out(2).contains(Timestamp.valueOf("0010-01-01 00:00:00")))
    assert(out(3).contains(Timestamp.valueOf("1997-05-05 00:00:00")))
  }

  test("T3 leaves non-temporal columns alone") {
    val df = Seq((1, "0001-01-01")).toDF("id", "s")
    val out = DateQuality.repair(df).collect()
    assert(out(0).getString(1) == "0001-01-01")
  }

  // T4 deterministic mode (SURVEY.md §2.4): smallest
  // struct(all columns) row survives per sk, independent of partition
  // layout.
  test("T4 deterministic dedup keeps the min row per key") {
    val df = Seq(
      ("k1", 5, "z"), ("k1", 1, "y"), ("k1", 1, "a"),
      ("k2", 9, "x")
    ).toDF("sk", "a", "b")
    val out1 = Dedup.bySkDeterministic(df).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(out1 == Set(("k1", 1, "a"), ("k2", 9, "x")))
    // invariant under repartitioning
    val out2 = Dedup.bySkDeterministic(df.repartition(7)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(out1 == out2)
  }

  test("T4 fast path keeps exactly one row per key") {
    val df = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("sk", "v")
    val out = Dedup.bySkFast(df)
    assert(out.count() == 2)
    assert(out.select("sk").distinct().count() == 2)
  }

  // T5 (utils.py:754-819): chain order S7→T1→T2→T3→T4 and resulting
  // schema.
  test("T5 promote composes in order with expected schema") {
    val li = graft.queries.Fixtures.tbl(spark, "/root/testdata/sf0.001", "lineitem")
    val out = Promote.transform(li, Seq("l_orderkey"), hyphen = false,
      clock = Clock.ForOracle, deterministic = true)
    assert(out.columns.takeRight(2).toSeq == Seq("sk", "timestamp_kafka"))
    // one row per sk
    assert(out.count() == out.select("sk").distinct().count())
  }
}
