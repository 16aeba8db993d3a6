package graft

import graft.core.LakeStorage
import graft.sinks.Bucketed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withRoot(f: String => Unit): Unit = {
    val root = SparkTestSession.tmp("bucketed-spec").toString
    try f(root)
    finally new LakeStorage(spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("bucketed write is a lossless identity, one file per bucket") {
    withRoot { root =>
      val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      Bucketed.write(df, "graft_spec_identity", s"$root/t", Seq("k"), 8)
      try {
        val back = Bucketed.table(spark, "graft_spec_identity")
        assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
          df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
        val files = new java.io.File(s"$root/t")
          .listFiles().count(_.getName.endsWith(".parquet"))
        assert(files == 8, s"expected one file per bucket, got $files")
      } finally Bucketed.drop(spark, "graft_spec_identity")
    }
  }

  test("co-bucketed join + same-key agg plan exchange-free") {
    withRoot { root =>
      val left = (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "x")
      val right = (0L until 97L).map(k => (k, s"dim$k")).toDF("k", "name")
      Bucketed.write(left, "graft_spec_l", s"$root/l", Seq("k"), 4)
      Bucketed.write(right, "graft_spec_r", s"$root/r", Seq("k"), 4)
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val l = Bucketed.table(spark, "graft_spec_l")
        val r = Bucketed.table(spark, "graft_spec_r")
        val j = l.join(r, "k").groupBy("k")
          .agg(sum(col("x")).as("sx"), max(col("name")).as("nm"))
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"co-bucketed join+agg must not shuffle:\n$plan")
        assert(plan.contains("SortMergeJoin"),
          s"expected a bucket-aligned SMJ:\n$plan")
        // and the truth is the plain join's truth
        val expected = left.join(right, "k").groupBy("k")
          .agg(sum(col("x")).as("sx"), max(col("name")).as("nm"))
          .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getString(2))).toSet
        assert(j.collect().map(r0 =>
          (r0.getLong(0), r0.getLong(1), r0.getString(2))).toSet == expected)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        Bucketed.drop(spark, "graft_spec_l")
        Bucketed.drop(spark, "graft_spec_r")
      }
    }
  }

  test("mismatched bucket counts fall back to a shuffled join, same truth") {
    withRoot { root =>
      val left = (1 to 500).map(i => (i.toLong % 31, i.toLong)).toDF("k", "x")
      val right = (0L until 31L).map(k => (k, k * 10)).toDF("k", "y")
      Bucketed.write(left, "graft_spec_m4", s"$root/l", Seq("k"), 4)
      Bucketed.write(right, "graft_spec_m6", s"$root/r", Seq("k"), 6)
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = Bucketed.table(spark, "graft_spec_m4")
          .join(Bucketed.table(spark, "graft_spec_m6"), "k")
        // 4 vs 6 buckets can't align; correctness must survive the
        // fallback (Spark may still bucket-scan ONE side)
        assert(j.count() == 500)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        Bucketed.drop(spark, "graft_spec_m4")
        Bucketed.drop(spark, "graft_spec_m6")
      }
    }
  }
}
