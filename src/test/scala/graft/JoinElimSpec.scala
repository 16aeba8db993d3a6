package graft

import graft.plans.ConstraintCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Left-join elimination must be invisible in values (every
  * eliminated query equals the rule-off answer) and visible in the
  * plan (no Join node, the dimension never scanned) — and must NOT
  * fire for any shape whose semantics the unique key alone cannot
  * prove. The false-declaration case is asserted explicitly: it is
  * the contract's sharp edge.
  */
class JoinElimSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  override def afterEach(): Unit = {
    ConstraintCatalog.clear()
    spark.conf.set("spark.graft.join.elim", "true")
  }

  private def tmp(tag: String): String =
    SparkTestSession.tmp(s"je-$tag").toString

  /** facts(fk, m) — fk 99 has no dimension row; dim(pk, label). */
  private def fixture(tag: String): (DataFrame, String) = {
    val dimPath = tmp(tag)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "label")
      .write.mode("overwrite").parquet(dimPath)
    val facts = Seq((1L, 10), (1L, 11), (2L, 20), (99L, 90))
      .toDF("fk", "m")
    (facts, dimPath)
  }

  private def dim(path: String): DataFrame = spark.read.parquet(path)

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  private def baseline(build: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.join.elim", "false")
    try build.collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.graft.join.elim", "true")
  }

  test("unused unique-keyed dimension drops from a left join, values identical") {
    val (facts, dimPath) = fixture("basic")
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("pk"))
    def q = facts.join(dim(dimPath), facts("fk") === col("pk"), "left")
      .groupBy("fk").agg(sum("m").as("s"))
    assert(!hasJoin(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // all four fact rows survive, including the dangling fk 99
    assert(q.count() === 3)
  }

  test("a filtered dimension still eliminates (subset of a unique key stays unique)") {
    val (facts, dimPath) = fixture("filtered")
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("pk"))
    def q = facts
      .join(dim(dimPath).where(col("label") =!= "c"),
        facts("fk") === col("pk"), "left")
      .select("fk", "m")
    assert(!hasJoin(q))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("shapes the key cannot prove keep their join") {
    val (facts, dimPath) = fixture("keep")
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("pk"))
    val cases: Seq[(String, DataFrame)] = Seq(
      "right column used" ->
        facts.join(dim(dimPath), facts("fk") === col("pk"), "left")
          .select(col("fk"), col("label")),
      "inner join (filters the left side)" ->
        facts.join(dim(dimPath), facts("fk") === col("pk"), "inner")
          .select("fk", "m"),
      // a RIGHT-only conjunct would be pushed into the dim as a filter
      // (and correctly still eliminate); a mixed-side non-equi predicate
      // cannot move and must block
      "mixed-side non-equi conjunct" ->
        facts.join(dim(dimPath),
            facts("fk") === col("pk") && facts("m") > col("pk"), "left")
          .select("fk", "m"))
    for ((label, q) <- cases) {
      assert(hasJoin(q), s"$label must keep the join")
      assert(q.collect().map(_.toString).sorted.toSeq === baseline(q), label)
    }
  }

  test("partial composite key never eliminates; unregistered table never eliminates") {
    val dimPath = tmp("composite")
    Seq((1L, 1L, "x"), (1L, 2L, "y")).toDF("k1", "k2", "label")
      .write.mode("overwrite").parquet(dimPath)
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("k1", "k2"))
    val facts = Seq((1L, 5)).toDF("fk", "m")
    // joining on k1 alone matches TWO dim rows — duplication if dropped
    val q = facts.join(dim(dimPath), facts("fk") === col("k1"), "left")
      .select("fk", "m")
    assert(hasJoin(q))
    assert(q.count() === 2)

    val (facts2, dimPath2) = fixture("unregistered")
    val q2 = facts2.join(dim(dimPath2), facts2("fk") === col("pk"), "left")
      .select("fk", "m")
    assert(hasJoin(q2))
  }

  test("kill switch keeps the join") {
    val (facts, dimPath) = fixture("switch")
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("pk"))
    spark.conf.set("spark.graft.join.elim", "false")
    assert(hasJoin(
      facts.join(dim(dimPath), facts("fk") === col("pk"), "left")
        .select("fk", "m")))
  }

  test("verify=true proves the claim and rejects a false one") {
    val good = tmp("verify-good")
    Seq((1L, "a"), (2L, "b")).toDF("pk", "label")
      .write.mode("overwrite").parquet(good)
    ConstraintCatalog.registerUnique(spark, good, Seq("pk"), verify = true)

    val bad = tmp("verify-bad")
    Seq((1L, "a"), (1L, "b")).toDF("pk", "label")
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalArgumentException] {
      ConstraintCatalog.registerUnique(spark, bad, Seq("pk"), verify = true)
    }
    assert(e.getMessage.contains("NOT unique"))
  }

  test("a FALSE unverified declaration yields wrong results — the documented hazard") {
    val dimPath = tmp("hazard")
    Seq((1L, "a"), (1L, "b")).toDF("pk", "label")
      .write.mode("overwrite").parquet(dimPath)
    ConstraintCatalog.registerUnique(spark, dimPath, Seq("pk")) // lie, unverified
    val facts = Seq((1L, 5)).toDF("fk", "m")
    def q = facts.join(dim(dimPath), facts("fk") === col("pk"), "left")
      .select("fk", "m")
    // the true answer duplicates the fact row; elimination returns one —
    // exactly why verify=true exists
    assert(q.count() === 1L)
    assert(baseline(q).length === 2)
  }
  test("a CHAIN of unused dimensions drops entirely (fixedpoint re-application)") {
    val (facts, dimA) = fixture("chain-a")
    val dimB = tmp("chain-b")
    Seq((10, "x"), (20, "y")).toDF("mk", "tag")
      .write.mode("overwrite").parquet(dimB)
    ConstraintCatalog.registerUnique(spark, dimA, Seq("pk"))
    ConstraintCatalog.registerUnique(spark, dimB, Seq("mk"))
    def q = facts
      .join(dim(dimA), facts("fk") === col("pk"), "left")
      .join(spark.read.parquet(dimB), facts("m") === col("mk"), "left")
      .select(facts("fk"), facts("m"))
      .groupBy("fk").agg(sum("m").as("s"))
    assert(!hasJoin(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("freshness-pinned constraint: a drifted dimension executes the real join") {
    // registerUniqueFresh proves the key AND pins the file set. The
    // append below makes pk=1 ambiguous — exactly the silent-
    // invalidation hazard: an unpinned constraint would still
    // eliminate and return one row per fact where the true left join
    // now returns two for fk=1. The pinned constraint must detect
    // the drift and fall back to executing the join.
    val (facts, dimPath) = fixture("fresh")
    ConstraintCatalog.registerUniqueFresh(spark, dimPath, Seq("pk"))
    def q = facts.join(dim(dimPath), facts("fk") === col("pk"), "left")
      .select(facts("fk"), facts("m"))
    assert(!hasJoin(q), "pinned + unchanged dimension must eliminate")
    // drift: append a duplicate key
    Seq((1L, "dup")).toDF("pk", "label")
      .coalesce(1).write.mode("append").parquet(dimPath)
    assert(hasJoin(q), "drifted dimension must fall back to the join")
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // two fk=1 facts each match the duplicated pk=1 twice: 4+1+1
    assert(q.count() === 6, "the duplicated pk=1 must surface twice per fk=1 fact")
  }

  test("catalog keys guard scheme/authority: no cross-filesystem aliasing") {
    import graft.plans.{MvCatalog, MvDef}
    // a qualified registration must not serve a different filesystem
    // whose path merely coincides
    MvCatalog.register("s3://bucket/data/t",
      MvDef(Seq("g"), Seq.empty, "/state/t"))
    assert(MvCatalog.lookup("file:/data/t").isEmpty,
      "file:/data/t must not hit the s3://bucket/data/t registration")
    assert(MvCatalog.lookup("s3://bucket/data/t").nonEmpty)
    assert(MvCatalog.lookup("s3://other/data/t").isEmpty,
      "a different authority is a different filesystem")
    // bare paths keep the single-filesystem behavior
    assert(MvCatalog.lookup("/data/t").nonEmpty,
      "a bare query path matches (single-filesystem deployments)")
    // registering the colliding other-filesystem table fails loudly
    val e = intercept[IllegalArgumentException] {
      MvCatalog.register("file:/data/t", MvDef(Seq("g"), Seq.empty, "/state/t2"))
    }
    assert(e.getMessage.contains("collision"))
    MvCatalog.unregister("s3://bucket/data/t")
    assert(MvCatalog.lookup("s3://bucket/data/t").isEmpty)
  }
}
