package graft

import graft.operators.Cdc
import graft.plans.{MvCatalog, MvDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The materialized-view rewrite must be invisible in VALUES (every
  * rewritten query equals the base-scan answer bit for bit) and
  * visible in the PLAN (the base relation is gone, the state relation
  * is scanned). Every law here grades the rewritten plan against the
  * same query with the rule disabled, plus plan-shape asserts and the
  * poisoned-state proof that answers really come from the state.
  */
class MvRewriteSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  override def afterEach(): Unit = {
    MvCatalog.clear()
    spark.conf.set("spark.graft.mv.rewrite", "true")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mv-$tag").toString

  /** Two group columns (one nullable), a decimal and a long sum
    * column (both nullable), an all-null sum group. */
  private def baseDf: DataFrame = Seq(
    (Option("A"), 1, Option("10.25"), Option(5L)),
    (Option("A"), 1, Option("2.50"), None),
    (Option("A"), 2, Option("7.00"), Option(1L)),
    (Option("B"), 1, None, Option(11L)),
    (Option("B"), 1, None, Option(4L)),
    (None, 2, Option("3.75"), Option(2L)),
    (Option("C"), 3, Option("-1.25"), Option(-9L))
  ).toDF("g1", "g2", "v", "q")
    .select(col("g1"), col("g2"), col("v").cast("decimal(12,2)").as("v"), col("q"))

  /** Writes base + its aggState, registers the view, returns
    * (basePath, statePath, the base read back through its path). */
  private def fixture(tag: String): (String, String, DataFrame) = {
    val basePath = tmp(s"$tag-base")
    val statePath = tmp(s"$tag-state")
    baseDf.write.mode("overwrite").parquet(basePath)
    Cdc.aggState(spark.read.parquet(basePath), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Seq("v", "q"), statePath))
    (basePath, statePath, spark.read.parquet(basePath))
  }

  /** Root paths of every file relation the optimized plan scans —
    * the plan's printed form truncates locations, so asserts go
    * through the relations themselves. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty[String]
        }
    }.flatten

  private def scansState(df: DataFrame, statePath: String, basePath: String): Boolean = {
    val paths = scanPaths(df)
    paths.exists(_.startsWith(statePath)) && !paths.exists(_.startsWith(basePath))
  }

  /** Same query answered with the rule off — the base-scan truth. */
  private def baseline(build: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try build.collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.graft.mv.rewrite", "true")
  }

  test("direct-group rewrite: state scan replaces the base, values identical") {
    val (basePath, statePath, base) = fixture("direct")
    def q = base.groupBy("g1", "g2").agg(
      count(lit(1)).as("n_rows"), count(col("v")).as("n_v"),
      sum(col("v")).as("sum_v"), sum(col("q")).as("sum_q"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // the rewrite may not change the result schema the caller sees
    assert(q.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("g1", q.schema("g1").dataType), ("g2", q.schema("g2").dataType),
        ("n_rows", org.apache.spark.sql.types.LongType),
        ("n_v", org.apache.spark.sql.types.LongType),
        ("sum_v", org.apache.spark.sql.types.DecimalType(22, 2)),
        ("sum_q", org.apache.spark.sql.types.LongType)))
  }

  test("rollup to a subset group + filter on a group column commute through the state") {
    val (basePath, statePath, base) = fixture("rollup")
    def q = base.where(col("g2") =!= 3)
      .groupBy("g1")
      .agg(count(lit(1)).as("n_rows"), sum(col("q")).as("sum_q"),
        count(col("q")).as("n_q"), sum(col("v")).as("sum_v"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("global aggregate rolls up the whole state; empty state keeps count-over-empty = 0") {
    val (basePath, statePath, base) = fixture("global")
    def q = base.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    assert(scansState(q, statePath, basePath))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))

    // empty base, empty state: the rewritten global aggregate must
    // still produce the SQL one-row (0, NULL) answer
    val emptyBase = tmp("global-emptyb")
    val emptyState = tmp("global-empties")
    baseDf.where(lit(false)).write.mode("overwrite").parquet(emptyBase)
    Cdc.aggState(spark.read.parquet(emptyBase), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(emptyState)
    MvCatalog.register(emptyBase, MvDef(Seq("g1", "g2"), Seq("v", "q"), emptyState))
    val eq = spark.read.parquet(emptyBase)
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    assert(scanPaths(eq).exists(_.startsWith(emptyState)))
    val row = eq.collect().head
    assert(row.getLong(0) === 0L && row.isNullAt(1))
  }

  test("answers really come from the state: a poisoned state row surfaces (freshness is the caller's contract)") {
    val (basePath, _, base) = fixture("poison")
    val poisoned = tmp("poison-state")
    Cdc.aggState(baseDf, Seq("g1", "g2"), Seq("v", "q"))
      .withColumn("n",
        when(col("g1") === "A" && col("g2") === 1, lit(1000L)).otherwise(col("n")))
      .write.mode("overwrite").parquet(poisoned)
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Seq("v", "q"), poisoned))
    val n = base.where(col("g1") === "A" && col("g2") === 1)
      .groupBy("g1").agg(count(lit(1)).as("n_rows"))
      .collect().head.getLong(1)
    assert(n === 1000L, "query did not read the (poisoned) state")
  }

  test("non-rewritable shapes keep the base scan and stay correct") {
    val (basePath, statePath, base) = fixture("fallback")
    val shapes: Seq[(String, DataFrame)] = Seq(
      // filter on a non-group column
      "filter on sum col" ->
        base.where(col("q") > 0).groupBy("g1").agg(count(lit(1)).as("n")),
      // avg over a DECIMAL column: base Average's division precision
      // depends on the child type the state no longer carries — only
      // integral avg serves (see the dedicated avg law)
      "decimal avg" -> base.groupBy("g1").agg(avg(col("v")).as("a")),
      // unsupported aggregate function
      "stddev" -> base.groupBy("g1").agg(stddev(col("q")).as("a")),
      // DISTINCT aggregate
      "count distinct" ->
        base.groupBy("g1").agg(countDistinct(col("q")).as("d")),
      // grouping by an expression, not a bare column
      "expr group" ->
        base.groupBy(substring(col("g1"), 1, 1).as("p")).agg(sum(col("q")).as("s")),
      // aggregating a column the view does not carry sums for
      "sum of group col" -> base.groupBy("g1").agg(sum(col("g2")).as("s")))
    for ((label, q) <- shapes) {
      val paths = scanPaths(q)
      assert(paths.exists(_.startsWith(basePath)) && !paths.exists(_.startsWith(statePath)),
        s"$label should not rewrite: ${paths.mkString(", ")}")
      assert(q.collect().map(_.toString).sorted.toSeq === baseline(q), label)
    }
  }

  test("avg(integral sum col) serves as sum/nn from the state; direct, rollup, global, all-null group") {
    val (basePath, statePath, base) = fixture("avg")
    // direct groups — includes (A,1) whose q has a NULL (avg skips it)
    // and the all-null v group (B,1) to pin NULL propagation
    def q = base.groupBy("g1", "g2").agg(
      avg(col("q")).as("avg_q"), count(lit(1)).as("n_rows"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    assert(q.schema("avg_q").dataType === org.apache.spark.sql.types.DoubleType)
    // subset rollup + commuting group filter
    def r = base.where(col("g2") =!= 3).groupBy("g1").agg(avg(col("q")).as("avg_q"))
    assert(scansState(r, statePath, basePath), scanPaths(r).mkString(", "))
    assert(r.collect().map(_.toString).sorted.toSeq === baseline(r))
    // global
    def g = base.agg(avg(col("q")).as("avg_q"))
    assert(scansState(g, statePath, basePath))
    assert(g.collect().map(_.toString).sorted.toSeq === baseline(g))
    // empty base: global avg is NULL on both paths
    val emptyBase = tmp("avg-emptyb")
    val emptyState = tmp("avg-empties")
    baseDf.where(lit(false)).write.mode("overwrite").parquet(emptyBase)
    Cdc.aggState(spark.read.parquet(emptyBase), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(emptyState)
    MvCatalog.register(emptyBase, MvDef(Seq("g1", "g2"), Seq("v", "q"), emptyState))
    val er = spark.read.parquet(emptyBase).agg(avg(col("q")).as("avg_q"))
    assert(scanPaths(er).exists(_.startsWith(emptyState)))
    assert(er.collect().head.isNullAt(0))
  }

  test("count(DISTINCT group col) answers exactly from the state's distinct combos") {
    val (basePath, statePath, base) = fixture("dcount")
    // subset grouping: distinct g2 per g1 — state rows are distinct
    // (g1, g2) combos, so DISTINCT over them is the base truth
    def q = base.groupBy("g1").agg(
      countDistinct(col("g2")).as("d_g2"), count(lit(1)).as("n_rows"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // global distinct over one and over both group columns
    def g = base.agg(countDistinct(col("g1")).as("d_g1"),
      countDistinct(col("g1"), col("g2")).as("d_both"))
    assert(scansState(g, statePath, basePath), scanPaths(g).mkString(", "))
    assert(g.collect().map(_.toString).sorted.toSeq === baseline(g))
    // with a commuting group filter
    def f = base.where(col("g2") =!= 3).groupBy("g1")
      .agg(countDistinct(col("g2")).as("d_g2"))
    assert(scansState(f, statePath, basePath), scanPaths(f).mkString(", "))
    assert(f.collect().map(_.toString).sorted.toSeq === baseline(f))
    // distinct over a SUM column still falls back (state has no raw values)
    def miss = base.groupBy("g1").agg(countDistinct(col("q")).as("d"))
    assert(!scanPaths(miss).exists(_.startsWith(statePath)))
    assert(miss.collect().map(_.toString).sorted.toSeq === baseline(miss))
  }

  test("count(DISTINCT group col) on the lattice serves from a slice that CARRIES the column") {
    val (basePath, statePath, base) = cubeFixture("dcube",
      sets = Seq(Seq("g1", "g2"), Seq("g1"), Seq.empty[String]))
    // grouping by g1 alone, but distinct-counting g2: the (g1) slice
    // lacks g2, so the chooser must serve from the finer (g1, g2)
    // slice — values must still be exact
    def q = base.groupBy("g1").agg(countDistinct(col("g2")).as("d_g2"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("MIN/MAX serve from an extremaState registration; unregistered extrema fall back") {
    val basePath = tmp("ext-base")
    val statePath = tmp("ext-state")
    baseDf.write.mode("overwrite").parquet(basePath)
    Cdc.extremaState(spark.read.parquet(basePath), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Nil, statePath,
      extremaCols = Seq("v", "q")))
    val base = spark.read.parquet(basePath)
    // direct groups: min/max/count(c)/count(*) all from the state
    def q = base.groupBy("g1", "g2").agg(
      min(col("v")).as("min_v"), max(col("v")).as("max_v"),
      min(col("q")).as("min_q"), count(col("v")).as("nn_v"),
      count(lit(1)).as("n_rows"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // subset rollup + group filter: min of group-mins is exact, the
    // all-NULL group's extrema stay NULL through the rollup
    def r = base.where(col("g2") =!= 3).groupBy("g1")
      .agg(min(col("v")).as("min_v"), max(col("q")).as("max_q"))
    assert(scansState(r, statePath, basePath), scanPaths(r).mkString(", "))
    assert(r.collect().map(_.toString).sorted.toSeq === baseline(r))
    // global
    def g = base.agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    assert(scansState(g, statePath, basePath))
    assert(g.collect().map(_.toString).sorted.toSeq === baseline(g))
    // sum over an extrema-only registration falls back (no sum_ cols)
    def miss = base.groupBy("g1").agg(sum(col("q")).as("s"))
    assert(!scanPaths(miss).exists(_.startsWith(statePath)))
    assert(miss.collect().map(_.toString).sorted.toSeq === baseline(miss))
    // min over a column the view does not register falls back
    MvCatalog.clear()
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Nil, statePath,
      extremaCols = Seq("v")))
    def missQ = base.groupBy("g1").agg(min(col("q")).as("m"))
    assert(!scanPaths(missQ).exists(_.startsWith(statePath)))
    assert(missQ.collect().map(_.toString).sorted.toSeq === baseline(missQ))
  }

  test("maintained extremaState answers MIN/MAX after extremum-retracting churn") {
    val basePath = tmp("extm-base")
    val statePath = tmp("extm-state")
    val before = baseDf
    // retract a group's MAX (the A,1 10.25 row) and drop group (C,3)
    // entirely — both endanger extrema, forcing the recompute path
    val after = before
      .where(!(col("g1") === "A" && col("g2") === 1 && col("q") === 5L))
      .where(col("g1").isNull || col("g1") =!= "C")
    after.write.mode("overwrite").parquet(basePath)
    val state0 = Cdc.extremaState(before, Seq("g1", "g2"), Seq("v", "q"))
    val delta = Cdc.signedDelta(before, after, Seq("g1", "g2", "v", "q"))
    Cdc.maintainExtrema(state0, delta, after, Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Nil, statePath,
      extremaCols = Seq("v", "q")))
    def q = spark.read.parquet(basePath).groupBy("g1")
      .agg(min(col("v")).as("min_v"), max(col("q")).as("max_q"),
        count(lit(1)).as("n_rows"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("kill switch: spark.graft.mv.rewrite=false scans the base") {
    val (basePath, statePath, base) = fixture("switch")
    spark.conf.set("spark.graft.mv.rewrite", "false")
    val paths = scanPaths(base.groupBy("g1").agg(count(lit(1)).as("n")))
    assert(paths.exists(_.startsWith(basePath)) && !paths.exists(_.startsWith(statePath)))
  }

  test("rewritten aggregate composes downstream (exprId stability through joins and filters)") {
    val (_, statePath, base) = fixture("compose")
    val agg = base.groupBy("g1", "g2").agg(sum(col("q")).as("sum_q"))
    val dim = Seq(("A", "alpha"), ("B", "beta")).toDF("g1", "label")
    def q = agg.join(dim, Seq("g1")).where(col("sum_q") > 0)
      .select("g1", "g2", "label", "sum_q")
    assert(scanPaths(q).exists(_.startsWith(statePath)))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("maintained state answers queries after churn — the IVM loop closed end to end") {
    val basePath = tmp("loop-base")
    val statePath = tmp("loop-state")
    baseDf.write.mode("overwrite").parquet(basePath)
    val state0 = Cdc.aggState(baseDf, Seq("g1", "g2"), Seq("v", "q"))
    // churn: drop group (C,3) entirely, reprice one A row
    val after = baseDf.where(col("g1").isNull || col("g1") =!= "C")
      .withColumn("v",
        when(col("g1") === "A" && col("g2") === 2, col("v") + 100)
          .otherwise(col("v")).cast("decimal(12,2)"))
    val state1 = Cdc.maintainAgg(state0, Cdc.signedDelta(baseDf, after, Seq("g1", "g2", "q")),
      Seq("g1", "g2"), Seq("v", "q"))
    // write the CHURNED base and the MAINTAINED state
    after.write.mode("overwrite").parquet(basePath)
    state1.write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath, MvDef(Seq("g1", "g2"), Seq("v", "q"), statePath))
    def q = spark.read.parquet(basePath).groupBy("g1")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    assert(scanPaths(q).exists(_.startsWith(statePath)))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // the vanished group emits no row on either path
    assert(!q.collect().exists(r => r.getString(0) == "C"))
  }
  test("freshness pin: a drifted base falls back to the base scan until re-registered") {
    val basePath = tmp("fresh-base")
    val statePath = tmp("fresh-state")
    baseDf.write.mode("overwrite").parquet(basePath)
    Cdc.aggState(spark.read.parquet(basePath), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerFresh(spark, basePath, Seq("g1", "g2"), Seq("v", "q"), statePath)
    def q = spark.read.parquet(basePath).groupBy("g1")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    assert(scansState(q, statePath, basePath), "pinned view must serve while fresh")

    // the base drifts: append a row the state has never seen
    baseDf.where(col("g1") === "A" && col("g2") === 2)
      .write.mode("append").parquet(basePath)
    val paths = scanPaths(q)
    assert(paths.exists(_.startsWith(basePath)) && !paths.exists(_.startsWith(statePath)),
      "drifted base must fall back to the base scan")
    // and the fallback answer reflects the NEW rows (correct, unaccelerated)
    assert(q.where(col("g1") === "A").select("n").as[Long].head() === 4L)

    // refresh the state, re-pin: serving resumes
    Cdc.aggState(spark.read.parquet(basePath), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerFresh(spark, basePath, Seq("g1", "g2"), Seq("v", "q"), statePath)
    assert(scansState(q, statePath, basePath), "re-pinned view must serve again")
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }
  test("freshness: a base rewritten out of band right after a served query is never served stale") {
    val basePath = tmp("oob-base")
    val statePath = tmp("oob-state")
    baseDf.repartition(2).write.mode("overwrite").parquet(basePath)
    Cdc.aggState(spark.read.parquet(basePath), Seq("g1", "g2"), Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerFresh(spark, basePath, Seq("g1", "g2"), Seq("v", "q"), statePath)
    def q = spark.read.parquet(basePath).groupBy("g1")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    val doomed = new java.io.File(basePath).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    val served = q
    assert(scansState(served, statePath, basePath), "pinned view must serve while fresh")
    // out of band, no catalog call, right after the served query was
    // planned: drop one of the base's two files
    val t0 = System.nanoTime()
    assert(doomed.delete())
    val next = q
    val paths = scanPaths(next)
    info(f"served plan to next plan: ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    assert(paths.exists(_.startsWith(basePath)) && !paths.exists(_.startsWith(statePath)),
      "the next query after an out-of-band rewrite must scan the base")
    assert(next.collect().map(_.toString).sorted.toSeq === baseline(q))
  }
  test("HAVING (a filter above the aggregate) rides on top of the rewrite") {
    val (basePath, statePath, base) = fixture("having")
    def q = base.groupBy("g1").agg(sum(col("q")).as("s"))
      .where(col("s") > 3)
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }
  test("randomized parity sweep: any group subset x filter x agg mix matches the rule-off truth") {
    val (basePath, statePath, base) = fixture("random")
    val rnd = new scala.util.Random(271828)
    val groupChoices = Seq(Seq("g1"), Seq("g2"), Seq("g1", "g2"), Seq.empty)
    for (i <- 1 to 12) {
      val groups = groupChoices(rnd.nextInt(groupChoices.length))
      val aggs = scala.util.Random.javaRandomToRandom(new java.util.Random(i)).shuffle(Seq(
        count(lit(1)).as(s"n_$i"),
        count(col("v")).as(s"nv_$i"),
        sum(col("v")).as(s"sv_$i"),
        sum(col("q")).as(s"sq_$i"),
        avg(col("q")).as(s"aq_$i"))).take(1 + rnd.nextInt(3))
      val filtered =
        if (rnd.nextBoolean()) base.where(col("g2") =!= (1 + rnd.nextInt(3))) else base
      def q = filtered.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
      assert(scansState(q, statePath, basePath), s"case $i (groups=$groups) did not rewrite")
      assert(q.collect().map(_.toString).sorted.toSeq === baseline(q), s"case $i")
    }
  }

  // ── grouping-sets lattice (cubeState-backed MvDef.sets) ──────────

  /** Full rollup lattice of (g1, g2) as a cubeState, registered with
    * MvDef.sets; returns (basePath, statePath, base). */
  private val RollupSets = Seq(Seq("g1", "g2"), Seq("g1"), Seq.empty[String])
  private def cubeFixture(
      tag: String,
      sets: Seq[Seq[String]] = RollupSets): (String, String, DataFrame) = {
    val basePath = tmp(s"$tag-base")
    val statePath = tmp(s"$tag-state")
    baseDf.write.mode("overwrite").parquet(basePath)
    Cdc.cubeState(spark.read.parquet(basePath), Seq("g1", "g2"), sets, Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath,
      MvDef(Seq("g1", "g2"), Seq("v", "q"), statePath, sets = sets))
    (basePath, statePath, spark.read.parquet(basePath))
  }

  test("ROLLUP query answers from the cubeState lattice, values identical") {
    val (basePath, statePath, base) = cubeFixture("ru")
    def q = base.rollup("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("nn_v"),
        sum(col("v")).as("sum_v"), sum(col("q")).as("sum_q"),
        avg(col("q")).as("avg_q")) // integral avg rolls up exactly per level
    assert(scansState(q, statePath, basePath),
      s"rollup must serve from the lattice; scans: ${scanPaths(q).mkString(", ")}")
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // real-NULL group keys and rolled-up NULLs coexist: the output
    // carries more NULL-g1 rows than the base has NULL-g1 groups
    assert(q.where(col("g1").isNull).count() >= 3,
      "base NULL-g1 set rows + per-g1 rollups must all be present")
  }

  test("CUBE query: every lattice member answers from its registered slice") {
    val cubeSets = Seq(Seq("g1", "g2"), Seq("g1"), Seq("g2"), Seq.empty[String])
    val (basePath, statePath, base) = cubeFixture("cu", cubeSets)
    def q = base.cube("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), sum(col("q")).as("sum_q"))
    assert(scansState(q, statePath, basePath))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("grouping_id()/grouping() outputs fold to per-branch literals") {
    val (basePath, statePath, base) = cubeFixture("gid")
    def q = base.rollup("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), grouping_id().as("gid"),
        grouping(col("g2")).as("g2_rolled"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // the literal gid must distinguish the real-NULL g1 row (gid 0)
    // from the grand total (gid 3)
    assert(q.where(col("gid") === 3).count() === 1)
  }

  test("group-column filter commutes through every lattice branch") {
    val (basePath, statePath, base) = cubeFixture("ruf")
    def q = base.where(col("g2") =!= 3).rollup("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("a query set coarser than every registered set still answers (superset roll-up)") {
    // CUBE needs (g2), which is NOT registered — but the finest
    // registered set (g1, g2) is a superset, and counts/sums roll up
    // from it exactly, so the rewrite still fires for all four sets
    val (basePath, statePath, base) = cubeFixture("roll")
    def q = base.cube("g1", "g2").agg(count(lit(1)).as("n_rows"),
      sum(col("q")).as("sum_q"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("a query set with NO registered superset keeps the base scan (all-or-nothing)") {
    // only the coarse half of the lattice is registered: ROLLUP's
    // finest set (g1, g2) has no registered superset → the WHOLE
    // query falls back (one Expand output cannot mix sources)
    val (basePath, statePath, base) =
      cubeFixture("miss", sets = Seq(Seq("g1"), Seq.empty[String]))
    def q = base.rollup("g1", "g2").agg(count(lit(1)).as("n_rows"))
    val paths = scanPaths(q)
    assert(paths.exists(_.startsWith(basePath)) &&
      !paths.exists(_.startsWith(statePath)),
      s"missing finest set must fall back entirely; scans: $paths")
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("plain aggregate over a lattice-registered base serves from the smallest superset slice") {
    val (basePath, statePath, base) = cubeFixture("plain")
    def q = base.groupBy("g1").agg(count(lit(1)).as("n_rows"), sum(col("q")).as("sum_q"))
    assert(scansState(q, statePath, basePath))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // global aggregate too (the () slice), incl. count-over-empty = 1 row
    def g = base.groupBy().agg(count(lit(1)).as("n_rows"))
    assert(scansState(g, statePath, basePath))
    assert(g.collect().map(_.toString).sorted.toSeq === baseline(g))
  }

  test("ROLLUP over an empty base yields zero rows on both paths") {
    val basePath = tmp("rue-base")
    val statePath = tmp("rue-state")
    baseDf.where(lit(false)).write.mode("overwrite").parquet(basePath)
    Cdc.cubeState(spark.read.parquet(basePath), Seq("g1", "g2"),
      RollupSets, Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath,
      MvDef(Seq("g1", "g2"), Seq("v", "q"), statePath, sets = RollupSets))
    def q = spark.read.parquet(basePath).rollup("g1", "g2")
      .agg(count(lit(1)).as("n_rows"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.count() === 0, "rollup over empty input emits NO rows, not a 0-total")
    assert(baseline(q).isEmpty)
  }

  // ── join views (JoinMvDef: Aggregate → Join → scans) ─────────────

  /** Fact (key k, group tag, sum w — duplicate keys so the join
    * multiplies rows) and dim (key k, group g — one duplicate key,
    * one unmatched key, one NULL group). */
  private def joinDfs: (DataFrame, DataFrame) = {
    val a = Seq((1, "x", Option(10L)), (1, "y", Option(3L)), (2, "x", None),
      (3, "z", Option(7L)), (2, "y", Option(5L)))
      .toDF("k", "tag", "w")
    val b = Seq((1, Option("G1")), (2, Option("G2")), (2, Option("G2b")),
      (3, None), (4, Option("G4")))
      .toDF("k", "g")
    (a, b)
  }

  private def joinFixture(tag: String): (String, String, String) = {
    val (a, b) = joinDfs
    val aPath = tmp(s"$tag-a")
    val bPath = tmp(s"$tag-b")
    val statePath = tmp(s"$tag-state")
    a.write.mode("overwrite").parquet(aPath)
    b.write.mode("overwrite").parquet(bPath)
    Cdc.aggState(a.join(b, Seq("k"), "inner"), Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath))
    (aPath, bPath, statePath)
  }

  private def scansOnlyState(df: DataFrame, statePath: String, bases: String*): Boolean = {
    val paths = scanPaths(df)
    paths.exists(_.startsWith(statePath)) &&
      !bases.exists(b => paths.exists(_.startsWith(b)))
  }

  test("join view: aggregate over the registered inner join answers from the state") {
    val (aPath, bPath, statePath) = joinFixture("jv")
    def q = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
      .groupBy("g").agg(count(lit(1)).as("n_rows"),
        count(col("w")).as("nn_w"), sum(col("w")).as("sum_w"),
        avg(col("w")).as("avg_w")) // integral avg serves through joins too
    assert(scansOnlyState(q, statePath, aPath, bPath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("join view: pushed-below-join group filter, subset rollup, global, and swapped order all serve") {
    val (aPath, bPath, statePath) = joinFixture("jv2")
    // filter on a group column — the optimizer pushes it below the
    // join (plus inferred isnotnull conjuncts) before the rule runs
    def qf = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
      .where(col("g") =!= "G2")
      .groupBy("tag").agg(sum(col("w")).as("sum_w"))
    assert(scansOnlyState(qf, statePath, aPath, bPath), scanPaths(qf).mkString(", "))
    assert(qf.collect().map(_.toString).sorted.toSeq === baseline(qf))
    // global rollup
    def qg = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
      .agg(count(lit(1)).as("n_rows"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(qg, statePath, aPath, bPath))
    assert(qg.collect().map(_.toString).sorted.toSeq === baseline(qg))
    // the user writes the join the other way round — inner joins
    // commute, the registration must still serve
    def qs = spark.read.parquet(bPath)
      .join(spark.read.parquet(aPath), Seq("k"), "inner")
      .groupBy("g").agg(count(lit(1)).as("n_rows"))
    assert(scansOnlyState(qs, statePath, aPath, bPath), scanPaths(qs).mkString(", "))
    assert(qs.collect().map(_.toString).sorted.toSeq === baseline(qs))
  }

  test("join view: non-rewritable shapes keep the join and stay correct") {
    val (aPath, bPath, statePath) = joinFixture("jv3")
    val a = spark.read.parquet(aPath)
    val b = spark.read.parquet(bPath)
    val shapes: Seq[(String, DataFrame)] = Seq(
      "left join" -> a.join(b, Seq("k"), "left")
        .groupBy("g").agg(count(lit(1)).as("n")),
      "filter on sum col" -> a.join(b, Seq("k"), "inner")
        .where(col("w") > 0).groupBy("g").agg(count(lit(1)).as("n")),
      "filter on join key" -> a.join(b, Seq("k"), "inner")
        .where(col("k") =!= 2).groupBy("g").agg(count(lit(1)).as("n")),
      "sum of unregistered col" -> a.join(b, Seq("k"), "inner")
        .groupBy("g").agg(sum(col("k")).as("s")))
    for ((label, q) <- shapes) {
      val paths = scanPaths(q)
      assert(!paths.exists(_.startsWith(statePath)),
        s"$label should not rewrite: ${paths.mkString(", ")}")
      assert(q.collect().map(_.toString).sorted.toSeq === baseline(q), label)
    }
  }

  test("join view maintained through two-sided churn answers queries — joinDelta loop closed") {
    val (a0, b0) = joinDfs
    // churn BOTH sides: drop a fact row, re-tag another, drop a dim
    // key (deletes fan out through the join), re-group another
    val a1 = a0.where(!(col("k") === 3 && col("tag") === "z"))
      .withColumn("tag", when(col("k") === 1 && col("tag") === "y", lit("y2"))
        .otherwise(col("tag")))
    val b1 = b0.where(col("g").isNull || col("g") =!= "G2b")
      .withColumn("g", when(col("k") === 1, lit("G1x")).otherwise(col("g")))
    val aPath = tmp("jvm-a")
    val bPath = tmp("jvm-b")
    val statePath = tmp("jvm-state")
    a1.write.mode("overwrite").parquet(aPath)
    b1.write.mode("overwrite").parquet(bPath)
    val state0 = Cdc.aggState(a0.join(b0, Seq("k"), "inner"), Seq("g", "tag"), Seq("w"))
    val delta = Cdc.joinDelta(
      Cdc.signedDelta(a0, a1, Seq("k", "tag")), a0,
      Cdc.signedDelta(b0, b1, Seq("k", "g")), b0, on = Seq("k"))
    Cdc.maintainAgg(state0, delta, Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath))
    def q = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
      .groupBy("g").agg(count(lit(1)).as("n_rows"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(q, statePath, aPath, bPath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  /** The join fixture plus an unmatched fact key (9) and a NULL-key
    * fact row — both become null-extensions in a LEFT view. */
  private def leftJoinDfs: (DataFrame, DataFrame) = {
    val a = Seq((Option(1), "x", Option(10L)), (Option(1), "y", Option(3L)),
      (Option(2), "x", None: Option[Long]), (Option(3), "z", Option(7L)),
      (Option(2), "y", Option(5L)), (Option(9), "x", Option(2L)),
      (None: Option[Int], "u", Option(4L)))
      .toDF("k", "tag", "w")
    val b = Seq((1, Option("G1")), (2, Option("G2")), (2, Option("G2b")),
      (3, None), (4, Option("G4")))
      .toDF("k", "g")
    (a, b)
  }

  private def leftJoinFixture(tag: String): (String, String, String) = {
    val (a, b) = leftJoinDfs
    val aPath = tmp(s"$tag-a")
    val bPath = tmp(s"$tag-b")
    val statePath = tmp(s"$tag-state")
    a.write.mode("overwrite").parquet(aPath)
    b.write.mode("overwrite").parquet(bPath)
    Cdc.aggState(a.join(b, Seq("k"), "left"), Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath,
      joinType = "left"))
    (aPath, bPath, statePath)
  }

  test("left-join view: aggregate, left-side filter, null-tolerant right filter all serve") {
    val (aPath, bPath, statePath) = leftJoinFixture("ljv")
    // NULL g mixes matched-null-dim rows AND extensions — both paths
    // must agree on the combined group
    def q = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "left")
      .groupBy("g").agg(count(lit(1)).as("n_rows"),
        count(col("w")).as("nn_w"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(q, statePath, aPath, bPath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // LEFT-side group filter: pushed below the join, commutes
    def qf = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "left")
      .where(col("tag") =!= "z")
      .groupBy("g").agg(sum(col("w")).as("sum_w"))
    assert(scansOnlyState(qf, statePath, aPath, bPath), scanPaths(qf).mkString(", "))
    assert(qf.collect().map(_.toString).sorted.toSeq === baseline(qf))
    // null-TOLERANT right-side group filter stays above the outer
    // join and commutes to the state (σ on the view)
    def qn = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "left")
      .where(col("g").isNull)
      .groupBy("tag").agg(count(lit(1)).as("n_rows"))
    assert(scansOnlyState(qn, statePath, aPath, bPath), scanPaths(qn).mkString(", "))
    assert(qn.collect().map(_.toString).sorted.toSeq === baseline(qn))
    // global
    def qg = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "left")
      .agg(count(lit(1)).as("n_rows"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(qg, statePath, aPath, bPath))
    assert(qg.collect().map(_.toString).sorted.toSeq === baseline(qg))
  }

  test("left-join view fallbacks: inner query, swapped order, below-right filter, null-intolerant right filter") {
    val (aPath, bPath, statePath) = leftJoinFixture("ljf")
    val a = spark.read.parquet(aPath)
    val b = spark.read.parquet(bPath)
    val shapes: Seq[(String, DataFrame)] = Seq(
      // an inner query must NOT be served by a left state (it would
      // overcount by the extensions)
      "inner over left reg" -> a.join(b, Seq("k"), "inner")
        .groupBy("g").agg(count(lit(1)).as("n")),
      // left joins do not commute — swapped order keeps the join
      "swapped left" -> b.join(a, Seq("k"), "left")
        .groupBy("g").agg(count(lit(1)).as("n")),
      // a filter below the join on the RIGHT side turns removals
      // into extensions the state does not reflect
      "below-right filter" -> a.join(
        b.where(col("g") =!= "G2"), Seq("k"), "left")
        .groupBy("tag").agg(count(lit(1)).as("n")),
      // a user's isnotnull on the LEFT key is a REAL filter on a left
      // view (null-keyed extensions exist) — never dropped as implied
      "isnotnull left key" -> a.join(b, Seq("k"), "left")
        .where(col("k").isNotNull).groupBy("g").agg(count(lit(1)).as("n")))
    for ((label, q) <- shapes) {
      val paths = scanPaths(q)
      assert(!paths.exists(_.startsWith(statePath)),
        s"$label should not rewrite: ${paths.mkString(", ")}")
      assert(q.collect().map(_.toString).sorted.toSeq === baseline(q), label)
    }
    // a null-INTOLERANT right filter above the join: σ on the view
    // commutes to the state, so the serve is CORRECT — but the rule
    // shares the operator-optimization fixed point with
    // EliminateOuterJoin, so either the serve fires first or the
    // inner conversion does (⇒ type mismatch ⇒ fallback). The law is
    // VALUE parity under both orders, not a plan shape.
    def qi = a.join(b, Seq("k"), "left")
      .where(col("g") === "G2").groupBy("tag").agg(count(lit(1)).as("n"))
    assert(qi.collect().map(_.toString).sorted.toSeq === baseline(qi))
  }

  test("left-join view: right-side KEY references never serve (unequal on extension rows)") {
    val (aPath, bPath, statePath) = leftJoinFixture("ljk")
    // register the key as a group column too — a LEFT state built
    // this way carries the LEFT key for extensions
    MvCatalog.clear()
    val (a0, b0) = leftJoinDfs
    Cdc.aggState(a0.join(b0, Seq("k"), "left"), Seq("k", "g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("k", "g", "tag"), Seq("w"), statePath,
      joinType = "left"))
    val a = spark.read.parquet(aPath)
    val b = spark.read.parquet(bPath)
    // explicit join condition keeps BOTH k attributes visible;
    // grouping by the RIGHT one is NULL on extension rows while the
    // state's k column holds the LEFT value — must fall back
    def qr = a.join(b, a("k") === b("k"), "left")
      .groupBy(b("k")).agg(count(lit(1)).as("n"))
    assert(!scanPaths(qr).exists(_.startsWith(statePath)),
      s"right-key grouping must not serve: ${scanPaths(qr).mkString(", ")}")
    assert(qr.collect().map(_.toString).sorted.toSeq === baseline(qr))
    // grouping by the LEFT key serves (the state's k IS the left key,
    // null-keyed extensions included)
    def ql = a.join(b, a("k") === b("k"), "left")
      .groupBy(a("k")).agg(count(lit(1)).as("n"))
    assert(ql.collect().map(_.toString).sorted.toSeq === baseline(ql))
    // a user's isnotnull(RIGHT key) — the predicate that removes
    // extension rows — must never be dropped as join-implied: the
    // query either falls back or converts to inner (never a serve
    // that silently includes the extensions); values must match
    def qn = a.join(b, a("k") === b("k"), "left")
      .where(b("k").isNotNull).groupBy("g").agg(count(lit(1)).as("n"))
    assert(qn.collect().map(_.toString).sorted.toSeq === baseline(qn))
  }

  test("left-join view maintained through two-sided churn — the leftJoinDelta loop closed") {
    val (a0, b0) = leftJoinDfs
    // churn with BOTH zero-crossings: dim key 3 deleted (its fact
    // extends), dim key 9 inserted (fact 9's extension retracts),
    // plus a fact re-tag and a dim re-group
    val a1 = a0.withColumn("tag",
      when(col("k") === 1 && col("tag") === "y", lit("y2"))
        .otherwise(col("tag")))
    val b1 = b0.where(col("k") =!= 3)
      .unionByName(Seq((9, Option("G9"))).toDF("k", "g"))
      .withColumn("g", when(col("k") === 1, lit("G1x")).otherwise(col("g")))
    val aPath = tmp("ljm-a")
    val bPath = tmp("ljm-b")
    val statePath = tmp("ljm-state")
    a1.write.mode("overwrite").parquet(aPath)
    b1.write.mode("overwrite").parquet(bPath)
    val state0 = Cdc.aggState(a0.join(b0, Seq("k"), "left"), Seq("g", "tag"), Seq("w"))
    val delta = Cdc.leftJoinDelta(
      Cdc.signedDelta(a0, a1, Seq("k", "tag")), a0,
      Cdc.signedDelta(b0, b1, Seq("k", "g")), b0, on = Seq("k"))
    Cdc.maintainAgg(state0, delta, Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath,
      joinType = "left"))
    def q = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "left")
      .groupBy("g").agg(count(lit(1)).as("n_rows"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(q, statePath, aPath, bPath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // fact 3's extension row (g NULL via extension) and fact 9's
    // retraction both landed: G9 serves, k=3's group is NULL now
    assert(q.where(col("g") === "G9").select("n_rows").as[Long].head() === 1L)
  }

  test("SPJA join view: the registered predicate matches semantically, near-misses fall back") {
    val (a, b) = joinDfs
    val aPath = tmp("spja-a")
    val bPath = tmp("spja-b")
    val statePath = tmp("spja-state")
    a.write.mode("overwrite").parquet(aPath)
    b.write.mode("overwrite").parquet(bPath)
    // the view: σ(w > 4) → join → γ; the state holds ONLY passing rows
    Cdc.aggState(a.where(col("w") > 4).join(b, Seq("k"), "inner"),
      Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoin(graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath,
      filterSql = Some("w > 4")))
    def joined = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
    // exact predicate (written above the join; the optimizer pushes
    // it below with an inferred isnotnull(w)) — serves from the state
    def q = joined.where(col("w") > 4)
      .groupBy("g").agg(count(lit(1)).as("n_rows"), sum(col("w")).as("sum_w"))
    assert(scansOnlyState(q, statePath, aPath, bPath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
    // the commuted spelling matches too (canonicalization)
    def qc = joined.where(lit(4) < col("w"))
      .groupBy("g").agg(count(lit(1)).as("n_rows"))
    assert(scansOnlyState(qc, statePath, aPath, bPath), scanPaths(qc).mkString(", "))
    assert(qc.collect().map(_.toString).sorted.toSeq === baseline(qc))
    // predicate + group filter: the group filter commutes on top
    def qg = joined.where(col("w") > 4 && col("g") =!= "G1")
      .groupBy("tag").agg(sum(col("w")).as("sum_w"))
    assert(scansOnlyState(qg, statePath, aPath, bPath), scanPaths(qg).mkString(", "))
    assert(qg.collect().map(_.toString).sorted.toSeq === baseline(qg))
    // near-misses keep the join AND stay correct: no predicate,
    // a different threshold, a strictly stronger predicate
    val misses = Seq(
      "no predicate" -> joined.groupBy("g").agg(count(lit(1)).as("n")),
      "different threshold" -> joined.where(col("w") > 3)
        .groupBy("g").agg(count(lit(1)).as("n")),
      "stronger predicate" -> joined.where(col("w") > 4 && col("w") < 9)
        .groupBy("g").agg(count(lit(1)).as("n")))
    for ((label, m) <- misses) {
      assert(!scanPaths(m).exists(_.startsWith(statePath)),
        s"$label must NOT serve from the σ-state: ${scanPaths(m).mkString(", ")}")
      assert(m.collect().map(_.toString).sorted.toSeq === baseline(m), label)
    }
  }

  test("join view freshness pin: drift under either base falls back to the join") {
    val (a, b) = joinDfs
    val aPath = tmp("jvf-a")
    val bPath = tmp("jvf-b")
    val statePath = tmp("jvf-state")
    a.write.mode("overwrite").parquet(aPath)
    b.write.mode("overwrite").parquet(bPath)
    Cdc.aggState(a.join(b, Seq("k"), "inner"), Seq("g", "tag"), Seq("w"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.registerJoinFresh(spark, graft.plans.JoinMvDef(
      aPath, bPath, Seq("k"), Seq("g", "tag"), Seq("w"), statePath))
    def q = spark.read.parquet(aPath)
      .join(spark.read.parquet(bPath), Seq("k"), "inner")
      .groupBy("g").agg(count(lit(1)).as("n_rows"))
    assert(scansOnlyState(q, statePath, aPath, bPath), "pinned join view must serve while fresh")
    // drift the RIGHT base: a new dim row the state never saw
    b.where(col("k") === 4).write.mode("append").parquet(bPath)
    val paths = scanPaths(q)
    assert(!paths.exists(_.startsWith(statePath)),
      s"drifted base must fall back to the join; scans: $paths")
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }

  test("maintained cubeState answers ROLLUP after churn — the lattice IVM loop closed") {
    val basePath = tmp("rum-base")
    val statePath = tmp("rum-state")
    val before = baseDf
    val after = baseDf.where(col("g2") =!= 2)
      .withColumn("q", when(col("g1") === "B", col("q") + 100).otherwise(col("q")))
    after.write.mode("overwrite").parquet(basePath)
    val state0 = Cdc.cubeState(before, Seq("g1", "g2"), RollupSets, Seq("v", "q"))
    val delta = Cdc.signedDelta(before, after, Seq("g1", "g2", "v", "q"))
    Cdc.maintainCube(state0, delta, Seq("g1", "g2"), RollupSets, Seq("v", "q"))
      .write.mode("overwrite").parquet(statePath)
    MvCatalog.register(basePath,
      MvDef(Seq("g1", "g2"), Seq("v", "q"), statePath, sets = RollupSets))
    def q = spark.read.parquet(basePath).rollup("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), sum(col("q")).as("sum_q"))
    assert(scansState(q, statePath, basePath), scanPaths(q).mkString(", "))
    assert(q.collect().map(_.toString).sorted.toSeq === baseline(q))
  }
}
