package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.ingest.HttpStatusReporter
import graft.operators.Skew
import graft.sinks.ParquetAppend
import graft.sources.JdbcSource
import java.net.InetSocketAddress
import java.sql.DriverManager
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path utilities: parallel JDBC chunk pull, salted skew
  * aggregation, partitioned WORK layout, HTTP status callback. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("parallel JDBC chunk read tiles exactly and uses one partition per chunk") {
    val url = "jdbc:derby:memory:graftpar;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute("CREATE TABLE par_t (id INT NOT NULL, v VARCHAR(10))")
    val ins = conn.prepareStatement("INSERT INTO par_t VALUES (?, ?)")
    for (i <- 1 to 1000) { ins.setInt(1, i); ins.setString(2, s"v$i"); ins.executeUpdate() }
    conn.close()

    val src = JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
    val chunks = graft.planner.Intervals.ints(1L, 1000L, 250L)
      .map(graft.planner.Intervals.halfOpenInts)
      .map { case (a, b) => (a.toString, b.toString) }
    val df = src.readChunksParallel(spark, "par_t", "id", chunks)
    assert(df.rdd.getNumPartitions == 4, "one JDBC partition per chunk")
    assert(df.count() == 1000)
    assert(df.select("ID").distinct().count() == 1000, "chunks must tile without overlap")
  }

  test("parallel DATE resync: N planner chunks land as N input partitions and tile exactly") {
    val url = "jdbc:derby:memory:graftpardate;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE pard_t (id INT NOT NULL, d DATE NOT NULL)")
    val ins = conn.prepareStatement("INSERT INTO pard_t VALUES (?, ?)")
    val start = java.time.LocalDate.parse("2020-01-01")
    for (i <- 0 until 600) { // 10 rows/day over a 60-day span
      ins.setInt(1, i)
      ins.setDate(2, java.sql.Date.valueOf(start.plusDays(i / 10)))
      ins.executeUpdate()
    }
    conn.close()

    val lake = graft.core.LakePaths(
      SparkTestSession.tmp("pardate").toString)
    val ref = graft.core.DatasetRef("test", "db", "pard_t")
    // estimatedRows < 100k with a 60-day span → P1 width 15 → 4 chunks
    graft.app.ResyncJob.runDate(
      spark,
      graft.app.ResyncJob.JdbcRanged(
        JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")),
        "pard_t"),
      pc = "d", ref = ref, lake = lake,
      cliStart = Some(start), cliEnd = Some(start.plusDays(60)),
      estimatedRows = 600)
    val work = spark.read.parquet(lake.work(ref))
    assert(work.count() == 600)
    assert(work.select("ID").distinct().count() == 600, "chunks must tile without overlap")
    // the scale witness: the chunked pull parallelizes the extract —
    // one JDBC partition (one concurrent DB cursor) per planner chunk
    val src = JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
    val chunks = graft.planner.Intervals.dates(start, start.plusDays(60), 15)
      .map(graft.planner.Intervals.halfOpenDates)
      .map { case (a, b) => (a.toString, b.toString) }
    // 60-day span at width 15 → 4 full tiles + the P6 end-compensation
    // sliver covering the open end
    assert(chunks.length == 5)
    val df = src.readChunksParallel(spark, "pard_t", "d", chunks)
    assert(df.rdd.getNumPartitions == chunks.length,
      "one JDBC partition per date chunk")
    assert(df.count() == 600)
  }

  test("salted aggregation matches plain aggregation under a hot key") {
    // one pathological key with 50k rows + a uniform tail
    val hot = spark.range(50000).select(lit("HOT").as("fp"), col("id").as("doc_id"))
    val tail = spark.range(1000).select(concat(lit("k"), col("id")).as("fp"), (col("id") + 100000).as("doc_id"))
    val df = hot.unionByName(tail)

    val salted = Skew.saltedDupCounts(df, col("fp"), salts = 16)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val plain = df.groupBy("fp").agg(min("doc_id").as("m"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(salted == plain)
    assert(salted("HOT") == ((0L, 50000L)))
  }

  test("partitioned WORK layout prunes on the partition column") {
    val dir = SparkTestSession.tmp("partwork").toString + "/work"
    val df = spark.range(100).select(
      col("id"), (col("id") % 4).cast("string").as("ingest_bucket"))
    ParquetAppend.writePartitioned(df, dir, Seq("ingest_bucket"))
    val pruned = spark.read.parquet(dir).where(col("ingest_bucket") === "2")
    assert(pruned.count() == 25)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("), s"partition filter should prune, not row-filter:\n$plan")
  }

  test("HTTP status reporter POSTs the reference JSON shape and survives outages") {
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/status", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        received.put(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val rep = new HttpStatusReporter(s"http://127.0.0.1:$port/status")
      rep.report("job-1", "resync", "success")
      val body = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(body == """{"id_request": "job-1", "process": "resync", "value": "success"}""")
      // endpoint down: must not throw
      val dead = new HttpStatusReporter("http://127.0.0.1:1/status")
      dead.report("job-1", "resync", "failed")
    } finally server.stop(0)
  }
}
