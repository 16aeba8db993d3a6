package graft

import graft.sinks.TxnCommit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Cross-table atomicity: whatever the crash point, a reader either
  * sees EVERY table at the old version or EVERY table at the new one
  * — never a mix. Crashes are simulated by driving the protocol to
  * its exact on-disk intermediate states and then running recovery.
  */
class TxnCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    SparkTestSession.tmp(s"txn-$tag").toString

  private def v(version: Int, tag: String): DataFrame =
    Seq((version, tag)).toDF("version", "tag")

  private def versionOf(table: String): Int =
    spark.read.parquet(table).select("version").head().getInt(0)

  private def fixture(tag: String): (String, String, String) = {
    val root = tmp(tag)
    val (a, b) = (s"$root/a", s"$root/b")
    TxnCommit.commitAll(spark,
      Seq((v(1, "a"), a), (v(1, "b"), b)), s"$root/txn")
    (root, a, b)
  }

  test("happy path: both tables move together, journal cleaned up") {
    val (root, a, b) = fixture("happy")
    assert(versionOf(a) === 1 && versionOf(b) === 1)
    TxnCommit.commitAll(spark,
      Seq((v(2, "a"), a), (v(2, "b"), b)), s"$root/txn")
    assert(versionOf(a) === 2 && versionOf(b) === 2)
    assert(fs.listStatus(new Path(s"$root/txn")).isEmpty)
    assert(!fs.exists(new Path(a + "__txstage")) &&
      !fs.exists(new Path(a + "__txprev")))
  }

  test("crash before the commit marker rolls BOTH tables back") {
    val (root, a, b) = fixture("precommit")
    // drive the protocol by hand to the pre-marker state: stagings +
    // journal, no marker
    v(2, "a").write.parquet(a + "__txstage")
    v(2, "b").write.parquet(b + "__txstage")
    val j = fs.create(new Path(s"$root/txn/txn.journal"), true)
    j.write(s"$a\n$b".getBytes("UTF-8")); j.close()
    TxnCommit.recover(spark, s"$root/txn")
    assert(versionOf(a) === 1 && versionOf(b) === 1)
    assert(!fs.exists(new Path(a + "__txstage")) &&
      !fs.exists(new Path(b + "__txstage")))
    assert(!fs.exists(new Path(s"$root/txn/txn.journal")))
  }

  test("crash mid-apply after the marker rolls BOTH tables forward") {
    val (root, a, b) = fixture("midapply")
    v(2, "a").write.parquet(a + "__txstage")
    v(2, "b").write.parquet(b + "__txstage")
    val j = fs.create(new Path(s"$root/txn/txn.journal"), true)
    j.write(s"$a\n$b".getBytes("UTF-8")); j.close()
    fs.create(new Path(s"$root/txn/txn.commit"), false).close()
    // table a's swap completed before the crash; b's never started
    fs.rename(new Path(a), new Path(a + "__txprev"))
    fs.rename(new Path(a + "__txstage"), new Path(a))
    TxnCommit.recover(spark, s"$root/txn")
    assert(versionOf(a) === 2 && versionOf(b) === 2)
    assert(!fs.exists(new Path(s"$root/txn/txn.commit")))
  }

  test("crash BETWEEN a table's two renames, marker present, still rolls forward") {
    val (root, a, b) = fixture("midswap")
    v(2, "a").write.parquet(a + "__txstage")
    v(2, "b").write.parquet(b + "__txstage")
    val j = fs.create(new Path(s"$root/txn/txn.journal"), true)
    j.write(s"$a\n$b".getBytes("UTF-8")); j.close()
    fs.create(new Path(s"$root/txn/txn.commit"), false).close()
    // a is caught with its live dir moved aside and staging not yet
    // promoted — the worst per-table state
    fs.rename(new Path(a), new Path(a + "__txprev"))
    TxnCommit.recover(spark, s"$root/txn")
    assert(versionOf(a) === 2 && versionOf(b) === 2)
  }

  test("recover without a journal is a no-op; recovery is idempotent") {
    val (root, a, b) = fixture("noop")
    TxnCommit.recover(spark, s"$root/txn")
    TxnCommit.recover(spark, s"$root/txn")
    assert(versionOf(a) === 1 && versionOf(b) === 1)
  }

  test("a crashed transaction heals at the next commitAll") {
    val (root, a, b) = fixture("heal")
    v(2, "a").write.parquet(a + "__txstage")
    v(2, "b").write.parquet(b + "__txstage")
    val j = fs.create(new Path(s"$root/txn/txn.journal"), true)
    j.write(s"$a\n$b".getBytes("UTF-8")); j.close()
    // pre-marker crash, then a NEW transaction runs: the old one must
    // roll back first, then the new one lands
    TxnCommit.commitAll(spark,
      Seq((v(3, "a"), a), (v(3, "b"), b)), s"$root/txn")
    assert(versionOf(a) === 3 && versionOf(b) === 3)
  }

  test("duplicate table path in one transaction rejected") {
    val root = tmp("dup")
    val e = intercept[IllegalArgumentException] {
      TxnCommit.commitAll(spark,
        Seq((v(1, "x"), s"$root/t"), (v(2, "x"), s"$root/t")), s"$root/txn")
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("a table on a different filesystem than the journal is rejected up front") {
    // mockfs:// resolves (via fs.mockfs.impl below) to a local FS
    // whose getUri is NOT the journal's — the cross-filesystem rename
    // the apply phase would need cannot exist, so commitAll must
    // refuse BEFORE staging anything
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFsForTxnSpec].getName)
    val root = tmp("xfs")
    val e = intercept[IllegalArgumentException] {
      TxnCommit.commitAll(spark,
        Seq((v(1, "a"), s"$root/a"), (v(1, "b"), s"mockfs:$root/b")),
        s"$root/txn")
    }
    assert(e.getMessage.contains("rename-atomic"), e.getMessage)
    assert(!fs.exists(new Path(s"$root/a__txstage")),
      "nothing may be staged for a rejected transaction")
  }
}

/** Local filesystem masquerading under its own URI scheme — the
  * cheapest way to make two paths resolve to DIFFERENT FileSystem
  * URIs in a single-machine test. */
class MockFsForTxnSpec extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}
