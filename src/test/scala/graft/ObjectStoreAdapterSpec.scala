package graft

import graft.core.{
  BucketNames, HadoopFsBucketAdapter, LakeStorage, ObjectStoreAdapter,
  ObjectStoreAdapters, ObjectStoreException, RetryingObjectStore}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The object-store lifecycle seam: LakeStorage ops on a registered
  * scheme must route to the adapter (bucket = authority, prefix =
  * path) and never touch Hadoop; unregistered paths keep the FS
  * behavior; the retry decorator retries exactly the transient
  * failures on the recorded schedule; prefix deletion is
  * pagination-complete (the reference's 1000-key truncation bug is
  * NOT reproduced). */
class ObjectStoreAdapterSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = SparkTestSession.spark

  override def afterEach(): Unit = {
    ObjectStoreAdapters.unregister("fakes3")
    ObjectStoreAdapters.unregister("fakegs")
  }

  /** In-memory store: buckets → object keys, with a call log proving
    * which ops (and arguments) the engine issued. Deletion walks
    * pages of `pageSize` to exhaustion, recording one `list` per
    * page — so the spec can assert multi-page clears really
    * paginate. */
  private class FakeStore(pageSize: Int = 3) extends ObjectStoreAdapter {
    val buckets = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.SortedSet[String]]
    val calls = scala.collection.mutable.Buffer.empty[String]

    def bucketExists(bucket: String): Boolean = {
      calls += s"head:$bucket"
      buckets.contains(bucket)
    }
    def createBucket(bucket: String): Unit = {
      calls += s"create:$bucket"
      buckets.getOrElseUpdate(bucket, scala.collection.mutable.SortedSet.empty)
      ()
    }
    def prefixExists(bucket: String, prefix: String): Boolean = {
      calls += s"list1:$bucket/$prefix"
      buckets.get(bucket).exists(_.exists(_.startsWith(prefix)))
    }
    def deletePrefix(bucket: String, prefix: String): Unit = {
      var page = buckets.get(bucket).toSeq
        .flatMap(_.filter(_.startsWith(prefix)).take(pageSize))
      while (page.nonEmpty) {
        calls += s"list:$bucket/$prefix"
        page.foreach { k => calls += s"del:$bucket/$k"; buckets(bucket) -= k }
        page = buckets.get(bucket).toSeq
          .flatMap(_.filter(_.startsWith(prefix)).take(pageSize))
      }
    }
  }

  test("LakeStorage lifecycle ops on a registered scheme route to the adapter, bare paths stay on Hadoop") {
    val store = new FakeStore()
    ObjectStoreAdapters.register("fakes3", store)
    val lake = LakeStorage(spark)

    // absent bucket: clearOrCreate must CREATE (the reference's else-branch)
    lake.clearOrCreate("fakes3://corp_bucket/ds/table")
    assert(store.calls.take(2) === Seq("head:corp_bucket", "create:corp_bucket"))
    assert(store.buckets.contains("corp_bucket"))

    // seed objects; exists(path with prefix) is a prefix probe,
    // exists(bucket root) is head-bucket
    store.buckets("corp_bucket") ++= Seq(
      "ds/table/part-0", "ds/table/part-1", "other/x")
    assert(lake.exists("fakes3://corp_bucket/ds/table"))
    assert(lake.exists("fakes3://corp_bucket"))
    assert(!lake.exists("fakes3://corp_bucket/absent"))

    // existing bucket: clearOrCreate clears ONLY the dataset prefix
    lake.clearOrCreate("fakes3://corp_bucket/ds/table")
    assert(store.buckets("corp_bucket").toSeq === Seq("other/x"))

    // truncate routes to deletePrefix
    store.buckets("corp_bucket") += "ds/table/part-9"
    lake.truncate("fakes3://corp_bucket/ds/table")
    assert(store.buckets("corp_bucket").toSeq === Seq("other/x"))

    // create on a dataset path ensures the BUCKET (no directory objects)
    lake.create("fakes3://fresh_bucket/some/ds")
    assert(store.buckets.contains("fresh_bucket") &&
      store.buckets("fresh_bucket").isEmpty)

    // a bare local path never touches the adapter
    val before = store.calls.size
    val tmp = SparkTestSession.tmp("oslocal").toString
    lake.clearOrCreate(s"$tmp/ds")
    assert(lake.exists(s"$tmp/ds"))
    assert(store.calls.size === before, "local path leaked into the adapter")
  }

  test("deletePrefix clears past the page size — the reference's single-page truncation is not reproduced") {
    val store = new FakeStore(pageSize = 3)
    ObjectStoreAdapters.register("fakes3", store)
    store.createBucket("b")
    store.buckets("b") ++= (0 until 10).map(i => f"ds/part-$i%02d")
    store.buckets("b") += "keepme/part-0"
    LakeStorage(spark).truncate("fakes3://b/ds")
    assert(store.buckets("b").toSeq === Seq("keepme/part-0"))
    // 10 keys at page size 3 ⇒ 4 list pages, not 1
    assert(store.calls.count(_ == "list:b/ds/") === 4)
  }

  test("prefixes are delimiter-terminated: a sibling dataset sharing a name prefix survives") {
    val store = new FakeStore()
    ObjectStoreAdapters.register("fakes3", store)
    store.createBucket("b")
    store.buckets("b") ++= Seq("ds/table/part-0", "ds/table_v2/part-0")
    val lake = LakeStorage(spark)
    // raw key-prefix matching would destroy ds/table_v2 here
    lake.truncate("fakes3://b/ds/table")
    assert(store.buckets("b").toSeq === Seq("ds/table_v2/part-0"))
    // and exists() keeps exact-directory semantics: a name prefix of
    // a real dataset is NOT a dataset
    assert(!lake.exists("fakes3://b/ds/tab"))
    assert(lake.exists("fakes3://b/ds/table_v2"))
    // bucket-root create is idempotent like mkdirs (a real adapter's
    // create throws 409 on an existing bucket — must not be reached)
    val before = store.calls.count(_.startsWith("create:"))
    lake.create("fakes3://b")
    assert(store.calls.count(_.startsWith("create:")) === before)
  }

  test("retry decorator: transient failures retry on the backoff schedule, permanent ones propagate at once") {
    // fails with the injected error `failures` times, then succeeds
    class Flaky(err: Throwable, failures: Int) extends ObjectStoreAdapter {
      var attempts = 0
      private def gate[A](ok: => A): A = {
        attempts += 1
        if (attempts <= failures) throw err else ok
      }
      def bucketExists(b: String): Boolean = gate(true)
      def createBucket(b: String): Unit = gate(())
      def prefixExists(b: String, p: String): Boolean = gate(true)
      def deletePrefix(b: String, p: String): Unit = gate(())
    }
    val sleeps = scala.collection.mutable.Buffer.empty[Long]

    // 503 twice then success: two backoff sleeps, doubling
    val throttled = new Flaky(ObjectStoreException(503, "unavailable"), 2)
    val r1 = new RetryingObjectStore(throttled, maxAttempts = 4,
      baseDelayMs = 100L, sleep = sleeps += _)
    assert(r1.bucketExists("b"))
    assert(throttled.attempts === 3)
    assert(sleeps.toSeq === Seq(100L, 200L))

    // permanent 403: no retry, the classified error carries the code
    val denied = new Flaky(ObjectStoreException(403, "forbidden"), Int.MaxValue)
    val r2 = new RetryingObjectStore(denied, sleep = _ => ())
    val e = intercept[ObjectStoreException](r2.createBucket("b"))
    assert(denied.attempts === 1)
    assert(e.statusCode === 403 && e.getMessage.contains("after 1 attempt"))

    // transient that never heals: bounded, then the classified error
    val dead = new Flaky(new java.io.IOException("conn reset"), Int.MaxValue)
    val r3 = new RetryingObjectStore(dead, maxAttempts = 3, sleep = _ => ())
    intercept[ObjectStoreException](r3.deletePrefix("b", "p"))
    assert(dead.attempts === 3)

    // the decorator IS an adapter: registered, LakeStorage rides it
    val healing = new Flaky(ObjectStoreException(500, "hiccup"), 1)
    ObjectStoreAdapters.register("fakegs",
      new RetryingObjectStore(healing, sleep = _ => ()))
    assert(LakeStorage(spark).exists("fakegs://bkt"))
    assert(healing.attempts === 2)
  }

  test("bucket-name rule and the Hadoop default adapter round-trip") {
    // reference build_bucket_name: prefix+namespace; the S3-style
    // store hyphenates underscores, the GCS-style keeps them
    assert(BucketNames.build("lake-", "my_space", hyphenate = true) === "lake-my-space")
    assert(BucketNames.build("lake_", "my_space", hyphenate = true) === "lake-my-space")
    assert(BucketNames.build("lake_", "my_space", hyphenate = false) === "lake_my_space")

    // the Hadoop adapter realizes the same trait over a local root
    val root = SparkTestSession.tmp("osfs").toString
    val fsAdapter = new HadoopFsBucketAdapter(
      spark.sparkContext.hadoopConfiguration, root)
    assert(!fsAdapter.bucketExists("zone"))
    fsAdapter.createBucket("zone")
    assert(fsAdapter.bucketExists("zone"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "zone", "ds"),
      "x".getBytes("UTF-8"))
    assert(fsAdapter.prefixExists("zone", "ds"))
    fsAdapter.deletePrefix("zone", "ds")
    assert(!fsAdapter.prefixExists("zone", "ds"))
    fsAdapter.deletePrefix("zone", "ds") // absent prefix: no-op
  }
}
