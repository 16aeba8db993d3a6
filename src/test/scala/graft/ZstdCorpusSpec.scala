package graft

import graft.functions.ZstdDictCodec
import graft.sources.ZstdCorpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZstdCorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = graft.queries.Fixtures.tbl(spark, sf, "documents")
    .select("doc_id", "lang", "text")

  // the _zdict sidecar is part of the table's real footprint, so the
  // shared LakeStorage.dirBytes (which counts it) is the right measure
  private def dirBytes(dir: String): Long =
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .dirBytes(dir)

  test("context cache keys on dict CONTENT: two dicts colliding under " +
      "Arrays.hashCode (the pre-r18 cache key) do not cross-contaminate") {
    import org.apache.spark.unsafe.types.UTF8String
    // java.util.Arrays.hashCode([a, b]) = 31*(31 + a) + b, so these
    // two DISTINCT raw-content dictionaries collide: 992 == 992. Under
    // a hash-keyed context cache the second compress on the same
    // executor thread would silently reuse the first dict's context —
    // frames readable only with the WRONG dictionary. The digest-keyed
    // cache must round-trip both on one thread, interleaved.
    val d1 = Array[Byte](1, 0)
    val d2 = Array[Byte](0, 31)
    assert(java.util.Arrays.hashCode(d1) == java.util.Arrays.hashCode(d2))
    assert(!java.util.Arrays.equals(d1, d2))
    val doc = "the quick brown fox jumps over the lazy dog, twice over"
    val c1 = ZstdDictCodec.compress(UTF8String.fromString(doc), d1, 3)
    val c2 = ZstdDictCodec.compress(UTF8String.fromString(doc), d2, 3)
    assert(ZstdDictCodec.decompress(c1, d1).toString == doc)
    assert(ZstdDictCodec.decompress(c2, d2).toString == doc)
    // interleave again so each dict's ctx must be re-looked-up after
    // the other's was used — a colliding key would serve the wrong one
    val c1b = ZstdDictCodec.compress(UTF8String.fromString(doc), d1, 3)
    assert(ZstdDictCodec.decompress(c1b, d1).toString == doc)
    assert(java.util.Arrays.equals(c1, c1b),
      "same dict + level must produce the same frame")
  }

  test("dict round-trip is exact for every document, nulls pass through") {
    val dir = SparkTestSession.tmp("zstd").toString
    val withNull = docs.withColumn("text",
      when(col("doc_id") % 97 === 0, lit(null)).otherwise(col("text")))
    ZstdCorpus.writeCompressed(spark, withNull, s"$dir/z")
    val back = ZstdCorpus.readCompressed(spark, s"$dir/z")
    val diff = withNull.select("doc_id", "text")
      .except(back.select("doc_id", "text"))
    assert(diff.isEmpty, "decompressed text must equal the original exactly")
    assert(back.count() == withNull.count())
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(dir)
  }

  test("dictionary economics: wins the small-file (streaming-delta) regime, dict-less ablation, honest big-file loss") {
    val dir = SparkTestSession.tmp("zstd-sz").toString
    val sidecarBytes = 64 << 10 // fixed, amortized O(1) over a corpus
    def dataBytes(d: String): Long = dirBytes(d) - (
      if (new org.apache.hadoop.fs.Path(s"$d/_zdict").getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(
        new org.apache.hadoop.fs.Path(s"$d/_zdict"))) sidecarBytes else 0L)

    // BIG-FILE regime: one compacted file, page codec has the whole
    // column chunk as history — expected to WIN; reported, not spun
    docs.coalesce(1).write.option("compression", "zstd")
      .parquet(s"$dir/plain-big")
    val dict = ZstdCorpus.writeCompressed(
      spark, docs.coalesce(1), s"$dir/dict-big")
    // ablation: same per-value frames, EMPTY history — isolates the
    // dictionary's contribution from frame overhead
    docs.coalesce(1)
      .withColumn("text_z", ZstdDictCodec.compressCol(col("text"),
        Array.emptyByteArray, 3))
      .drop("text")
      .write.option("compression", "uncompressed").parquet(s"$dir/dictless")
    val (plainBig, dictBig, noDict) = (dirBytes(s"$dir/plain-big"),
      dataBytes(s"$dir/dict-big"), dirBytes(s"$dir/dictless"))
    assert(dictBig < noDict,
      s"the trained dictionary must beat dict-less per-value frames: $dictBig vs $noDict")

    // SMALL-FILE regime — the streaming-ingest posture this pass
    // exists for: O(batch) micro-batches land few rows per file, the
    // page codec's history collapses to those rows, the dict frame's
    // context doesn't
    val shards = 64
    docs.repartition(shards).write.option("compression", "zstd")
      .parquet(s"$dir/plain-small")
    ZstdCorpus.writeCompressed(spark, docs.repartition(shards),
      s"$dir/dict-small", dict = Some(dict))
    // frames-only on the dict side: the 64 KiB sidecar is a fixed
    // cost amortized O(1) over a corpus, not a per-tier cost
    val (plainSmall, dictSmall) =
      (dirBytes(s"$dir/plain-small"), dataBytes(s"$dir/dict-small"))
    info(f"big file: parquet-zstd $plainBig%,d B vs dict frames $dictBig%,d B (+64 KiB sidecar); dict-less $noDict%,d B")
    info(f"small files (x$shards): parquet-zstd $plainSmall%,d B vs dict frames $dictSmall%,d B")
    assert(dictSmall < plainSmall,
      s"dict frames must beat the page codec in the small-file regime: " +
        s"$dictSmall vs $plainSmall")

    // GRADUATION closes the loop: the dict-compressed hot tier
    // rewritten compacted under the page codec must land at the
    // compacted-page-codec size (it IS that table), beating the
    // small-file dict tier it graduated from — and it reads back
    // identical with no _zdict dependency
    ZstdCorpus.graduate(spark, s"$dir/dict-small", s"$dir/graduated")
    val grad = dirBytes(s"$dir/graduated")
    info(f"graduated (compacted page-codec): $grad%,d B")
    assert(grad < dictSmall,
      s"graduation must shrink the hot tier: $grad vs $dictSmall")
    assert(spark.read.parquet(s"$dir/graduated").columns.contains("text"),
      "graduated tier is plain plaintext parquet")
    val gdiff = docs.select("doc_id", "text")
      .except(spark.read.parquet(s"$dir/graduated").select("doc_id", "text"))
    assert(gdiff.isEmpty, "graduation must preserve every document")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(dir)
  }

  test("compactCorpusTier: merges under the boundary, graduates over it, idempotent after") {
    import graft.sinks.Compaction
    val dir = SparkTestSession.tmp("ztier").toString
    val zone = s"$dir/z"
    ZstdCorpus.writeCompressed(spark, docs.repartition(6), zone)
    val fs = new org.apache.hadoop.fs.Path(zone)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(zone))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    def hasDict = fs.exists(ZstdCorpus.dictPath(zone))

    // under the boundary: merge, keep frames + sidecar
    assert(Compaction.compactCorpusTier(spark, zone,
      graduateAtBytes = Long.MaxValue) == Compaction.DictTier)
    assert(hasDict && nFiles < 6, s"expected merged dict tier ($nFiles files)")
    assert(spark.read.parquet(zone).columns.contains("text_z"))
    assert(ZstdCorpus.readCompressed(spark, zone).select("doc_id", "text")
      .except(docs.select("doc_id", "text")).isEmpty,
      "dict-tier merge must preserve every frame")

    // over the boundary: graduate to the page codec, drop the sidecar
    assert(Compaction.compactCorpusTier(spark, zone,
      graduateAtBytes = 1L) == Compaction.PageTier)
    assert(!hasDict, "graduated zone must not depend on _zdict")
    val grad = spark.read.parquet(zone)
    assert(grad.columns.contains("text") && !grad.columns.contains("text_z"))
    assert(grad.select("doc_id", "text")
      .except(docs.select("doc_id", "text")).isEmpty,
      "graduation must preserve every row")

    // already graduated: no-op PageTier on the cadence
    assert(Compaction.compactCorpusTier(spark, zone) == Compaction.PageTier)
    assert(grad.count() == docs.count())
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(dir)
  }

  test("delta appends compress against the SAME frozen dictionary and stay readable") {
    val dir = SparkTestSession.tmp("zstd-delta").toString
    val first = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
    val d = ZstdCorpus.writeCompressed(spark, first, s"$dir/z")
    // append path: reuse the returned dictionary, mode-append the rows
    delta.withColumn("text_z", ZstdDictCodec.compressCol(col("text"), d, 3))
      .drop("text")
      .write.mode("append").option("compression", "uncompressed")
      .parquet(s"$dir/z")
    val back = ZstdCorpus.readCompressed(spark, s"$dir/z")
    assert(back.count() == docs.count())
    val diff = docs.select("doc_id", "text").except(back.select("doc_id", "text"))
    assert(diff.isEmpty, "append-path frames must decode with the frozen dict")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(dir)
  }

  test("column pruning drops the decompression with the text column") {
    val dir = SparkTestSession.tmp("zstd-prune").toString
    ZstdCorpus.writeCompressed(spark, docs, s"$dir/z")
    val noText = ZstdCorpus.readCompressed(spark, s"$dir/z").select("doc_id", "lang")
    val plan = noText.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"a text-free projection must not read (or decode) the frames:\n$plan")
    assert(!plan.contains("zstd_dict_decompress"),
      s"pruned plan must carry no decompression:\n$plan")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(dir)
  }
}
