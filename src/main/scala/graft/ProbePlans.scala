package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Dev harness (r18 plan evidence): most persisted-index lifecycle
  * queries return a localCheckpoint'd union, whose formatted plan is
  * just a ScanExistingRDD — useless as before/after evidence for the
  * probe-path changes. This main builds each index once at a small SF
  * and writes the FORMATTED plan of the core probe operators
  * themselves (LshIndex.topK/topKRefs, IvfIndex.topK/topKRefs,
  * PqIndex.topK, bm25TopKPruned's result) to
  * `plans/r18/probe_<name>_<suffix>.txt`.
  *
  * Usage: runMain graft.ProbePlans <outDir> <suffix>
  */
object ProbePlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local(8)
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/probe_${name}_$suffix.txt"), plan)
      println(s"[probeplans] wrote $name")
    }
    val e = graft.queries.Fixtures.tbl(spark, sfDir, "embeddings")

    val root = Files.createTempDirectory("graft-probeplans").toString
    val path = s"$root/vectors"
    e.repartition(3).write.parquet(path)
    val q = spark.read.parquet(path).where(col("vec_id") < 5)

    graft.sinks.LshIndex.collect(spark, path, planes = 4)
    dump("lsh_topk",
      graft.sinks.LshIndex.topK(spark, path, q, k = 10, probeRadius = 4))
    graft.sinks.LshIndex.collectRefs(spark, path, planes = 4)
    dump("lsh_topkrefs",
      graft.sinks.LshIndex.topKRefs(spark, path, q, k = 10, probeRadius = 4))
    graft.sinks.IvfIndex.collect(spark, path, nCells = 8)
    dump("ivf_topk",
      graft.sinks.IvfIndex.topK(spark, path, q, k = 10, nProbe = 8))
    graft.sinks.IvfIndex.collectRefs(spark, path, nCells = 8)
    dump("ivf_topkrefs",
      graft.sinks.IvfIndex.topKRefs(spark, path, q, k = 10, nProbe = 8))
    graft.sinks.PqIndex.collect(spark, path, m = 8, ks = 16)
    dump("pq_topk",
      graft.sinks.PqIndex.topK(spark, path, q, k = 10,
        candidateK = Int.MaxValue))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val droot = Files.createTempDirectory("graft-probeplans-docs").toString
    val dpath = s"$droot/docs"
    docs.write.parquet(dpath)
    graft.sinks.InvertedIndex.collect(spark, dpath, "text", "doc_id")
    graft.sinks.InvertedIndex.buildRetrievalStats(spark, dpath)
    dump("bm25_pruned",
      graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, dpath, "the quick brown fox", k = 5).topK)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(droot)
    spark.stop()
  }
}
