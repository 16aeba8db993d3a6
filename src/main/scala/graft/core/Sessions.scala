package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * - shuffle partitions sized to the local core count (the 200
  *   default is wrong for local mode; on a real cluster this knob is
  *   deployment config),
  * - AQE on (runtime re-plan: skew-join splitting, partition
  *   coalescing — the 100 TB posture assumes it),
  * - UTC session timezone (oracle parity),
  * - `nanosAsLong`: parquet TIMESTAMP(NANOS) columns (the `events`
  *   fixture) read as nanos-since-epoch longs, which
  *   `Tables.normalizeNanos` converts losslessly to TimestampType —
  *   Spark has no native ns timestamp.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // AQE inside persist()/cache() materialization (off by default
      // only for plan-output-partitioning compat): without it a cached
      // subtree keeps the static shuffle-partition count — 32 tiny
      // post-shuffle tasks over KB-scale partitions locally, and on a
      // cluster a cached intermediate skips exactly the runtime
      // coalescing the 100 TB posture assumes everywhere else.
      // Nothing here relies on a cached plan's partitioning.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Size-based post-shuffle coalescing (r19): with the default
      // parallelismFirst=true AQE refuses to coalesce below the
      // default parallelism, so every KB-scale exchange still
      // schedules `cores` tasks — locally 32 tasks for 100-row probe
      // ranks, on a cluster thousands for group-sized states. false
      // honors advisoryPartitionSizeInBytes (the guide-§2.2 posture:
      // partitions sized by bytes, not core count), which is also
      // Spark's own documented recommendation for busy clusters.
      // Scale-adaptive by construction: big shuffles keep their
      // parallelism, tiny ones stop paying 32 empty task launches.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // MinHash signatures aggregate 128 columns at once; the default
      // maxFields=100 would silently drop those plans out of
      // whole-stage codegen (interpreted row-at-a-time, ~4x slower).
      .config("spark.sql.codegen.maxFields", "512")
      // native whole-operator extensions (as-of join rewrite rule and
      // strategy, the ANN probes' per-query top-k strategy) — inert
      // for plans that carry neither node
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // `file:` lakes without libhadoop: the stock local filesystem
      // forks `chmod`, `ls -ld` and `readlink` per file it creates,
      // lists or renames. LocalLakeFs makes the same system calls
      // in-process. Measured on a 4-vCPU VM, 200 files each, after
      // warm-up: a checksummed create 6.0 -> 0.16 ms, a mkdirs 2.9 ->
      // 0.05 ms, a listFiles entry 6.8 -> 0.08 ms. perfbench medians,
      // 10 alternating pairs each, step_p50_s: upsert_stream 1.402 ->
      // 1.160 s, backfill_jdbc_date 0.731 -> 0.596 s, ann_serve 0.559
      // -> 0.504 s. FileContext (stream checkpoints) reads only the
      // AbstractFileSystem key. Other schemes are untouched.
      .config("spark.hadoop.fs.file.impl", classOf[LocalLakeFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalLakeFs.Afs].getName)

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deterministically release every cached/persisted block a query
    * left behind — between-queries hygiene for the Bench/Verify
    * sweeps, where 40 queries share one session but model independent
    * production jobs. Both drops are BLOCKING: with `blocking=false`
    * the next query's timed window overlaps the async removals and
    * starts under leftover memory pressure (round 4 measured 2-6x
    * inflation on small queries from exactly that). */
  def settle(spark: SparkSession): Unit = {
    // blocking unpersist FIRST: clearCache() drops its entries
    // non-blockingly and removes them from the persistent-RDD map, so
    // running it first would hide exactly the blocks this wait is for
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
