package graft
import graft.core.Json
import graft.queries.QueryRegistry
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also writes
  * _manifest.json (every declared query name + status) so the check
  * harness can detect queries that produced NO output instead of
  * silently skipping them. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names restrict the dump (local
    // iteration on one query; the driver always runs the full sweep)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    val selected = QueryRegistry.names.filter(n => only.isEmpty || only.contains(n))
    val status = selected.map { name =>
      try {
        QueryRegistry(name).run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> "ok"
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          name -> s"failed: ${e.getMessage}"
      } finally {
        // same block-manager hygiene as Bench — in a finally so a
        // query that persists intermediates and THEN throws still
        // releases its blocks instead of leaking them into the
        // remaining 40-query sweep
        graft.core.Sessions.settle(spark)
      }
    }
    def obj(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
        .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(QueryRegistry.specs.map(q => q.name -> q.oracleSql).sortBy(_._1)))
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), obj(status))
    spark.stop()
  }
}
