package graft
package queries

import graft.core.LakeStorage
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One declared query (SURVEY.md §2.9 D1-D9 + §7.4 extensions): `run`
  * computes it from the fixture tables of an sf directory, and
  * `oracleSql` is the DuckDB SQL that computes the same table over the
  * same parquet files. Column names are aliased identically on both
  * sides (the oracle check sorts columns by name before hashing).
  */
final case class QuerySpec(
    name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

object QuerySpec {

  /** A query whose body works in a scratch root: a fresh local
    * directory, passed to the body as its third argument. The result
    * is detached from the root with an eager `localCheckpoint`, so
    * nothing the caller reads lives under it, and the root is removed
    * in a `finally`, whether the body returns or throws.
    */
  def scratch(
      name: String,
      body: (SparkSession, String, String) => DataFrame,
      oracleSql: String): QuerySpec =
    QuerySpec(name, (s, dir) => {
      val root = Files.createTempDirectory(s"graft-$name").toString
      try detached(body(s, dir, root))
      finally new LakeStorage(s.sparkContext.hadoopConfiguration).truncate(root)
    }, oracleSql)

  /** A body that has to run its result inside a scope it closes before
    * returning (a registered MV, a session conf) returns it as a local
    * checkpoint already; that one is kept, not taken twice. */
  private def detached(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => df
      case _ => df.localCheckpoint(true)
    }
}

/** Every declared query, by family. `Verify`, `Bench`, `Profile`,
  * `ScaleCheck` and the specs read it. */
object QueryRegistry {
  val specs: Seq[QuerySpec] =
    DeclaredQueries.specs ++ FlowQueries.specs ++ CapQueries.specs ++
      AnnQueries.specs ++ DedupQueries.specs ++ ViewQueries.specs ++
      TextQueries.specs ++ StreamQueries.specs ++ ExtQueries.specs

  private val byName: Map[String, QuerySpec] = specs.map(q => q.name -> q).toMap
  require(byName.size == specs.size,
    s"duplicate query names: ${specs.groupBy(_.name).filter(_._2.size > 1).keys.mkString(", ")}")

  /** Sorted, the order `Verify` and `Bench` run them in. */
  val names: Seq[String] = specs.map(_.name).sorted

  def apply(name: String): QuerySpec = byName(name)
}
