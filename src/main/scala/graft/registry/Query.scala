package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the SQL that DuckDB runs over the
  * same parquet tables to recompute the answer (the oracle), and the
  * Spark run over a session and an sf directory. Declaring both in one
  * record is what keeps every query paired with exactly one oracle.
  *
  * A family object declares its `Seq[Query]` after the SQL fragments
  * its oracles interpolate: a strict `val` above them would read them
  * before they are initialized and bake `null` into the SQL. */
final case class Query(name: String, oracleSql: String)(
    val run: (SparkSession, String) => DataFrame)

object Query {

  /** `qs` itself, after checking that no name is declared twice; a
    * repeated name fails here, named, instead of one declaration
    * silently replacing the other in a name-keyed map. */
  def unique(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }
}
