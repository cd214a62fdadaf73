package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kernel-output materialization for DuckDB oracles.
  *
  * Many operators run a non-SQL kernel (HTML parse, crawl engine, synthetic
  * fetch) whose scalar semantics are pinned by ScalaTest; what the driver's
  * DuckDB oracle can independently verify is the DISTRIBUTED part — the
  * aggregations, joins, windows and expression evaluation downstream of the
  * kernel. Pattern: the query materializes the per-row kernel output to a
  * stable parquet path during execution, returns the downstream computation
  * over the re-read rows, and the oracle SQL performs the same computation
  * over a read_parquet() of that path. Where possible the SQL also
  * RECOMPUTES kernel columns from raw materialized inputs (word counts,
  * length bands, jaccard) so the cross-engine check is genuinely
  * independent, not a parquet round-trip.
  */
object OracleMat {

  /** Stable across Verify → DuckDB-check: the checker runs right after the
    * Verify main in the same filesystem namespace. */
  val Root = "/tmp/graft_kernel"

  /** Where THIS process writes. Only the Verify main may write the default
    * Root (the path the static oracle SQL reads); the benchmark and the
    * test suites run the same queries at OTHER scale factors and must not
    * clobber the Verify dump between the Verify and DuckDB-check steps —
    * they redirect via -Dgraft.kernel.root. */
  def writeRoot: String = sys.props.getOrElse("graft.kernel.root", Root)

  /** Write `df` to the query's materialization path and hand back the
    * re-read relation (so downstream plans scan parquet, same as the
    * oracle does). */
  def apply(s: SparkSession, name: String)(df: DataFrame): DataFrame = {
    val path = s"$writeRoot/$name"
    df.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** The DuckDB-side FROM clause for a materialized kernel output. */
  def src(name: String): String = s"read_parquet('$Root/$name/*.parquet')"
}
