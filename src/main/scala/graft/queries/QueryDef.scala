package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark-first implementation plus (where the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle statement
  * over the same Parquet tables. The driver's correctness gate
  * (`graft.Verify`) hash-compares the two at sf0.01.
  *
  * Determinism rules every QueryDef follows so the hash compare is stable:
  *   - results end with a total ORDER BY (same in Spark and oracle SQL);
  *   - floating aggregates go through `CAST(SUM(CAST(x AS DECIMAL)) AS
  *     DOUBLE)` so the sum is order-independent and bit-identical across
  *     engines (per-row double arithmetic is IEEE-deterministic; only
  *     reduction order varies, and decimals kill that variance);
  *   - every computed column is aliased identically on both sides (the
  *     driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object QueryDef {
  /** Materialization root for queries that write run artifacts (two-stage
    * oracles, sink tables), keyed by sfDir so concurrent runs against
    * different directories never collide. One sanitizer for every site:
    * it PRESERVES '.', '-' and '_' — collapsing them (an earlier variant
    * used `[^a-zA-Z0-9]`) would map distinct dirs like `sf0.1` and
    * `sf0-1` to the same key and let concurrent runs clobber each other. */
  def materializePath(sfDir: String, name: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"/tmp/graft_mat/$tag/$name"
  }
}
