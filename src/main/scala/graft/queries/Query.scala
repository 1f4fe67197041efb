package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark body over the driver's parquet tables in
  * `dir`, and the exact DuckDB SQL it is hash-compared against (column
  * names aligned — the driver compares by sorted column name).
  *
  * `timed = false` marks a correctness-only exactness twin: its plan is
  * quadratic BY CONSTRUCTION (the all-pairs oracle shape a banded/bucketed
  * production query is verified against), so timing it says nothing about
  * 100-TB behavior. Verify still dumps it and the driver's oracle check is
  * unaffected; Bench leaves it out of the timed suite and records the
  * exclusion in its JSON line (`untimed_correctness_twins`) — bounded
  * coverage is declared, never silent. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    timed: Boolean = true)
