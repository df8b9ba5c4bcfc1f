package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Data-quality assertions — the reference's dbt test layer
 * (dbt/tests/ and dbt/models/ schema.yml files) as Spark checks.
 */
object Quality {

  /** Source-freshness check (dbt sources.yml:27-29: `warn_after` 24 h,
    * `error_after` 48 h on the web source's load timestamp): one row with
    * the source name, max(timestampCol), its age in hours relative to
    * `asOf` (default now; pass a literal for deterministic tests/oracles)
    * and pass/warn/error. An empty or all-null timestamp column is an
    * error, as in dbt. */
  def sourceFreshness(df: DataFrame, timestampCol: String, source: String,
      warnAfterHours: Double = 24.0, errorAfterHours: Double = 48.0,
      asOf: org.apache.spark.sql.Column = current_timestamp()): DataFrame =
    df.agg(max(col(timestampCol)).as("max_loaded_at"))
      // whole-second difference divided once: exact integers in, one IEEE
      // division out — engine-portable without rounding
      .select(lit(source).as("source"), col("max_loaded_at"),
        // casts tolerate TIMESTAMP_NTZ loaded-at columns (UTC session tz)
        ((unix_timestamp(asOf.cast("timestamp")) -
          unix_timestamp(col("max_loaded_at").cast("timestamp"))) / 3600.0)
          .as("age_hours"))
      .withColumn("freshness_status",
        when(col("max_loaded_at").isNull, "error")
          .when(col("age_hours") > errorAfterHours, "error")
          .when(col("age_hours") > warnAfterHours, "warn")
          .otherwise("pass"))

  /** All dim_companies checks as ONE one-row DataFrame of violation
    * counts (a single job: one row-level aggregate + the duplicate-key
    * sub-aggregate), oracle-checkable. The counts are dbt's tests:
    * assert_no_duplicate_abns.sql (`duplicate_abns`),
    * assert_valid_confidence_scores.sql (scores outside [0,1] or null,
    * `invalid_confidence`), and schema.yml's accepted_values on status,
    * state and source (nulls pass, as in dbt). */
  def report(dim: DataFrame): DataFrame = {
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    val rowLevel = dim.agg(
      cnt(col("match_confidence_score").isNull ||
        col("match_confidence_score") < 0.0 ||
        col("match_confidence_score") > 1.0).as("invalid_confidence"),
      cnt(col("entity_status").isNotNull &&
        !col("entity_status").isInCollection(Seq("Active", "Cancelled")))
        .as("bad_status"),
      cnt(col("state").isNotNull &&
        !col("state").isInCollection(graft.functions.Text.ValidStates))
        .as("bad_state"),
      cnt(col("data_source").isNotNull && !col("data_source")
        .isInCollection(Seq("MATCHED", "ABR_ONLY", "MERGED", "WEB_ONLY")))
        .as("bad_source"))
    val dups = dim.groupBy("abn").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("duplicate_abns"))
    dups.crossJoin(rowLevel)
  }
}
