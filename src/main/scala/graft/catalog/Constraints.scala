package graft.catalog

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pre-commit constraint checks — Spark doesn't enforce PK/NOT NULL
  * declarations (SURVEY.md §1.4), so the reference's DDL constraints
  * (`create_tables.py:21`, `orders_ETL.py:76`) become explicit checks on
  * the once-computed output, run before the sink commits: a failed
  * check leaves the previous output in place.
  *
  * [[enforce]] takes one of two paths, chosen from the optimized plan:
  *  - a plan that yields at most one row (a global aggregate, a top-1;
  *    all three reference outputs) is collected once and checked on the
  *    driver, and the sink writes the collected row;
  *  - any other plan is persisted, checked with one distributed `count`
  *    ([[check]]) and written from the cache.
  * Either way the transform runs once and the sink sees only a clean
  * output.
  */
object Constraints {

  final case class Violations(table: String, duplicateKeys: Long, nullRows: Long) {
    def clean: Boolean = duplicateKeys == 0 && nullRows == 0
  }

  /** A failed check. Deterministic, so a retry cannot clear it. */
  final class ConstraintViolation(val violations: Violations)
      extends IllegalStateException(
        s"constraint violations in ${violations.table}: " +
          s"${violations.duplicateKeys} duplicate primary keys, " +
          s"${violations.nullRows} rows with NULL in NOT NULL columns")

  /** Counts PK duplicates and NOT-NULL violations in one `count` job:
    * per key group its row count and null rows, totalled over the
    * groups as observed metrics. An empty key is one group and never
    * counts duplicates.
    */
  def check(df: DataFrame, table: String, primaryKey: Seq[String],
            notNull: Seq[String]): Violations = {
    val duplicate = if (primaryKey.isEmpty) lit(false) else col("n") > 1
    val totals = Observation()
    df.groupBy(primaryKey.map(col): _*)
      .agg(count(lit(1)).as("n"), count_if(anyNull(notNull)).as("nulls"))
      .observe(totals, count_if(duplicate).as("dupes"),
        coalesce(sum(col("nulls")), lit(0L)).as("nulls"))
      .count()
    val m = totals.get
    Violations(table, m("dupes").asInstanceOf[Long], m("nulls").asInstanceOf[Long])
  }

  /** Plans bounded to this many rows are checked on the driver. At
    * most one row holds no duplicate key, so only NOT NULL is tested.
    */
  private val DriverCheckMaxRows = 1L

  /** Computes `df` once, checks it, and hands its rows to `sink` only
    * if they are clean. The happy path is one job (the `collect` of a
    * one-row plan, else the [[check]] of the persisted rows, whose cache
    * is released either way) and the sink's write.
    */
  def enforce[T](df: DataFrame, table: String, primaryKey: Seq[String],
                 notNull: Seq[String])(sink: DataFrame => T): T =
    if (df.queryExecution.optimizedPlan.maxRows.exists(_ <= DriverCheckMaxRows)) {
      val rows = df.collect()
      val nullRows = rows.count(r => notNull.exists(c => r.isNullAt(r.fieldIndex(c))))
      val v = Violations(table, duplicateKeys = 0L, nullRows.toLong)
      if (!v.clean) throw new ConstraintViolation(v)
      sink(df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
    } else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val v = check(df, table, primaryKey, notNull)
        if (!v.clean) throw new ConstraintViolation(v)
        sink(df)
      } finally df.unpersist()
    }

  private def anyNull(columns: Seq[String]) =
    columns.map(col(_).isNull).foldLeft(lit(false))(_ || _)
}
