package graft.catalog

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pre-commit constraint checks — Spark doesn't enforce PK/NOT NULL
  * declarations (SURVEY.md §1.4), so the reference's DDL constraints
  * (`create_tables.py:21`, `orders_ETL.py:76`) become explicit
  * distributed checks on the once-materialised output, run before the
  * sink commits: a failed check leaves the previous output in place.
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

  /** Materialises `df` once, checks it, and hands the cached rows to
    * `sink` only if it is clean; the cache is released either way. The
    * happy path is the one [[check]] job and the sink's write.
    */
  def enforce[T](df: DataFrame, table: String, primaryKey: Seq[String],
                 notNull: Seq[String])(sink: DataFrame => T): T = {
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
