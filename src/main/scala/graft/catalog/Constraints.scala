package graft.catalog

import org.apache.spark.sql.DataFrame
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

  /** Count PK duplicates and NOT-NULL violations in one pass each. */
  def check(df: DataFrame, table: String, primaryKey: Seq[String],
            notNull: Seq[String]): Violations = {
    val dupes =
      if (primaryKey.isEmpty) 0L
      else df.groupBy(primaryKey.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    val nulls =
      if (notNull.isEmpty) 0L
      else df.filter(anyNull(notNull)).count()
    Violations(table, dupes, nulls)
  }

  /** Materialises `df` once, checks it, and hands the cached rows to
    * `sink` only if it is clean; the cache is released either way.
    *
    * The happy path is one `count` of violating key groups; the exact
    * counts for the exception come from [[check]], run only when that
    * count is non-zero.
    */
  def enforce[T](df: DataFrame, table: String, primaryKey: Seq[String],
                 notNull: Seq[String])(sink: DataFrame => T): T = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val duplicate = if (primaryKey.isEmpty) lit(false) else col("n") > 1
      val violating = df.groupBy(primaryKey.map(col): _*)
        .agg(count(lit(1)).as("n"), count_if(anyNull(notNull)).as("nulls"))
        .filter(duplicate || col("nulls") > 0)
        .count()
      if (violating > 0) {
        val v = check(df, table, primaryKey, notNull)
        throw new IllegalStateException(
          s"constraint violations in $table: ${v.duplicateKeys} duplicate " +
            s"primary keys, ${v.nullRows} rows with NULL in NOT NULL columns")
      }
      sink(df)
    } finally df.unpersist()
  }

  private def anyNull(columns: Seq[String]) =
    columns.map(col(_).isNull).foldLeft(lit(false))(_ || _)
}
