package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral round-trip for the JDBC source/sink against embedded
  * Derby (the one JDBC engine Spark ships in its own jars) — the
  * closest this zero-egress environment gets to the reference's
  * Postgres staging tables. The partitioned read exercises the
  * production shape: `partitionColumn/lowerBound/upperBound/
  * numPartitions` must split the table into range predicates whose
  * union is exactly the table (no dropped or duplicated boundary
  * rows), one connection per task.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  // in-memory database: lives as long as the test JVM, writes no files
  private val conn = Jdbc.Conn(
    url = "jdbc:derby:memory:graft-jdbc-spec;create=true",
    user = "app", password = "app",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  test("append then partitioned read round-trips exactly") {
    val rows = (1 to 257).map(i => (i.toLong, s"name_$i", i * 1.5))
    val df = rows.toDF("id", "name", "score")
    Jdbc.append(df, conn, "people", batchSize = 64)

    // unpartitioned read sees every row
    val plain = Jdbc.readTable(spark, conn, "people")
    assert(plain.count() == 257)

    // partitioned read: 8 range predicates over id must union to the
    // exact table — boundary rows neither lost nor duplicated
    val part = Jdbc.readTable(spark, conn, "people",
      partitionColumn = Some("id"), lowerBound = 1L, upperBound = 257L,
      numPartitions = 8)
    assert(part.rdd.getNumPartitions == 8)
    // the partitioning is IN THE SCAN (range predicates per task),
    // not a post-read repartition
    assert(part.queryExecution.executedPlan.toString
      .contains("numPartitions=8"),
      part.queryExecution.executedPlan.toString.take(400))
    val got = part.select($"id", $"name", $"score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == rows.toSet)

    // appended batch lands next to the first (INSERT INTO ... SELECT)
    Jdbc.append(df.withColumn("id", $"id" + 1000), conn, "people")
    assert(Jdbc.readTable(spark, conn, "people").count() == 514)
  }

  test("column filters push down into the JDBC scan") {
    val f = Jdbc.readTable(spark, conn, "people").filter($"id" <= 10)
    val ex = f.queryExecution.executedPlan.toString
    // the predicate must reach the database as SQL (PushedFilters on
    // the JDBC relation), not run as a post-scan Spark filter over a
    // full-table fetch — at warehouse scale that is the difference
    // between an indexed range scan and marshalling the whole table
    assert(ex.contains("PushedFilters") && ex.contains("LessThanOrEqual"),
      ex.take(400))
    assert(f.count() == 10)
  }

  test("jdbc_pushdown_segment board row pushes both predicates into Derby") {
    val df = JdbcGate.queries("jdbc_pushdown_segment")(spark, sf)
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("PushedFilters"), ex.take(400))
    // both the segment equality and the balance range reach the
    // database (the * prefix marks a FULLY pushed filter; the
    // metadata string truncates at the default char budget, so match
    // the prefix of the second predicate)
    assert(ex.contains("*EqualTo(c_mktsegment,BUILDING)") &&
      ex.contains("*GreaterThan(c"), ex.take(600))
    assert(df.count() > 0)
  }

  test("query read pushes the subquery down to the database") {
    // Spark's JDBC writer quotes column identifiers, so Derby stores
    // them case-sensitively lowercase — quote them in the pushdown SQL
    val agg = Jdbc.readQuery(spark, conn,
      """SELECT "name", "score" FROM people WHERE "id" <= 10""")
    assert(agg.count() == 10)
    // filter applied inside Derby, not post-hoc: the scan's schema is
    // the subquery's projection, nothing wider
    assert(agg.columns.toSeq == Seq("name", "score"))
  }
}
