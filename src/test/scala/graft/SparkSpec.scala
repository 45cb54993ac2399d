package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + helpers for all suites (one session per JVM —
  * suites run in the forked test JVM, `build.sbt` Test/fork).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Map[String, Any]] =
    df.collect().toSeq.map(r =>
      r.schema.fieldNames.zip(r.toSeq).toMap)

  def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Runs `body` with a fresh temp directory and deletes it, with
    * everything written under it, afterwards.
    */
  def withTempDir[T](body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spec")
    try body(dir) finally graft.streaming.EventsStream.deleteRecursively(dir)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cores = 8, appName = "graft-test")
}
