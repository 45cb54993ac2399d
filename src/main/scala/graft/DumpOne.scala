package graft
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name, out) = args
    val spark = GraftSession.local(appName = "graft-dump-one")
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
