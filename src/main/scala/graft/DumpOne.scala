package graft
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name, out) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.local(cpus, "graft-dump-one")
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
