package graft.operators

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{FileTime, PosixFilePermissions}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.{Jdbc, JdbcGate}

/** The derived-artifact store behind the partitioned fact copy, the
  * cluster assignment, the pair/node layouts, the probe verdicts, the
  * trained models and the Derby warehouse load: no artifact kind is
  * served once any input file or the engine code changes. The derived
  * tables alone are covered in `DerivedLayoutSpec`.
  */
class DerivedStoreSpec extends SparkSpec {
  import spark.implicits._

  // ---- no artifact kind can be served stale ----------------------

  private def writeCustomers(path: String, rows: Seq[(Long, Int, Int)],
                             mode: String): Unit =
    rows.map { case (k, a, b) => (k, s"c$k", 1, k * 1.5, "BUILDING", a, b) }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "a", "b")
      .coalesce(1).write.partitionBy("a", "b").mode(mode).parquet(path)

  /** Appends one leaf file two partition levels down while every
    * existing directory and file (the rewritten `_SUCCESS` marker too)
    * keeps its mtime, so only a recursive leaf-file listing can see
    * the change.
    */
  private def appendNestedFrozen(path: String): Unit = {
    def under(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(under)
    val frozen = under(new File(path)).map(f => f -> f.lastModified())
    writeCustomers(path, Seq((3L, 1, 1)), "append")
    frozen.foreach { case (f, t) =>
      Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(t))
    }
  }

  test("a new leaf file two partition levels down rebuilds every artifact kind") {
    withTempDir { root =>
      // fixed sf name: the Derby warehouse lives under target/derby by
      // sf name, so reruns reuse one database instead of adding more
      val dir = root.resolve("sfStaleSpec").toFile; dir.mkdirs()
      val path = new File(dir, "customer.parquet").getAbsolutePath
      writeCustomers(path, Seq((1L, 1, 1), (2L, 1, 2)), "overwrite")
      def src(): DataFrame = spark.read.parquet(path)
      var tables, verdicts, models = 0
      def all(): (Long, Boolean, Double, Long) = {
        val t = DerivedStore.table(dir.getAbsolutePath, "stale_spec", src()) { out =>
          tables += 1; src().write.mode("overwrite").parquet(out)
        }
        val v = DerivedStore.verdict(src(), "spec_stale_verdict") {
          verdicts += 1; src().count() == 2
        }
        val m = DerivedStore.value(src(), "spec_stale_model") {
          models += 1; Array(Array(src().count().toDouble))
        }(Similarity.encodeMatrix)(Similarity.decodeMatrix)
        JdbcGate.ensureCustomerLoaded(spark, dir.getAbsolutePath)
        val wh = Jdbc.readTable(spark, JdbcGate.conn(dir.getAbsolutePath), "customer_wh")
        (spark.read.parquet(t).count(), v, m(0)(0), wh.count())
      }
      assert(all() == ((2L, true, 2.0, 2L)))
      DerivedStore.clearMemo() // as a fresh JVM: served from disk
      assert(all() == ((2L, true, 2.0, 2L)))
      assert((tables, verdicts, models) == ((1, 1, 1)))

      appendNestedFrozen(path)
      assert(all() == ((3L, false, 3.0, 3L)),
        "an artifact was served from the files before the append")
      assert((tables, verdicts, models) == ((2, 2, 2)))
    }
  }

  test("another engine code version gives another key for every artifact kind") {
    withTempDir { root =>
      val path = root.resolve("customer.parquet").toString
      writeCustomers(path, Seq((1L, 1, 1)), "overwrite")
      val src = spark.read.parquet(path)
      for (kind <- Seq("stale_spec", "spec_stale_verdict", "spec_stale_model",
                       "customer_wh")) {
        val now = DerivedStore.key(src, kind)
        assert(now.isDefined && now == DerivedStore.key(src, kind, DerivedStore.codeVersion))
        assert(DerivedStore.key(src, kind, DerivedStore.codeVersion + "'") != now, kind)
      }
    }
  }

  // ---- a disk entry is only a cache ------------------------------

  test("an entry that cannot be read or decoded is recomputed and rewritten") {
    withTempDir { root =>
      val path = root.resolve("customer.parquet").toString
      writeCustomers(path, Seq((1L, 1, 1)), "overwrite")
      def src(): DataFrame = spark.read.parquet(path)
      val kind = s"spec_bad_entry_${System.nanoTime()}"
      val entry = new File(s"target/derived/values/${DerivedStore.key(src(), kind).get}")
      var builds = 0
      def fresh(): Double = {
        DerivedStore.clearMemo()
        DerivedStore.value(src(), kind) { builds += 1; Array(Array(4.0)) }(
          Similarity.encodeMatrix)(Similarity.decodeMatrix)(0)(0)
      }
      // no body, an unparseable cost line, an undecodable body
      for (bad <- Seq("0.5", "soon\n4.0", "0.5\nfour")) {
        entry.getParentFile.mkdirs()
        Files.writeString(entry.toPath, bad)
        assert(fresh() == 4.0, bad)
      }
      assert(builds == 3)
      assert(fresh() == 4.0 && builds == 3, "the rewritten entry was not served")
    }
  }

  test("a disk entry is readable beyond its owner") {
    withTempDir { root =>
      val path = root.resolve("customer.parquet").toString
      writeCustomers(path, Seq((1L, 1, 1)), "overwrite")
      val src = spark.read.parquet(path)
      val kind = s"spec_entry_mode_${System.nanoTime()}"
      DerivedStore.value(src, kind)(Array(Array(1.0)))(
        Similarity.encodeMatrix)(Similarity.decodeMatrix)
      val entry = Paths.get(s"target/derived/values/${DerivedStore.key(src, kind).get}")
      // a temp file would be rw------- whatever the umask
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(entry)) == "rw-r--r--")
    }
  }

  test("probe verdicts stay out of the ModelCost ledger") {
    withTempDir { root =>
      val path = root.resolve("customer.parquet").toString
      writeCustomers(path, Seq((1L, 1, 1)), "overwrite")
      def src(): DataFrame = spark.read.parquet(path)
      val kind = s"spec_probe_cost_${System.nanoTime()}"
      var probes = 0
      for (_ <- 1 to 2) { // built, then a disk hit
        DerivedStore.clearMemo()
        assert(DerivedStore.verdict(src(), kind) { probes += 1; Thread.sleep(30); true })
      }
      assert(probes == 1)
      assert(!ModelCost.entriesJson.contains(kind), ModelCost.entriesJson)
    }
  }
}
