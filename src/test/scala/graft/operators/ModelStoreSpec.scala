package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** r16 verdict item 3: trained ANN models persist store-keyed
  * (`DerivedStore.value`) so Lloyd training is index-build cost, not
  * per-query cold latency. The contract under test: (a) a file-backed
  * corpus trains ONCE and later calls — including across fresh
  * JVM-level caches, i.e. fresh sessions — load the identical model
  * from disk; (b) changing the corpus retrains (staleness contract
  * shared with the verdict memo); (c) codecs round-trip exactly;
  * (d) non-file relations never touch the disk tier.
  */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  /** A matrix model as a fresh JVM would see it: empty in-JVM memo. */
  private def fresh(df: DataFrame, kind: String)(
      train: => Array[Array[Double]]): Array[Array[Double]] = {
    DerivedStore.clearMemo()
    DerivedStore.value(df, kind)(train)(Similarity.encodeMatrix)(Similarity.decodeMatrix)
  }

  private def writeVecs(dir: java.nio.file.Path, n: Int, shift: Double,
                        dim: Int = 3): Unit =
    (0 until n).map(i => (i.toLong,
      Array.tabulate(dim)(d => i * 0.5 + shift + d * 0.125 - 1.0 / (i + d + 1))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)

  test("models train once per corpus fingerprint and reload bit-identically") {
    withTempDir { dir =>
      writeVecs(dir, 20, 0.0)
      def df() = spark.read.parquet(dir.toString)
      var trains = 0
      val kind = s"spec_model_${System.nanoTime()}"
      def call() = fresh(df(), kind) {
        trains += 1
        Array(Array(1.0, -0.000001), Array(math.Pi, 1e300))
      }
      val m1 = call()
      // FRESH cache — only the disk tier can satisfy this call
      val m2 = call()
      assert(trains == 1, s"same-fingerprint corpus retrained ($trains trains)")
      assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq,
        "reloaded model must round-trip exactly (Double.toString/parseDouble)")
      // changed corpus: fingerprint moves, must retrain
      writeVecs(dir, 20, 7.0)
      call()
      assert(trains == 2, s"changed corpus did not retrain ($trains trains)")
    }
  }

  test("non-file relations train per cache, never touching disk") {
    var trains = 0
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    def call() = fresh(df, "spec_model_mem") { trains += 1; Array(Array(1.0)) }
    call(); call()
    assert(trains == 2,
      "a synthetic relation has no stable content key and must train per cache")
  }

  test("preload opt-out bypasses the disk tier: train-included timings on demand") {
    // r17 verdict item 2: with the single preload gate off, NO timed
    // window may be served a pre-trained model from disk — the memo
    // must fall through to train-per-JVM and write nothing.
    withTempDir { dir =>
      writeVecs(dir, 10, 0.0)
      def df() = spark.read.parquet(dir.toString)
      var trains = 0
      val kind = s"spec_gate_${System.nanoTime()}"
      def call() = fresh(df(), kind) { trains += 1; Array(Array(1.0)) }
      ModelCost.forceDisabledFlag = true
      try { call(); call() } finally { ModelCost.forceDisabledFlag = false }
      assert(trains == 2,
        "gate off: each fresh cache must retrain, never read disk")
      // gate back on: disk tier resumes, third call persists + fourth loads
      call(); call()
      assert(trains == 3, "gate on: disk tier must dedupe training again")
    }
  }

  test("model build cost rides a sidecar and registers in the ModelCost ledger") {
    // the "sidecar" is now the first line of the value's disk entry
    withTempDir { dir =>
      writeVecs(dir, 10, 3.0)
      def df() = spark.read.parquet(dir.toString)
      val kind = s"spec_cost_${System.nanoTime()}"
      ModelCost.clear()
      def call() = fresh(df(), kind) { Thread.sleep(30); Array(Array(2.0)) }
      call() // trains: records measured seconds in the entry
      val builtSec = ModelCost.totalSec
      assert(builtSec >= 0.03, s"train cost must be measured, got $builtSec")
      assert(ModelCost.entries(kind)("built_now") == true)
      ModelCost.clear()
      call() // fresh cache → disk hit: cost re-surfaces from the entry
      assert(math.abs(ModelCost.totalSec - builtSec) < 0.5,
        s"the entry must carry the original build cost " +
          s"(${ModelCost.totalSec} vs $builtSec)")
      assert(ModelCost.entries(kind)("built_now") == false)
      ModelCost.clear()
    }
  }

  test("derived-store LRU: eviction drops oldest past the cap, touch refreshes") {
    // r16 verdict item 6: target/derived/values accumulates one entry
    // per corpus fingerprint forever. The store is a cache (a stale
    // eviction only costs a retrain/re-probe), so it is bounded
    // LRU-by-mtime: DerivedStore.value touches on disk-hit and evicts
    // past DerivedStore.DiskCap on write — this spec drives the
    // mechanism directly.
    withTempDir { root =>
      val dir = root.toFile
      def mk(name: String, ageSec: Long): java.io.File = {
        val f = new java.io.File(dir, name)
        java.nio.file.Files.writeString(f.toPath, "x")
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - ageSec * 1000))
        f
      }
      (1 to 6).foreach(i => mk(s"m$i", ageSec = 100 - i)) // m1 oldest
      mk("half.tmp", ageSec = 1000) // in-flight write: never a victim
      DerivedStore.evictPast(dir, cap = 4)
      val left = dir.listFiles().map(_.getName).toSet
      assert(left == Set("m3", "m4", "m5", "m6", "half.tmp"),
        s"oldest-2 eviction expected, got $left")
      // a disk-hit touch must move its entry to the LRU front
      DerivedStore.touch(new java.io.File(dir, "m3"))
      mk("m7", ageSec = 0)
      DerivedStore.evictPast(dir, cap = 4)
      val left2 = dir.listFiles().map(_.getName).toSet
      assert(left2 == Set("m3", "m5", "m6", "m7", "half.tmp"),
        s"touched m3 must survive and untouched-oldest m4 must go, got $left2")
    }
  }

  test("pq pair codec round-trips coarse + nested codebooks exactly") {
    withTempDir { dir =>
      writeVecs(dir, 64, 0.0, dim = 64)
      // drive the REAL trainedPqModels twice through its production
      // cache: second call is a memo hit (no extra Spark jobs), and
      // the persisted file decodes to the trained model exactly
      val emb = spark.read.parquet(dir.toString)
        .select(col("vec_id"), col("embedding"))
      val (c1, m1) = ProductQuantization.trainedPqModels(emb)
      val (c2, m2) = ProductQuantization.trainedPqModels(emb)
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
      assert(m1.map(_.map(_.toSeq).toSeq).toSeq == m2.map(_.map(_.toSeq).toSeq).toSeq)
      assert(c1.length == ProductQuantization.CoarseCells)
      assert(m1.length == ProductQuantization.M)
      assert(m1.forall(_.length == ProductQuantization.CodebookK))
    }
  }
}
