package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Pins the bounded verdict memo of [[DerivedStore]] that the
  * jaccard-injectivity, rep-composition, and embedding-dup gates
  * share. A key for a relation without files retains a whole
  * canonicalized logical plan, so a long-lived session probing
  * ever-fresh plans must not grow the map without bound — and because
  * every gated branch is exact, EVICTION MUST BE INVISIBLE: a dropped
  * memo costs one re-probe and must reproduce the same verdict, never
  * flip it.
  */
class VerdictCacheSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(i: Int): DataFrame = Seq((i, s"doc_$i")).toDF("id", "text")

  /** A verdict as a fresh JVM would see it: empty in-JVM memo. */
  private def fresh(df: DataFrame, kind: String)(probe: => Boolean): Boolean = {
    DerivedStore.clearMemo()
    DerivedStore.verdict(df, kind)(probe)
  }

  test("verdicts are memoized: one probe per distinct plan") {
    DerivedStore.clearMemo()
    var probes = 0
    val first = DerivedStore.verdict(planOf(1), "spec_memo") { probes += 1; true }
    val second = DerivedStore.verdict(planOf(1), "spec_memo") { probes += 1; false } // must not run
    assert(first && second, "memo hit must return the stored verdict")
    assert(probes == 1, s"probe ran $probes times for one plan")
  }

  test("cache never grows past the cap (+1 insertion transient)") {
    DerivedStore.clearMemo()
    val n = DerivedStore.MemoMax + 64
    (1 to n).foreach(i => DerivedStore.verdict(planOf(i), "spec_cap")(i % 2 == 0))
    assert(DerivedStore.memoSize <= DerivedStore.MemoMax + 1,
      s"cache grew to ${DerivedStore.memoSize} past cap ${DerivedStore.MemoMax}")
  }

  test("eviction does not change verdicts — an evicted key re-probes to the same answer") {
    DerivedStore.clearMemo()
    // deterministic per-plan verdict the way the real gates are
    // (verdicts are a pure function of the input relation)
    def verdictFor(i: Int): Boolean = i % 3 == 0
    val kind = "spec_evict"
    val before = (1 to 8).map(i => i -> DerivedStore.verdict(planOf(i), kind)(verdictFor(i))).toMap
    // flood with fresh plans until every early key has been evicted
    ((100 to (100 + DerivedStore.MemoMax + 64)): Range)
      .foreach(i => DerivedStore.verdict(planOf(i), kind)(verdictFor(i)))
    // re-ask every early key: evicted ones re-probe, all answers equal
    var reprobes = 0
    val after = (1 to 8).map(i => i -> DerivedStore.verdict(planOf(i), kind) {
      reprobes += 1; verdictFor(i)
    }).toMap
    assert(reprobes > 0, "flood was expected to evict at least one early key")
    assert(after == before, "eviction flipped a verdict")
    assert(before == (1 to 8).map(i => i -> verdictFor(i)).toMap)
  }

  // ---- disk tier (r15): verdicts are corpus statistics -------------

  private def writeDocs(dir: java.nio.file.Path, rows: Seq[(Long, String)]): Unit = {
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
  }

  test("disk tier: same files skip the probe across fresh caches; changed files re-probe") {
    withTempDir { dir =>
      writeDocs(dir, Seq(1L -> "a b c", 2L -> "d e f"))
      def df() = spark.read.parquet(dir.toString)
      var probes = 0
      val kind = s"spec_${System.nanoTime()}" // unique per test run
      val v1 = fresh(df(), kind) { probes += 1; true }
      // FRESH in-memory cache — only the disk tier can satisfy this
      val v2 = fresh(df(), kind) { probes += 1; false }
      assert(v1 && v2, "disk tier must return the stored verdict")
      assert(probes == 1, s"same-fingerprint corpus re-probed ($probes probes)")
      // grow the corpus: fingerprint changes (size/mtime), must re-probe
      writeDocs(dir, Seq(1L -> "a b c", 2L -> "d e f", 3L -> "g h i"))
      val v3 = fresh(df(), kind) { probes += 1; false }
      assert(!v3, "changed corpus must re-probe, not serve the stale verdict")
      assert(probes == 2, s"changed corpus did not re-probe ($probes probes)")
    }
  }

  test("disk tier: non-file relations stay JVM-memoized only (probe per cache)") {
    var probes = 0
    val df = Seq((1L, "x y")).toDF("doc_id", "text") // LocalRelation leaf
    fresh(df, "spec_mem") { probes += 1; true }
    fresh(df, "spec_mem") { probes += 1; true }
    assert(probes == 2,
      "a synthetic relation has no stable content key and must re-probe per cache")
  }

  // ---- r16 ADVICE: fingerprint must survive nesting, schemes, width --

  test("disk tier: a changed file under NESTED partition dirs re-probes") {
    // root/a=?/b=?/part-*.parquet — a java.io.File root listing is
    // non-recursive: appending a file two levels down leaves the
    // listed child-dir mtimes untouched and would serve the stale
    // verdict. The FileIndex fingerprint enumerates leaf files, so any
    // nested change re-keys.
    withTempDir { dir =>
      def write(rows: Seq[(Long, Int, Int, String)], mode: String): Unit =
        rows.toDF("doc_id", "a", "b", "text").coalesce(1)
          .write.partitionBy("a", "b").mode(mode).parquet(dir.toString)
      write(Seq((1L, 1, 1, "x y"), (2L, 1, 2, "p q")), "overwrite")
      def df() = spark.read.parquet(dir.toString)
      var probes = 0
      val kind = s"spec_nested_${System.nanoTime()}"
      val v1 = fresh(df(), kind) { probes += 1; true }
      val v2 = fresh(df(), kind) { probes += 1; false }
      assert(v1 && v2 && probes == 1,
        s"partitioned corpus must qualify for the disk tier ($probes probes)")
      // snapshot every existing mtime (directories, and the `_SUCCESS`
      // marker the append rewrites at the root) before the append and
      // restore after, so ONLY leaf-file knowledge can detect the
      // change below — a root listing would otherwise see the marker
      def under(f: java.io.File): Seq[java.io.File] =
        f +: Option(f.listFiles()).toSeq.flatten.flatMap(under)
      val frozen = under(dir.toFile).map(d => d -> d.lastModified())
      write(Seq((3L, 1, 1, "z w")), "append") // new leaf file at depth 2
      frozen.foreach { case (d, t) =>
        java.nio.file.Files.setLastModifiedTime(d.toPath,
          java.nio.file.attribute.FileTime.fromMillis(t))
      }
      val v3 = fresh(df(), kind) { probes += 1; false }
      assert(!v3 && probes == 2,
        "a new leaf file two partition levels down must re-probe")
    }
  }

  test("disk tier: a remote-scheme relation is disqualified (probe per cache)") {
    // s3a:// through the in-process object store: the path does not
    // exist on the local filesystem, so local file metadata can never
    // fingerprint it — a java.io.File probe would produce a CONSTANT
    // fingerprint here and serve verdicts across data changes.
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[graft.sources.InMemObjectStore].getName)
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.outputcommitter.factory.scheme.s3a", "")
    val path = "s3a://graft-verdict/docs"
    Seq((1L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path)
    def df() = spark.read.parquet(path)
    var probes = 0
    val kind = s"spec_s3a_${System.nanoTime()}"
    fresh(df(), kind) { probes += 1; true }
    fresh(df(), kind) { probes += 1; true }
    assert(probes == 2,
      "a non-local scheme must stay JVM-memoized only, never disk-keyed")
  }

  test("disk tier: two distinct wide plans over the same files don't alias") {
    // 30-column schema: plan.toString truncates the output list at
    // spark.sql.maxToStringFields (25), so an md5 of it could collide
    // two different projections/filters of the same table and swap
    // verdicts; the untruncated-treeString + full-schema-JSON key
    // cannot (NOT semanticHash — that is JVM-unstable, see
    // DerivedStore.key's doc).
    withTempDir { dir =>
      val cols = (0 until 30).map(i => s"c$i")
      spark.range(4).select(
          (col("id") +: (1 until 30).map(i => (col("id") * i).as(s"x$i"))): _*)
        .toDF(cols: _*)
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      def base() = spark.read.parquet(dir.toString)
      val kind = s"spec_wide_${System.nanoTime()}"
      var probes = 0
      val v1 = fresh(base().filter(col("c1") > 0), kind) { probes += 1; true }
      val v2 = fresh(base().filter(col("c2") > 0), kind) { probes += 1; false }
      assert(v1 && !v2 && probes == 2,
        "distinct plans over the same files must key separately")
    }
  }
}
