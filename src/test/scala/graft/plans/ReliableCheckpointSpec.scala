package graft.plans

import graft.SparkSpec
import graft.operators.ProductAnalytics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.CheckpointStats

/** Executes the DEPLOY.md cluster contract instead of just documenting
  * it: with `spark.sparkContext.setCheckpointDir` configured, the
  * convergence loop's per-round lineage truncation swaps
  * `localCheckpoint` → reliable `Dataset.checkpoint` with no other
  * change. Two properties must hold for the swap to be safe at 100 TB:
  * (a) the reliably-checkpointed leaf is still a [[LogicalRDD]] that
  * `CheckpointStats.withBoundedStats` re-roots — a silent pattern-match
  * miss would revert to the stats-squaring regime the shim exists to
  * prevent — and (b) `pageRankConverged` produces bit-identical ranks
  * and the same round count under either truncation (the stop rule is
  * exact decimal arithmetic, so any divergence is a real defect, not
  * noise).
  *
  * The checkpoint dir is reset to unset in a `finally` so the shared
  * per-JVM session's other suites keep the local-checkpoint regime.
  */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[A](body: String => A): A = withTempDir { dir =>
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir.toString)
    finally {
      // Option(null) → None inside setCheckpointDir: public-API reset
      spark.sparkContext.setCheckpointDir(null)
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "checkpoint dir must not leak into other suites")
    }
  }

  test("stats reset still re-roots a reliably-checkpointed leaf") {
    withCheckpointDir { _ =>
      val ck = Seq((1L, 0.25), (2L, 0.75)).toDF("part", "pr")
        .checkpoint(eager = true)
      // reliable checkpoint must land on the same leaf shape the shim
      // pattern-matches; a miss would silently return `ck` unchanged
      assert(ck.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      val fresh = CheckpointStats.withBoundedStats(ck, BigInt(48))
      assert(!(fresh eq ck),
        "withBoundedStats fell through to identity on a reliable leaf")
      assert(fresh.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(48))
      assert(fresh.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
        === Array((1L, 0.25), (2L, 0.75)))
    }
  }

  test("pageRankConverged: reliable ≡ local (ranks, rounds), files written") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("part")
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L),
      (1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    // the slow-mixing star at tol 0.2 needs ~10 rounds — enough to
    // exercise the double-self-reference across many reliable rounds
    // without the ~30 s of the 1e-2 horizon test
    val tol = 200000L
    // local variant FIRST, while the checkpoint dir is unset
    val (localDf, localK) = ProductAnalytics.pageRankConverged(
      nodes, edges, tolL1E6 = tol, maxRounds = 50)
    val local = localDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(localK >= 3 && localK < 50, s"want a multi-round run, got k=$localK")
    withCheckpointDir { dir =>
      val (relDf, relK) = ProductAnalytics.pageRankConverged(
        nodes, edges, tolL1E6 = tol, maxRounds = 50)
      val rel = relDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(relK == localK, s"round counts diverged: reliable=$relK local=$localK")
      assert(rel == local, "ranks must be bit-identical under either truncation")
      // prove the reliable path actually ran: checkpoint files on disk
      def files(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles).iterator.flatten.flatMap(files)
      assert(files(new java.io.File(dir)).count(_.isFile) > 0,
        "no checkpoint files written — the reliable branch did not run")
    }
  }
}
