package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One local JVM, on every core of the machine by default, with
  * settings that transfer unchanged to a real cluster: AQE on (runtime
  * re-plan of shuffles, skew-join splitting, broadcast
  * demotion/promotion), shuffle partitions sized to cores rather than
  * the 200 default, UTC timezone pinned for oracle parity (reference
  * analytics run in PG default UTC — see SURVEY.md §1.3).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors,
            appName: String = "graft"): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // custom Catalyst surface: native expressions + the
      // window-top-k → heap-aggregate optimizer rule
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the 100-entry default thrashes on a 100+-query suite: every
      // generated class is evicted before its next use, so the "warm"
      // pass recompiles everything. Sized to hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // typed-aggregate partials (topk_by_score heaps, sketch buffers)
      // must stay HASH-based: the 128-key default fallback demotes any
      // partition with >128 group keys to sort-based object aggregation
      // - the r14 Zipf smoke measured the knn partial top-k sorting
      // 14M-row partitions with 256MB spills (58s CPU in one task) for
      // agg state that fits in a few MB of heap. 2^17 keys x ~100B
      // state ~= 13MB/task - far under executor memory at 32 tasks.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // With AQE on, a persisted plan is compiled under
      // AdaptiveSparkPlan and by default REPORTS UnknownPartitioning
      // to its consumers — so every join/agg keyed on the cache's own
      // partitioning re-exchanges the cached relation (the r8 plan
      // audit found an Exchange above every InMemoryTableScan in the
      // graph queries: the per-round edge-cache reuse the persists
      // exist for never happened). This flag lets the cache report
      // its real (AQE-final) output partitioning; iterative
      // consumers (PageRank rounds, triangle adjacency attach,
      // minhash verify joins) then consume it exchange-free.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has TIMESTAMP(NANOS); surface as long, see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts is tz-naive parquet timestamp[us]; Spark 4 would
      // infer TIMESTAMP_NTZ, which unix_micros/watermarks reject.
      // Read it as session-tz TIMESTAMP instead — the session tz is
      // pinned UTC above, so the values match what the DuckDB oracle
      // reads from the same file.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // One executor class loader for every job. With isolation on,
      // Spark 4.1's ArtifactManager.state tags each job of a session
      // with JobArtifactState(sessionUUID, replClassURI); a streaming
      // query clones the session on every start, so each
      // IncrementalIngest run gets a new UUID and its tasks run under
      // a fresh ExecutorClassLoader. CodeGenerator's cache is keyed on
      // (classLoader, code), so every run recompiled the same
      // generated classes. The engine adds no session artifacts (no
      // addArtifact or addJar), so isolation has nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The HDFS-backed state store writes snapshots only in background
      // maintenance (60 s default), which a sub-second AvailableNow run
      // never reaches: every IncrementalIngest run then replays every
      // delta since its first drop. At 250 ms snapshots are taken and a
      // drop's cost stays flat with history (DEPLOY.md has the A/B).
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "250ms")
    // dev escape hatch: SPARK_GRAFT_CONF="k=v;k=v" overlays any conf
    // (profiling experiments — never required for correctness)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k, v) }
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
