package graft

/** The ledger is plain-file machinery (no Spark session needed): the
  * JSONL round-trip must be lossless — an adopted record read back by
  * the NEXT attempt's JVM must carry exactly the windows that
  * justified its adoption — and the assembled artifact must reproduce
  * the single-run recording's flag rules from ledger records alone.
  */
class BenchLedgerSpec extends SparkSpec {

  private def rec(name: String, attempt: Int, cold: Double,
                  warm: Seq[Double]) =
    BenchLedger.Rec(name, attempt, cold, gcMs = 123, heapMb = 456,
      rssMb = 789, load1 = 1.25, steal = 0.02, iowait = 0.1,
      foreign = 0.2, plan = "ab12cd34", warm = warm,
      warmSteal = warm.map(_ => 0.01), warmIowait = warm.map(_ => 0.0),
      warmForeign = warm.map(_ => 0.15),
      warmAttempts = warm.map(_ => attempt),
      warmPlans = warm.map(_ => "ab12cd34"), cleanAttempt = true)

  test("Rec JSON round-trips losslessly at the 2-decimal precision") {
    val r = rec("dedup_minhash_lsh", 3, 2.45, Seq(1.31, 1.28, 1.35))
    val back = BenchLedger.parseRec(r.toJson)
    assert(back.name == r.name)
    assert(back.attempt == r.attempt)
    assert(back.cold == 2.45)
    assert(back.gcMs == 123 && back.heapMb == 456 && back.rssMb == 789)
    assert(back.load1 == 1.25)
    assert(back.steal == 0.02 && back.iowait == 0.1)
    assert(back.foreign == 0.2)
    assert(back.plan == "ab12cd34")
    assert(back.warm == Seq(1.31, 1.28, 1.35))
    assert(back.warmSteal == Seq(0.01, 0.01, 0.01))
    assert(back.warmForeign == Seq(0.15, 0.15, 0.15))
    assert(back.warmPlans == Seq("ab12cd34", "ab12cd34", "ab12cd34"))
  }

  test("negative window samples (-1 = /proc unavailable) survive") {
    val r = rec("q", 1, 0.5, Seq(0.4)).copy(steal = -1.0, iowait = -1.0)
    val back = BenchLedger.parseRec(r.toJson)
    assert(back.steal == -1.0 && back.iowait == -1.0)
  }

  test("sha round-trips; legacy records surface an empty sha") {
    val r = rec("q", 1, 1.0, Seq(0.9)).copy(sha = "abc123def456")
    assert(BenchLedger.parseRec(r.toJson).sha == "abc123def456")
    val legacy = r.toJson.replaceAll(""""sha":"[^"]*",""", "")
    assert(BenchLedger.parseRec(legacy).sha == "")
  }

  test("assemble refuses a ledger spanning commits") {
    val done = Map(
      "a" -> rec("a", 1, 1.0, Seq(0.9)).copy(sha = "sha_one_000000"),
      "b" -> rec("b", 1, 1.0, Seq(0.9)).copy(sha = "sha_two_000000"))
    val e = intercept[IllegalArgumentException] {
      BenchLedger.assemble(done, Map.empty, "/sf0.1", 1, 1, 0.3, 1.5)
    }
    assert(e.getMessage.contains("spanning commits"))
    // single-sha ledgers assemble and stamp the sha
    val ok = BenchLedger.assemble(
      done.map { case (k, v) => k -> v.copy(sha = "same_sha_0000") },
      Map.empty, "/sf0.1", 1, 1, 0.3, 1.5, "same_sha_0000")
    assert(ok.contains("\"sha\":\"same_sha_0000\""))
  }

  test("headSha reads a 12-char commit id from this repo's .git") {
    val sha = BenchLedger.headSha()
    assert(sha == "unknown" || sha.matches("[0-9a-f]{12}"))
  }

  test("cross-attempt warm reps carry their attempt provenance") {
    val r = rec("q", 2, 1.5, Seq(1.0, 1.1, 0.9))
      .copy(warmAttempts = Seq(2, 5, 7))
    val back = BenchLedger.parseRec(r.toJson)
    assert(back.warmAttempts == Seq(2, 5, 7))
  }

  test("legacy records without warm_attempts backfill from the cold attempt") {
    val legacy = rec("q", 3, 1.0, Seq(0.8, 0.9)).toJson
      .replaceAll(""""warm_attempts":\[[^\]]*\],""", "")
    assert(!legacy.contains("warm_attempts"))
    val back = BenchLedger.parseRec(legacy)
    assert(back.warmAttempts == Seq(3, 3))
  }

  test("adoption tier round-trips; legacy records default to tier-2") {
    val t1 = rec("q", 1, 1.0, Seq(0.8))
    assert(BenchLedger.parseRec(t1.toJson).cleanAttempt)
    val t2 = t1.copy(cleanAttempt = false)
    assert(!BenchLedger.parseRec(t2.toJson).cleanAttempt)
    // pre-tier records carry no clean_attempt key -> upgradable
    val legacy = t1.toJson.replace("\"clean_attempt\":true,", "")
    assert(!BenchLedger.parseRec(legacy).cleanAttempt)
  }

  test("assemble names the tier-2 colds") {
    val done = Map(
      "q_clean" -> rec("q_clean", 1, 1.0, Seq(0.9)),
      "q_dirty" -> rec("q_dirty", 2, 1.0, Seq(0.9))
        .copy(cleanAttempt = false))
    val art = BenchLedger.assemble(done, Map.empty, "/sf0.1", 1, 2,
      0.30, 1.50)
    assert(art.contains("\"cold_tier2_n\":1"))
    assert(art.contains("\"cold_tier2\":[\"q_dirty\"]"))
  }

  test("write/read round-trips attempts, records, and pending meta") {
    withTempDir { t =>
      val path = t.resolve("ledger.json").toString
      val (a0, r0) = BenchLedger.read(path)
      assert(a0 == 0 && r0.isEmpty) // missing file = fresh campaign
      val done = Map(
        "q_b" -> rec("q_b", 2, 1.0, Seq(0.8, 0.9, 0.7)),
        "q_a" -> rec("q_a", 1, 3.0, Seq(2.0, 2.1, 1.9)))
      BenchLedger.write(path, attempts = 2, sf = "/sf0.1", cpus = "32",
        warmReps = 3, cleanSteal = 0.30, cleanIowait = 1.50,
        done = done, pendingNames = Seq("q_c"))
      val (a1, r1) = BenchLedger.read(path)
      assert(a1 == 2)
      assert(r1.keySet == Set("q_a", "q_b"))
      assert(r1("q_a").attempt == 1 && r1("q_b").attempt == 2)
      assert(r1("q_a").cold == 3.0)
      // meta line must be first and carry pending for the retry loop
      val first = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path)).get(0)
      assert(first.startsWith("{\"meta\""))
      assert(first.contains("\"pending\":true"))
      assert(first.contains("\"pending_queries\":[\"q_c\"]"))
      // board complete -> pending:false, which the retry loop keys on
      BenchLedger.write(path, attempts = 3, sf = "/sf0.1", cpus = "32",
        warmReps = 3, cleanSteal = 0.30, cleanIowait = 1.50,
        done = done, pendingNames = Seq.empty)
      val done2 = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path)).get(0)
      assert(done2.contains("\"pending\":false"))
    }
  }

  test("assemble reproduces totals, flags, and provenance") {
    val done = Map(
      // cold 5.0 vs warm median 1.0 -> cold_vs_warm flag (ratio 5)
      "q_warmgap" -> rec("q_warmgap", 4, 5.0, Seq(1.0, 1.1, 0.9)),
      // cold 3.0 vs r1 baseline 1.0 -> cold_vs_r1 flag (ratio 3)
      "q_slow" -> rec("q_slow", 1, 3.0, Seq(2.5, 2.6, 2.4)),
      // clean: no flags
      "q_ok" -> rec("q_ok", 2, 1.0, Seq(0.9, 1.0, 1.1)))
    val art = BenchLedger.assemble(done,
      r1Baseline = Map("q_slow" -> 1.0, "q_ok" -> 0.8),
      sf = "/sf0.1", warmReps = 3, attempts = 4,
      cleanSteal = 0.30, cleanIowait = 1.50)
    assert(art.contains("\"assembled\":true"))
    assert(art.contains("\"contended\":false"))
    assert(art.contains("\"attempts\":4"))
    assert(art.contains("\"value\":9.00"))        // 5 + 3 + 1
    assert(art.contains("\"warm_total\":4.50"))   // 1.0 + 2.5 + 1.0
    assert(art.contains("\"kind\":\"cold_vs_warm\""))
    assert(art.contains("\"kind\":\"cold_vs_r1\""))
    assert(!art.contains("\"q\":\"q_ok\""))       // clean query unflagged
    // provenance: which attempt produced each adopted number
    assert(art.contains("\"q_warmgap\":4"))
    assert(art.contains("\"q_slow\":1"))
    // cold/warm maps in name-sorted order like a single-run recording
    val coldIdx = art.indexOf("\"cold\":{")
    assert(coldIdx > 0)
    assert(art.indexOf("\"q_ok\"", coldIdx) <
      art.indexOf("\"q_slow\"", coldIdx))
  }

  test("assemble flags warm instability from the adopted reps") {
    val done = Map("q_unstable" ->
      rec("q_unstable", 1, 2.0, Seq(3.0, 1.0, 1.1)))
    val art = BenchLedger.assemble(done, Map.empty, "/sf0.1", 3, 1,
      0.30, 1.50)
    assert(art.contains("\"kind\":\"warm_unstable\""))
    assert(art.contains("\"rep_steal_cores\""))
  }
}
