package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-logic specs for Bench.main's artifact aggregation — no Spark
  * session. The bench binary itself only runs under the driver, so the
  * pieces that decide what the artifact SAYS are pinned here. */
class BenchLogicSpec extends AnyFunSuite {

  test("perQueryOutliers flags the r13 q83 shape: one query stalls inside an env-clean pass") {
    // pass 1 clean-looking, pass 2 has q83 at 79.2s vs a 17.3s sibling —
    // the exact case the env thresholds missed in BENCH_r13.json
    val p1 = Map("q83" -> 17.3, "q84" -> 12.0, "q01" -> 0.4)
    val p2 = Map("q83" -> 79.2, "q84" -> 12.5, "q01" -> 0.5)
    val got = Bench.perQueryOutliers(Seq(p1, p2), k = 3.0, minExcessSec = 5.0)
    assert(got.map(t => (t._1, t._2)) === Seq((1, "q83")))
    assert(math.abs(got.head._3 - 79.2 / 17.3) < 1e-9)
  }

  test("perQueryOutliers ignores sub-threshold jitter and single-pass runs") {
    // a 0.2s query tripling on a GC pause is noise, not a stall: the
    // absolute-excess floor keeps it out even though the ratio is over k
    val p1 = Map("q01" -> 0.2, "q02" -> 10.0)
    val p2 = Map("q01" -> 0.9, "q02" -> 24.0) // q02 ×2.4 — under k
    assert(Bench.perQueryOutliers(Seq(p1, p2), 3.0, 5.0).isEmpty)
    // one pass: every query is its own minimum — nothing to compare against
    assert(Bench.perQueryOutliers(Seq(p2), 3.0, 5.0).isEmpty)
    assert(Bench.perQueryOutliers(Nil, 3.0, 5.0).isEmpty)
  }

  test("perQueryOutliers tolerates a query missing from pass 1 (mins over the key union)") {
    // a pass-1 crash path (or a mid-run query-set change) can leave a
    // query out of the first pass's map; mins built from pass 1's keys
    // alone threw NoSuchElementException on the later pass's entry
    val p1 = Map("qa" -> 1.0)
    val p2 = Map("qa" -> 1.1, "qb" -> 10.0)
    val p3 = Map("qa" -> 1.0, "qb" -> 60.0)
    val got = Bench.perQueryOutliers(Seq(p1, p2, p3), 3.0, 5.0)
    assert(got.map(t => (t._1, t._2)) === Seq((2, "qb")))
    assert(math.abs(got.head._3 - 6.0) < 1e-9)
  }

  test("perQueryOutliers can flag more than one pass and orders by pass then query") {
    val p1 = Map("qa" -> 50.0, "qb" -> 10.0)
    val p2 = Map("qa" -> 10.0, "qb" -> 40.0)
    val p3 = Map("qa" -> 11.0, "qb" -> 41.0)
    val got = Bench.perQueryOutliers(Seq(p1, p2, p3), 3.0, 5.0)
    assert(got.map(t => (t._1, t._2)) === Seq((0, "qa"), (1, "qb"), (2, "qb")))
  }

  test("headlineMin takes the min over clean passes and ignores dirty values") {
    val clean = Seq(Map("qa" -> 2.0, "qb" -> 5.0), Map("qa" -> 1.5, "qb" -> 6.0))
    val all = Map("qa" -> 0.1, "qb" -> 0.1) +: clean // dirty pass had faster times
    assert(Bench.headlineMin(clean, all, "qa") === 1.5)
    assert(Bench.headlineMin(clean, all, "qb") === 5.0)
  }

  test("headlineMin survives a query missing from a clean pass (the pass-1-crash shape)") {
    // the r15-advice scenario: pass 1 crashes mid-run so its map lacks a
    // query; the headline used direct Map.apply over pass-1 keys and threw
    val clean = Seq(Map("qa" -> 2.0), Map("qa" -> 2.1, "qb" -> 7.0))
    assert(Bench.headlineMin(clean, clean, "qb") === 7.0)
  }

  test("headlineMin falls back to dirty passes for a query only they measured") {
    // present in NO clean pass (clean-pass crash path): fall back to the
    // contaminated passes rather than min on an empty list
    val clean = Seq(Map("qa" -> 2.0))
    val all = clean :+ Map("qa" -> 2.5, "qb" -> 9.0)
    assert(Bench.headlineMin(clean, all, "qb") === 9.0)
  }

  test("dirtyFallbackQueries names exactly the queries headlineMin falls back on") {
    // qb is measured ONLY by the excluded pass — the artifact must name
    // it so its headline value is not read as a clean-window number
    val clean = Seq(Map("qa" -> 2.0), Map("qa" -> 2.1))
    val all = clean :+ Map("qa" -> 2.5, "qb" -> 9.0, "qc" -> 1.0)
    assert(Bench.dirtyFallbackQueries(clean, all) === Seq("qb", "qc"))
    // every query clean-measured -> nothing to name
    assert(Bench.dirtyFallbackQueries(all, all) === Nil)
    // the all-contaminated run passes usable == all passes: per-query
    // fallback is meaningless there (all_passes_contaminated carries the
    // verdict), and the helper naturally returns empty
    val dirtyOnly = Seq(Map("qa" -> 2.0, "qb" -> 3.0))
    assert(Bench.dirtyFallbackQueries(dirtyOnly, dirtyOnly) === Nil)
  }

  test("ioFlags: absolute ceiling flags a reading on any host") {
    // two clean readings, one over the 1.3s ceiling
    assert(Bench.ioFlags(Seq(1.0, 1.05, 1.45), 1.3, 1.25, 0.1) ===
      Seq(false, false, true))
  }

  test("ioFlags: relative bound self-calibrates on a faster-disk host") {
    // the r16 verdict's silent failure mode: on a host whose clean io
    // reads ~0.5s, a 0.8s storm pass sails under the 1.3s absolute
    // ceiling — the relative bound (1.25x the run's own under-ceiling
    // median) must flag it
    assert(Bench.ioFlags(Seq(0.50, 0.52, 0.80), 1.3, 1.25, 0.1) ===
      Seq(false, false, true))
    // and ordinary jitter within the band stays clean
    assert(Bench.ioFlags(Seq(0.50, 0.55, 0.60), 1.3, 1.25, 0.1) ===
      Seq(false, false, false))
  }

  test("ioFlags: a single reading is never relatively flagged (it is its own median)") {
    assert(Bench.ioFlags(Seq(0.9), 1.3, 1.25, 0.1) === Seq(false))
    assert(Bench.ioFlags(Seq(2.0), 1.3, 1.25, 0.1) === Seq(true)) // absolute still applies
    assert(Bench.ioFlags(Nil, 1.3, 1.25, 0.1) === Nil)
  }

  test("ioFlags: slower host where every reading tops the ceiling — all flagged, no crash") {
    // the reference pool (readings under the ceiling) is empty: the
    // median falls back to all readings rather than dividing by nothing;
    // the absolute ceiling flags every pass, and Bench.main then reports
    // all_passes_contaminated=true instead of a silent dirty headline
    assert(Bench.ioFlags(Seq(2.0, 2.1, 2.05), 1.3, 1.25, 0.1) ===
      Seq(true, true, true))
  }

  test("ioFlags: re-adjudication can flag an early pass once later evidence lowers the median") {
    // pass 1 reads 1.1s — clean alone; two later 0.6s readings reveal the
    // host's actual clean band and re-flag it (flags are re-derived over
    // the full list at every decision point, Pass stores no frozen flag)
    assert(Bench.ioFlags(Seq(1.1), 1.3, 1.25, 0.1) === Seq(false))
    assert(Bench.ioFlags(Seq(1.1, 0.6, 0.62), 1.3, 1.25, 0.1) ===
      Seq(true, false, false))
  }

  test("median: odd, even, and two-element lists") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Bench.median(Seq(1.0, 2.0)) === 1.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("ioFlags: absolute-excess floor keeps fast-host jitter out of the relative bound (r17 advice)") {
    // a fast-disk host with ~0.2s readings: 0.27 is x1.29 the median —
    // over the relative band — but only 0.06s of excess; without the
    // floor this ordinary jitter would burn the retry budget and could
    // report all_passes_contaminated on a clean host
    assert(Bench.ioFlags(Seq(0.20, 0.21, 0.27), 1.3, 1.25, 0.1) ===
      Seq(false, false, false))
    // same ratio with real excess (the r16-verdict slow-host shape,
    // scaled): still flagged — the floor only suppresses tiny excess
    assert(Bench.ioFlags(Seq(0.50, 0.52, 0.80), 1.3, 1.25, 0.1) ===
      Seq(false, false, true))
    // the absolute ceiling ignores the floor entirely
    assert(Bench.ioFlags(Seq(0.20, 1.35), 1.3, 1.25, 0.1) ===
      Seq(false, true))
  }

  test("compactLine: headline fields present, per-query seconds keyed by qNN, always under the driver's 2000-char tail") {
    val line = Bench.compactLine(215.337, "/root/testdata/sf0.1", 3, 2,
      allContaminated = false, fallbackQs = Nil, canaryMinSec = 0.852,
      ioReadings = Seq(1.012, 0.94, 1.418), artifactPath = "target/bench_last.json",
      querySec = Seq("q01_pricing_summary" -> 0.4123, "q25_minhash_pairs" -> 12.0))
    assert(line.length < 2000)
    assert(line.startsWith("{") && line.endsWith("}"))
    // the driver's contract fields plus every loud verdict
    Seq("\"metric\":\"total\"", "\"value\":215.337", "\"unit\":\"sec\"",
      "\"runs\":3", "\"clean_passes\":2",
      "\"all_passes_contaminated\":false", "\"dirty_fallback_count\":0",
      "\"dirty_fallback_queries\":[]", "\"canary_min_sec\":0.852",
      "\"io_band\":{\"min\":0.940,\"median\":1.012,\"max\":1.418}",
      "\"artifact\":\"target/bench_last.json\"")
      .foreach(f => assert(line.contains(f), s"missing $f in $line"))
    // each query's seconds at 3 decimals under its qNN prefix; the
    // ~10kB killers (full-name map, per_run arrays) stay in the file
    assert(line.endsWith(""","query_sec":{"q01":0.412,"q25":12.000}}"""), line)
    assert(!line.contains("\"queries\""))
    assert(!line.contains("\"per_run\""))
    // no timed query: an empty map, still valid JSON
    val none = Bench.compactLine(0.0, "sf", 1, 1, allContaminated = false,
      fallbackQs = Nil, canaryMinSec = 0.9, ioReadings = Seq(1.0), artifactPath = "p")
    assert(none.endsWith(""","query_sec":{}}"""), none)
  }

  test("compactLine: worst case — 92 timed queries, longest real names failed and fallback — fits the tail") {
    // every driver query timed at 999.999 s (a query that threw in one pass
    // and ran in another is both failed and timed, so 92 times plus both
    // lists is the upper bound), the longest real names in both capped
    // lists, an sf path longer than the usual one
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size === 92)
    assert(names.map(_.takeWhile(_ != '_')).distinct.size === 92, "qNN keys must be unique")
    val longest = names.sortBy(n => (-n.length, n)).take(8)
    val line = Bench.compactLine(92 * 999.999, "/data/graft/testdata/sf0.1", 4, 0,
      allContaminated = true, fallbackQs = longest, canaryMinSec = 999.999,
      ioReadings = Seq(999.999, 999.999), artifactPath = "target/bench_last.json",
      failedQs = longest, querySec = names.map(_ -> 999.999))
    assert(line.length < 2000, s"${line.length} chars: $line")
    assert(line.contains("\"failed_count\":8") && line.contains("\"dirty_fallback_count\":8"))
    assert(line.split(":999.999").length - 1 >= 92)
    names.foreach(n => assert(line.contains("\"" + n.takeWhile(_ != '_') + "\":999.999"), n))
  }

  test("compactLine: pathological all-fallback run stays under the tail (list capped, count exact)") {
    // 92 long query names would alone overflow 2000 chars; the cap keeps
    // the loud verdict readable and the full list lives in the artifact
    val qs = (1 to 92).map(i => f"q$i%02d_some_rather_long_query_name")
    val line = Bench.compactLine(999.0, "/root/testdata/sf0.1", 4, 0,
      allContaminated = true, fallbackQs = qs, canaryMinSec = 0.9,
      ioReadings = Seq(2.0, 2.1, 2.2, 2.3), artifactPath = "target/bench_last.json")
    assert(line.length < 2000)
    assert(line.contains("\"all_passes_contaminated\":true"))
    assert(line.contains("\"dirty_fallback_count\":92"))
    // exactly 5 names listed
    assert(line.split("q\\d\\d_some_rather_long_query_name").length - 1 === 5)
    // io band survives even when every reading is contaminated
    assert(line.contains("\"io_band\":{\"min\":2.000"))
  }

  test("compactLine: 92 failed queries stay under the tail (list capped, count exact)") {
    // the all-crash run: every query threw in every pass, AND every name is
    // also a dirty fallback — both capped lists at their longest
    val qs = (1 to 92).map(i => f"q$i%02d_some_rather_long_query_name")
    val line = Bench.compactLine(0.0, "/root/testdata/sf0.1", 4, 0,
      allContaminated = true, fallbackQs = qs, canaryMinSec = 0.9,
      ioReadings = Seq(2.0, 2.1, 2.2, 2.3), artifactPath = "target/bench_last.json",
      failedQs = qs)
    assert(line.length < 2000)
    assert(line.contains("\"failed_count\":92"))
    val failedList = line.split("\"failed_queries\":").apply(1).takeWhile(_ != ']')
    assert(failedList.split("q\\d\\d_some_rather_long_query_name").length - 1 === 5)
    Seq("\"metric\":\"total\"", "\"value\":0.000", "\"unit\":\"sec\"")
      .foreach(f => assert(line.contains(f), s"missing $f in $line"))
    // a run with no failures says so explicitly
    val clean = Bench.compactLine(1.0, "sf", 2, 2, allContaminated = false,
      fallbackQs = Nil, canaryMinSec = 0.9, ioReadings = Seq(1.0), artifactPath = "p")
    assert(clean.contains("\"failed_count\":0,\"failed_queries\":[]"))
  }

  test("compactLine: empty reading list yields a null io band, not a crash") {
    val line = Bench.compactLine(1.0, "sf", 0, 0, allContaminated = true,
      fallbackQs = Nil, canaryMinSec = 0.9, ioReadings = Nil, artifactPath = "p")
    assert(line.contains("\"io_band\":null"))
  }
}
