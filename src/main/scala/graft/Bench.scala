package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Locale-independent fixed-point format: the f-interpolator uses the JVM
    * default locale, and a comma-decimal locale (de_DE) would emit invalid
    * JSON and break the driver's tail-parse. */
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonList(qs: Seq[String]): String =
    qs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Contamination thresholds. The env bounds were calibrated on the
    * round-7 sandbox's host/storage (docs/evidence/bench_r7_*.json), the
    * io gate on r15 and its relative bound on r17; on a machine with a
    * different idle load or write pattern they misclassify passes, so the
    * artifact records them (`contamination_thresholds`) and any consumer
    * can re-adjudicate from per_run. */
  private val Load1mMax = 2.25
  private val Pass1WrMax = 1400000.0
  private val Pass2WrMax = 250000.0
  private val IoCanaryMax = 1.3
  private val IoCanaryRel = 1.25
  private val IoRelMinExcessSec = 0.1
  private val MaxPasses = 4
  private val OutlierK = 3.0
  private val OutlierMinExcessSec = 5.0

  /** One measured pass plus everything needed to adjudicate its window:
    * per-query seconds of the queries that succeeded, the names of those
    * that threw (`failed` — never timed: a crash is not a fast run), both
    * env snapshots and their deltas, the
    * env-threshold verdict, and both canary readings (CPU + io, with the
    * io canary's own post-sync sector delta). The io-canary FLAG and the
    * combined dirty verdict are NOT stored here: the io gate is
    * self-calibrating against the run's own readings (see [[ioFlags]]),
    * so a pass's flag can change as later passes arrive — flags are
    * re-derived from the full reading list at every decision point. */
  private[graft] final case class Pass(
      q: Map[String, Double], failed: Seq[String], load0: String, load1: String,
      rdDelta: Long, wrDelta: Long, envDirty: Boolean,
      canary: Double, ioCanary: Double, ioWrDelta: Long)

  /** Headline min for one query, missing-key-safe: min over the usable
    * (clean) passes that measured it; a query present ONLY in excluded
    * passes (a clean-pass crash path, or a mid-run query-set change) falls
    * back to the min over every pass that has it rather than throwing —
    * the headline must survive exactly the pass-crash scenario
    * [[perQueryOutliers]]' key-union defends (r15 advice: the old direct
    * Map.apply here threw in that case). */
  private[graft] def headlineMin(
      usable: Seq[Map[String, Double]], all: Seq[Map[String, Double]],
      name: String): Double = {
    val vs = usable.flatMap(_.get(name))
    (if (vs.nonEmpty) vs else all.flatMap(_.get(name))).min
  }

  /** The queries whose [[headlineMin]] would take the dirty-pass fallback
    * branch: present in NO usable (clean) pass but measured by at least
    * one excluded pass. Named in the artifact (`dirty_fallback_queries`)
    * so an adjudicator reading the headline can tell clean-window minima
    * from dirty-pass fallbacks (r16 advice: the fallback was silent
    * per-query — right behavior, invisible provenance). Empty whenever
    * usable == all passes (the all-contaminated run: the pass-level
    * `all_passes_contaminated` flag carries that verdict instead). */
  private[graft] def dirtyFallbackQueries(
      usable: Seq[Map[String, Double]], all: Seq[Map[String, Double]]): Seq[String] =
    all.flatMap(_.keys).distinct.sorted
      .filterNot(q => usable.exists(_.contains(q)))

  /** Per-query outlier detection over a run's passes: (passIdx, query,
    * ratio) for every pass/query time exceeding k× that query's minimum
    * across the run's passes AND at least `minExcessSec` above it. The env
    * flags (loadavg, sector writes) adjudicate the WINDOW; a transient I/O
    * stall that hits exactly one shuffle-heavy query can slip past all of
    * them (r13: q83 at 79 s inside a "clean" pass vs a 17 s sibling), so
    * the artifact names such queries itself. The absolute-excess floor
    * keeps sub-second queries — which jitter ×3 on a GC pause alone — out
    * of the flag; the min-over-passes headline already absorbs them.
    * Needs ≥ 2 passes: with one pass every query is its own minimum. */
  private[graft] def perQueryOutliers(
      perPass: Seq[Map[String, Double]], k: Double,
      minExcessSec: Double): Seq[(Int, String, Double)] =
    if (perPass.size < 2) Nil
    else {
      // mins over the UNION of all passes' keys: a query present only in a
      // later pass (a pass-1 crash path, or a mid-run query-set change)
      // would otherwise throw on mins(q) — the rest of this file defends
      // missing keys with flatMap(_.get(q)); keep that symmetric here
      val mins = perPass.flatMap(_.keys).distinct
        .map(q => q -> perPass.flatMap(_.get(q)).min).toMap
      for {
        (p, i) <- perPass.toSeq.zipWithIndex
        (q, v) <- p.toSeq.sortBy(_._1)
        m = mins(q)
        if v > k * m && v - m > minExcessSec
      } yield (i, q, v / m)
    }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Self-calibrating io-canary adjudication (r16 verdict): one flag per
    * reading, true when the reading exceeds EITHER bound:
    *
    *  - `absMax` — the absolute ceiling, calibrated on the r15 sandbox
    *    host where 1.3 s was the boundary its artifacts drew between fast
    *    and slow windows. Host-absolute by construction: on a faster-disk
    *    host it never fires.
    *  - `relMax` × the median of the run's OWN readings at or under the
    *    absolute ceiling (all readings when none are — a slower host
    *    where the ceiling itself misfires must not divide by an empty
    *    pool). This is the CPU canary's normalization trick applied to
    *    the gate: the run carries its own unit of "this host's clean io
    *    second", so a storm pass on a host whose clean readings sit at
    *    0.5 s is flagged at 0.7 s instead of sailing under a ceiling
    *    calibrated for a slower disk.
    *
    * The reference median moves as passes arrive, so flags are re-derived
    * over the full reading list at every decision point — a single
    * reading is never relatively flagged (it IS the median), which is
    * also why the retry loop keeps the absolute ceiling: pass 1 alone has
    * no baseline.
    *
    * `relMinExcess` (r17 advice): the relative bound additionally requires
    * `r - ref` to exceed a small absolute floor — on a fast-disk host with
    * ~0.2 s readings, ordinary >25%-of-median jitter is a few hundredths
    * of a second and must not burn the retry budget; on this host the
    * observed relative trip points carry 0.25–0.45 s of excess, far above
    * the floor, so behavior is unchanged where the bound has data. */
  private[graft] def ioFlags(
      readings: Seq[Double], absMax: Double, relMax: Double,
      relMinExcess: Double): Seq[Boolean] = {
    if (readings.isEmpty) Nil
    else {
      val pool = readings.filter(_ <= absMax)
      val ref = median(if (pool.nonEmpty) pool else readings)
      readings.map(r =>
        r > absMax || (r > relMax * ref && r - ref > relMinExcess))
    }
  }

  /** The driver-facing FINAL stdout line (r17 verdict #1): headline-only
    * JSON guaranteed to fit the driver's 2,000-char tail capture. The full
    * artifact (queries, per_run, env, thresholds — ~10 kB) goes to a FILE
    * whose path this line names in `artifact`; every consumer that wants
    * per-query data (bench_minima.py, bench_ab) reads the file. The only
    * unbounded fields are the two query lists (92 long names would alone
    * overflow the tail in the pathological all-fallback or all-failed
    * run), so `dirty_fallback_queries` and `failed_queries` (queries that
    * threw in any pass) are capped at 5 names each, with
    * `dirty_fallback_count` / `failed_count` carrying the true totals —
    * the loud verdict survives truncation, the full lists are in the
    * file. `query_sec` keys each timed query's seconds by its unique `qNN`
    * prefix — 92 full names would alone overflow the tail. Queries
    * without a time (failed in every pass) are absent. */
  private[graft] def compactLine(
      total: Double, sfDir: String, runs: Int, cleanPasses: Int,
      allContaminated: Boolean, fallbackQs: Seq[String], canaryMinSec: Double,
      ioReadings: Seq[Double], artifactPath: String,
      failedQs: Seq[String] = Nil, querySec: Seq[(String, Double)] = Nil): String = {
    val ioBand =
      if (ioReadings.isEmpty) "null"
      else s"""{"min":${fmt(ioReadings.min)},"median":${fmt(median(ioReadings))},"max":${fmt(ioReadings.max)}}"""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir"""" +
      s""","runs":$runs,"clean_passes":$cleanPasses""" +
      s""","all_passes_contaminated":$allContaminated""" +
      s""","dirty_fallback_count":${fallbackQs.size}""" +
      s""","dirty_fallback_queries":${jsonList(fallbackQs.take(5))}""" +
      s""","failed_count":${failedQs.size},"failed_queries":${jsonList(failedQs.take(5))}""" +
      s""","canary_min_sec":${fmt(canaryMinSec)},"io_band":$ioBand""" +
      s""","artifact":"$artifactPath"""" +
      querySec.map { case (q, sec) => s"\"${q.takeWhile(_ != '_')}\":${fmt(sec)}" }
        .mkString(""","query_sec":{""", ",", "}}")
  }

  /** Fixed deterministic CPU canary: a single-threaded LCG+xorshift loop
    * with PINNED iteration count, timed. The sandbox's speed shifts
    * between rounds (r8 measured ×1.36 vs r7) and single-number totals are
    * ±30% between runs, so cross-round adjudication needs a unit of "this
    * host's CPU second" embedded in the artifact itself: the canary's
    * seconds scale with host slowness exactly like a pure-CPU query's, and
    * `sec / canary_sec` is a host-normalized query time comparable across
    * rounds. Iterations are a constant — never tuned per host — and the
    * result is folded into a sink check so the loop cannot be
    * dead-code-eliminated. Run min-of-2 after one warmup rep: the JIT
    * compiles the loop on rep 1, reps 2-3 measure steady state. */
  val CanaryIters = 400000000L

  private def canaryRep(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < CanaryIters) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= (h >>> 33)
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("canary sink") // defeat DCE; never true
    sec
  }

  private def canarySec(): Double = {
    canaryRep() // warmup: JIT-compile the loop
    math.min(canaryRep(), canaryRep())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // warm up the session (codegen compiler, parquet reader, shuffle infra)
    // so the first measured query reports its own cost, not JVM init
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // pre-build the IVF index (an offline artifact in production) so
    // q45's bench number reflects the probe path — against the persisted
    // list-partitioned layout, not a localCheckpoint — not the KMeans build
    graft.operators.Ann.persistedIvfCached(sfDir,
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding", nlist = 16)
    // two passes per query, report the min — bounds the localCheckpoint/GC
    // run-to-run variance (measured 35-57s spread on identical code) so the
    // number tracks the plan, not the JVM's mood. Both totals are recorded.
    // a query that throws is recorded as failed, not timed: its elapsed
    // seconds measure how fast it crashed
    def pass(): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try {
            Phase(spark, name) {
              val df = fn(spark, sfDir)
              Phase(spark, "count")(df.count())
            }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop the query's localCheckpoint blocks NOW (outside its timing):
        // cleanup otherwise rides on GC-triggered weak refs (ContextCleaner),
        // so with a large heap dead blocks from 70 queries accumulate in the
        // block manager and later queries pay eviction churn (measured: q26
        // 10.5s -> 120s+ min-of-2 at -Xmx24g without this).
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        name -> (if (ok) Some(sec) else None)
      }
    def timedPass(passIdx: Int): Pass = {
      val canary = canarySec()
      val (load0, rd0, wr0) = IoCanary.envSnapshot()
      val r = pass()
      val (load1, rd1, wr1) = IoCanary.envSnapshot()
      // SELF-ADJUDICATION: was this pass's window environmentally clean?
      // Calibrated from the six checked-in r7 sf0.1 runs
      // (docs/evidence/bench_r7_*.json): clean pass-1 1-min loadavg_before
      // 0.62-2.10 (the r7 driver's contaminated window started at 2.49);
      // clean self sector-writes ≈ 850 k (pass 1, scratch index builds)
      // vs ≈ 25-70 k (pass 2, everything already laid out). Pass 2's
      // loadavg_before is SELF-inflated by pass 1's 32-thread burst
      // (observed up to 4.59 in clean runs), so for pass 2 the write
      // delta — far above the pass's own write pattern means a co-tenant
      // I/O storm — is the only usable signal.
      val load1m = load0.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
      val wrDelta = wr1 - wr0
      val envDirty =
        if (passIdx == 0) load1m > Load1mMax || wrDelta > Pass1WrMax
        else wrDelta > Pass2WrMax
      // the I/O canary runs AFTER the closing snapshot: its writes land
      // between measured windows, not inside this pass's wrDelta. Since
      // r16 it is also a GATE, not just adjudication data: r15's nine
      // runs showed io_canary_sec — not loadavg, not wrDelta, not the CPU
      // canary — is the variable that tracks the totals (io 0.99–1.14 s
      // ⇒ 196–211u; io 1.18–1.28 s ⇒ 220–251u on identical code, CPU
      // canary flat at 0.85–0.91). A reading over either [[ioFlags]]
      // bound flags the pass the same way the env thresholds do —
      // excluded from the headline, retried — with the proviso that the
      // canary samples the window right AFTER the pass, so it is a
      // storm-persistence proxy, not an in-window measurement.
      val (ioCanary, ioWr) = IoCanary.sample(spark)
      Pass(r.collect { case (q, Some(sec)) => q -> sec }.toMap,
        r.collect { case (q, None) => q }, load0, load1, rd1 - rd0, wrDelta,
        envDirty, canary, ioCanary, ioWr)
    }
    // LEADING io sample (r16 verdict): the per-pass canary samples the
    // window right AFTER each pass, so a storm that arrives and dies
    // WITHIN pass 1 — runs 11/12 of the r16 campaign show storms doing
    // exactly that — could leave pass 1 unflagged with no reading on its
    // leading edge. One reading here, before pass 1's CPU canary and
    // opening env snapshot (its writes are synced before that snapshot,
    // outside every measured window), closes the only unsampled edge.
    // Adjudication data only — it joins the artifact, not the gate.
    // The session's FIRST canary call pays the write pipeline's codegen/
    // JIT (measured: 1.73 s cold vs 0.94-0.99 s warm in the same clean
    // window), so a throwaway warmup rep runs first — recorded as
    // io_canary_warmup_sec for completeness, never adjudicated — and the
    // leading sample (plus every per-pass reading after it) is warm and
    // band-comparable.
    val (ioWarm, _) = IoCanary.sample(spark)
    val (ioLead, ioLeadWr) = IoCanary.sample(spark)
    def dirtyFlags(ps: Seq[Pass]): Seq[Boolean] =
      ps.zip(ioFlags(ps.map(_.ioCanary), IoCanaryMax, IoCanaryRel, IoRelMinExcessSec))
        .map { case (p, f) => p.envDirty || f }
    // RETRY-UNTIL-CLEAN: a contaminated pass is EXCLUDED from the min-of-N
    // headline (its numbers stay in per_run for adjudication) — and, new
    // in r13, it is also RETRIED: three rounds running, the single
    // driver-facing artifact landed on a co-tenant I/O storm while the
    // checked-in evidence runs prove clean windows exist on this host
    // within minutes. Keep running passes until TWO are clean or the
    // attempt budget is spent (each pass is minutes, so the budget bounds
    // a storm that outlives the bench at ~2× the clean wall time). Every
    // pass — clean or not — is recorded in the artifact's arrays. The
    // clean count is re-adjudicated over ALL passes each iteration: the
    // relative io bound's reference median moves as readings arrive, so
    // an early pass can be re-flagged by later evidence (and vice versa).
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (passes.size < MaxPasses &&
        dirtyFlags(passes.toSeq).count(d => !d) < 2) {
      val p = timedPass(passes.size)
      passes += p
      val flagsNow = dirtyFlags(passes.toSeq)
      if (flagsNow.last && passes.size < MaxPasses)
        System.err.println(s"[bench] pass ${passes.size} contaminated" +
          (if (!p.envDirty) s" (io canary ${fmt(p.ioCanary)}s over gate)" else "") +
          s"; retrying (${flagsNow.count(d => !d)}/2 clean, budget $MaxPasses)")
    }
    // final adjudication: same function, full evidence
    val ioFlagsFinal =
      ioFlags(passes.map(_.ioCanary).toSeq, IoCanaryMax, IoCanaryRel, IoRelMinExcessSec)
    val dirty = passes.toSeq.zip(ioFlagsFinal).map { case (p, f) => p.envDirty || f }
    val clean = passes.toSeq.zip(dirty).collect { case (p, false) => p }
    val usable = if (clean.nonEmpty) clean else passes.toSeq
    val use: String => Double =
      headlineMin(usable.map(_.q), passes.map(_.q).toSeq, _)
    val nDirty = dirty.count(identity)
    // LOUD all-contaminated verdict (r16 verdict): when the retry budget
    // exhausts with zero clean passes the headline silently became dirty
    // minima — exactly on the host where the gate matters most. The
    // boolean makes that state machine-checkable, not a note-string grep.
    val allContaminated = clean.isEmpty
    val fallbackQs = dirtyFallbackQueries(usable.map(_.q), passes.map(_.q).toSeq)
    val failedQs = passes.flatMap(_.failed).distinct.sorted.toSeq
    // the per-query outlier sweep runs over ALL passes (clean or not): a
    // flagged query inside an env-clean pass is exactly the case the env
    // thresholds cannot see; inside a contaminated pass it just names the
    // victim. The headline already takes min-over-passes — this is the
    // artifact describing its own variance, not a correction.
    val outliers = perQueryOutliers(passes.map(_.q).toSeq, OutlierK, OutlierMinExcessSec)
    val outlierNote =
      if (outliers.isEmpty) ""
      else outliers.map { case (i, q, r) =>
        f"$q pass${i + 1} ×$r%.1f" }.mkString("; per-query outliers: ", ", ", "")
    val failedNote =
      if (failedQs.isEmpty) ""
      else failedQs.mkString("; failed queries (left out of the total): ", ", ", "")
    val fallbackNote =
      if (fallbackQs.isEmpty) ""
      else fallbackQs.mkString("; dirty-fallback queries (min from excluded passes only): ", ", ", "")
    val note =
      (if (allContaminated) s"all ${passes.size} passes contaminated; min reported, unreliable"
       else if (nDirty > 0) s"$nDirty contaminated pass(es) excluded; " +
         s"headline is min over ${clean.size} clean pass(es)"
       else "clean") + fallbackNote + outlierNote + failedNote
    val results = passes.flatMap(_.q.keys).distinct.sorted.map { name =>
      val sec = use(name)
      val all = passes.map(_.q.get(name).map(v => f"$v%.2f").getOrElse("-")).mkString(" ")
      System.err.println(f"[bench] $name%-26s $sec%8.2fs  (passes: $all)")
      name -> sec
    }.toSeq
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // host-normalized per-query times: seconds divided by the best canary
    // rep of the run — "query time in canary units", comparable across
    // rounds on shifting sandbox hosts (a ×1.4 slower host inflates the
    // canary and the query alike, so the ratio holds still). The raw
    // numbers stay the headline; these are the cross-round signal.
    val canMin = passes.map(_.canary).min
    val qsNorm = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v / canMin) }
      .mkString("{", ",", "}")
    // per-run per-query values go INTO the JSON (not just stderr) so a
    // run-to-run anomaly on one query can be adjudicated from the artifact
    val runs = passes.map { p =>
      p.q.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val thresholds = s"""{"load1m_max":${fmt(Load1mMax)}""" +
      s""","pass1_wr_max":${fmt(Pass1WrMax)}""" +
      s""","pass2_wr_max":${fmt(Pass2WrMax)}""" +
      s""","max_passes":$MaxPasses""" +
      s""","outlier_k":${fmt(OutlierK)}""" +
      s""","outlier_min_excess_sec":${fmt(OutlierMinExcessSec)}""" +
      s""","io_canary_max":${fmt(IoCanaryMax)}""" +
      s""","io_canary_rel":${fmt(IoCanaryRel)}""" +
      s""","io_rel_min_excess_sec":${fmt(IoRelMinExcessSec)}""" +
      s""","calibrated_on":"r7 sandbox host (docs/evidence/bench_r7_*.json); io gate r15 (docs/BENCH_NOTES_r15.md); relative io bound r17 (docs/BENCH_NOTES_r17.md)"}"""
    val runTotals = passes.map(p => fmt(p.q.values.sum)).mkString("[", ",", "]")
    val contamArr = dirty.mkString("[", ",", "]")
    val canaryArr = passes.map(p => fmt(p.canary)).mkString("[", ",", "]")
    val ioCanaryArr = passes.map(p => fmt(p.ioCanary)).mkString("[", ",", "]")
    val ioFlaggedArr = ioFlagsFinal.mkString("[", ",", "]")
    val ioWrArr = passes.map(_.ioWrDelta).mkString("[", ",", "]")
    val envArr = passes.toSeq.zip(ioFlagsFinal).zip(dirty).map {
      case ((p, ioF), d) =>
        s"""{"loadavg_before":"${p.load0}","loadavg_after":"${p.load1}"""" +
          s""","sectors_read_delta":${p.rdDelta},"sectors_written_delta":${p.wrDelta}""" +
          s""","canary_sec":${fmt(p.canary)},"io_canary_sec":${fmt(p.ioCanary)}""" +
          s""","io_canary_wr_delta":${p.ioWrDelta},"io_flagged":$ioF""" +
          s""","failed":${jsonList(p.failed)}""" +
          s""","contaminated":$d}"""
    }.mkString("[", ",", "]")
    val outliersJson = outliers.map { case (i, q, r) =>
      s"""{"pass":${i + 1},"query":"$q","ratio":${fmt(r)}}""" }.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":${passes.size},"clean_passes":${clean.size},"all_passes_contaminated":$allContaminated,"dirty_fallback_queries":${jsonList(fallbackQs)},"failed_queries":${jsonList(failedQs)},"run_totals":$runTotals,"contaminated":$contamArr,"contamination_note":"$note","query_outliers":$outliersJson,"canary_sec":$canaryArr,"io_canary_sec":$ioCanaryArr,"io_flagged":$ioFlaggedArr,"io_canary_wr_delta":$ioWrArr,"io_canary_warmup_sec":${fmt(ioWarm)},"io_canary_leading_sec":${fmt(ioLead)},"io_canary_leading_wr_delta":$ioLeadWr,"canary_iters":$CanaryIters,"queries_per_canary":$qsNorm,"contamination_thresholds":$thresholds,"per_run":$runs,"env":$envArr}"""
    // FULL artifact -> FILE; COMPACT headline -> the final stdout line
    // (r17 verdict #1): the full artifact is ~10 kB on one line (92
    // queries x per_run arrays + env) and the driver captures a 2,000-char
    // stdout TAIL — BENCH_r15/r16/r17.json all carry "parsed": null
    // because the tail slices the line mid-object. The file keeps the
    // unchanged full format for bench_minima.py/bench_ab; the stdout line
    // carries only the headline fields (total, pass/clean counts, the
    // loud verdicts, canary min, io band, the artifact's path and each
    // query's seconds) and is pinned under the tail by compactLine's caps
    // + spec.
    val artifactPath = sys.props.get("graft.bench.artifact_path")
      .orElse(sys.env.get("GRAFT_BENCH_ARTIFACT_PATH"))
      .getOrElse("target/bench_last.json")
    val ap = java.nio.file.Paths.get(artifactPath)
    if (ap.getParent != null) java.nio.file.Files.createDirectories(ap.getParent)
    java.nio.file.Files.writeString(ap, json + "\n")
    System.err.println(s"[bench] full artifact -> $artifactPath")
    val compact = compactLine(total, sfDir, passes.size, clean.size,
      allContaminated, fallbackQs, canMin, passes.map(_.ioCanary).toSeq,
      artifactPath, failedQs, results)
    // stop Spark BEFORE emitting the JSON line, then quiesce both streams:
    // sbt reads stdout and stderr on separate threads and interleaves them
    // by arrival, so a JSON line printed while per-query stderr lines are
    // still queued can land mid-log and fall outside the captured tail
    // (this lost the round-3 bench line). Flush stderr first and pause so
    // the stdout JSON line is the last line of the combined log. The JSON
    // is emitted on stdout ONLY — a duplicate stderr copy would double-count
    // in any consumer that greps all JSON lines rather than taking the last.
    spark.stop()
    System.err.flush(); System.out.flush()
    Thread.sleep(2000)
    println(compact)
    System.out.flush()
  }
}
