package wlbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs: the session, the tracer, its inputs' seed
  * and sizes, and a private directory inside the work root. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val size: Sizes, val root: File) {
  def path(name: String): String = new File(root, name).getAbsolutePath
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** Input sizes. `std` is what the benchmark measures; `tiny` is for the
  * smoke test. */
final case class Sizes(etlBatch: Int, catalog: Int, categories: Int, historyDays: Int,
    corpus: Int, dedupBatch: Int)

object Sizes {
  val std = Sizes(etlBatch = 5000, catalog = 12000, categories = 300, historyDays = 6,
    corpus = 2000, dedupBatch = 1200)
  val tiny = Sizes(etlBatch = 300, catalog = 1000, categories = 60, historyDays = 3,
    corpus = 200, dedupBatch = 100)
}

/** A closed-loop workload with one client. `setup` generates inputs and
  * preloads them; `warmUp` runs once after it; `prepare` makes op `i`'s
  * inputs outside the timed region; `op` is timed; `check` verifies its
  * output (untimed). `finish` runs the end-of-run steps and final checks. */
abstract class Workload(val ctx: Ctx) {
  /** What one unit of `work_per_s` is. */
  def unit: String
  def setup(): Unit
  def warmUp(): Unit = ()
  def prepare(i: Int): Unit = ()
  /** Runs op `i`, returns the work units it completed. */
  def op(i: Int): Long
  def check(i: Int): Unit
  def finish(): Unit
  /** On-disk bytes of the store or index root ÷ bytes of a freshly
    * compacted copy of its live state. */
  def spaceAmp(): Double
  /** Per-layer counts, for the traced run. */
  def counts(): Map[String, Double] = Map.empty
  /** Ops per cycle of the workload's periodic work (maintenance,
    * compaction, a round of the query mix). A run measures whole cycles, so
    * every run's ops have the same mix. */
  def cycle: Int = 1
  /** Whether op `i` runs traced, in a traced run: every other cycle, so the
    * untraced ones give the overhead baseline. */
  def tracedOp(i: Int): Boolean = (i / cycle) % 2 == 1
  /** Ops a traced run measures at least: with traced and untraced cycles
    * alternating, three (untraced, traced, untraced), so that a drift (the
    * JIT still warming) cancels out of the overhead. */
  def tracedRunOps: Int = if (tracedOp(0)) 0 else 3 * cycle
  /** Traced and untraced seconds of the same work, when the workload
    * measures them pairwise itself. */
  def overheadPair: Option[(Double, Double)] = None
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Main {
  val Workloads = Seq("etl_daily", "olap_read", "dedup_ingest")

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, size: String = "std", workDir: String = "",
      failOp: Int = -1, listMetrics: Boolean = false, genDump: String = "",
      record: Option[(Long, Long)] = None, spansOut: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--size" :: v :: t => parse(t, o.copy(size = v))
    case "--work-dir" :: v :: t => parse(t, o.copy(workDir = v))
    case "--fail-op" :: v :: t => parse(t, o.copy(failOp = v.toInt))
    case "--list-metrics" :: t => parse(t, o.copy(listMetrics = true))
    case "--gen-dump" :: v :: t => parse(t, o.copy(genDump = v))
    case "--spans-out" :: v :: t => parse(t, o.copy(spansOut = v))
    case "--record" :: v :: t =>
      val Array(a, b) = v.split("-").map(_.toLong)
      parse(t, o.copy(record = Some((a, b))))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** End-to-end metrics: name → unit. `failed_frac` is printed with them
    * but not in the JSON result, whose `failed`/`attempted` carry it. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "work_per_s" -> "units/s", "op_p50_s" -> "s", "op_tail_s" -> "s", "setup_s" -> "s",
    "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.listMetrics) {
      EndToEnd.foreach { case (n, u) => println(s"end_to_end\t$n\t$u") }
      Layers.all.foreach { case (n, u, b) => println(s"per_layer\t$n\t$u\t$b") }
      return
    }
    if (o.genDump.nonEmpty) { genDump(o.seed, new File(o.genDump)); return }
    require(Workloads.contains(o.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val size = o.size match { case "std" => Sizes.std; case "tiny" => Sizes.tiny }
    val root = new File(o.workDir)
    root.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapAfterGc.watch()
    val spark = GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", new File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .getOrCreate()
    GraftSession.registerOn(spark)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new Ctx(spark, tracer, o.seed, size, root)
      val wl: Workload = o.workload match {
        case "etl_daily" => new EtlDaily(ctx, o.trace)
        case "olap_read" => new OlapRead(ctx)
        case "dedup_ingest" => new DedupIngest(ctx)
      }
      o.record.foreach { case (first, last) =>
        // the stored digests of olap_read: one setup and one round per seed
        (first to last).foreach { seed =>
          val w = new OlapRead(new Ctx(spark, tracer, seed, size, new File(root, s"record$seed")),
            recording = true)
          w.setup()
          w.warmUp()
          w.finish()
          w.digests.toSeq.sorted.foreach { case (q, d) => println(s"$seed\t$q\t$d") }
        }
        return
      }
      hostFacts(spark, nproc).foreach(l => println(s"host $l"))
      val s0 = System.nanoTime()
      wl.setup()
      val w0 = System.nanoTime()
      wl.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      // JVM start to the first timed op
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      println(f"setup session=$sessionS%.3f preload=${(w0 - s0) / 1e9}%.3f warm_up=$warmS%.3f " +
        f"total=$setupS%.3f")

      val lat = collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      var units = 0L
      var attempted, failed = 0
      val gc0 = gcSeconds()
      var measured = 0.0
      var i = 0
      // at least `seconds`, in whole cycles
      val minOps = if (o.trace) wl.tracedRunOps else 0
      while (measured < o.seconds || i % wl.cycle != 0 || i < minOps) {
        wl.prepare(i)
        val traced = o.trace && wl.tracedOp(i)
        tracer.enabled = traced
        tracer.opId = i
        val t0 = System.nanoTime()
        attempted += 1
        try {
          val u = wl.op(i)
          val dt = (System.nanoTime() - t0) / 1e9
          tracer.enabled = false
          wl.check(i)
          if (i == o.failOp) throw new CheckFailed(s"op $i: deliberately failed check")
          lat += dt -> traced
          units += u
          measured += dt
        } catch {
          case e: Exception =>
            tracer.enabled = false
            failed += 1
            measured += (System.nanoTime() - t0) / 1e9
            println(s"FAILED op $i: $e")
        }
        i += 1
      }
      val gcS = gcSeconds() - gc0
      var finalOk = true
      val f0 = System.nanoTime()
      tracer.enabled = o.trace
      try wl.finish()
      catch { case e: Exception => finalOk = false; println(s"FAILED final check: $e") }
      tracer.enabled = false
      val f1 = System.nanoTime()
      val amp = wl.spaceAmp()
      println(f"end finish=${(f1 - f0) / 1e9}%.3f space_amp=${(System.nanoTime() - f1) / 1e9}%.3f")

      val all = lat.map(_._1).toSeq
      val plain = if (o.trace) lat.filterNot(_._2).map(_._1).toSeq else all
      val (tailQ, tail) = Stats.tail(plain)
      val e2e = Map(
        "work_per_s" -> (if (measured > 0) units / measured else 0.0),
        "op_p50_s" -> Stats.median(plain),
        "op_tail_s" -> tail,
        "setup_s" -> setupS,
        "space_amp" -> amp,
        "peak_rss_mb" -> peakRssMb())
      if (!o.trace) {
        EndToEnd.foreach { case (n, u) => println(f"metric $n = ${e2e(n)}%.6f $u") }
        println(f"metric failed_frac = ${failed.toDouble / attempted}%.6f ratio")
      }
      println(s"ops ${plain.size} succeeded untraced, tail percentile p${(tailQ * 100).round}, " +
        s"unit ${wl.unit}, measured ${"%.3f".format(measured)} s")
      println(s"latencies ${lat.map { case (t, tr) => f"$t%.3f" + (if (tr) "*" else "") }.mkString(" ")}")

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
        else {
          val traced = lat.filter(_._2).map(_._1)
          val overhead = wl.overheadPair match {
            case Some((t, u)) => t / u - 1
            case None => Stats.mean(traced.toSeq) / Stats.mean(plain) - 1
          }
          if (o.spansOut.nonEmpty) tracer.writeSpans(new File(o.spansOut))
          val m = tracer.layerMetrics() ++ wl.counts() ++
            Map("jvm.gc_s" -> gcS, "jvm.heap_after_gc_mb" -> HeapAfterGc.peakMb,
              "trace.overhead_frac" -> overhead)
          Layers.all.map { case (n, u, _) => (n, m.getOrElse(n, 0.0), u) }
        }
      val correct = failed == 0 && finalOk
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally spark.stop()
  }

  /** Writes a sample of every generator's output at `tiny` sizes, for the
    * determinism test. Needs no Spark session. */
  private def genDump(seed: Long, dir: File): Unit = {
    val s = Sizes.tiny
    val etl = new Gen.Etl(seed, s.etlBatch)
    (1 to 3).foreach(d => etl.run(d, new File(dir, s"etl/run_$d.json"), new File(dir, s"etl/slice_$d.json")))
    val cats = Gen.categories(seed, s.categories)
    val catalog = new Gen.Catalog(seed, s.catalog, cats)
    Gen.write(new File(dir, "olap/categories.json"), cats.iterator.map(Gen.categoryJson(_, catalog.leafUrls)))
    Gen.write(new File(dir, "olap/catalog.txt"), (catalog.products ++ catalog.update(1)).iterator.map(_.toString))
    val corpus = new Gen.Corpus(seed)
    Gen.write(new File(dir, "dedup/docs.txt"),
      (corpus.corpus(s.corpus) ++ corpus.batch(s.dedupBatch)).iterator.map(_.toString))
  }

  /** The most heap in use right after a collection, over the whole run:
    * the retained heap, which the fixed pre-touched heap hides from
    * `peak_rss_mb`. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def peakMb: Double = peak / (1024.0 * 1024)

    def watch(): Unit = {
      val listener: NotificationListener = (n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak = math.max(peak, used)
        }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** The JVM's peak resident set (`VmHWM`). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def hostFacts(spark: SparkSession, nproc: Int): Seq[String] = Seq(
    s"nproc=$nproc master=${spark.sparkContext.master}",
    s"heap_max_mb=${Runtime.getRuntime.maxMemory / (1 << 20)}",
    s"spark=${spark.version} scala=${scala.util.Properties.versionNumberString} " +
      s"jdk=${System.getProperty("java.version")}",
    "flush=parquet via the Hadoop output committer, no fsync")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile of `xs` (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The latency at the highest percentile that leaves at least ten
    * operations above it, and that percentile. With fewer than 20 samples
    * that would fall below the median, so the median is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.size < 20) 0.5 else 1.0 - 10.0 / xs.size
    (q, quantile(xs, q))
  }

  /** A JSON number with all its digits; non-finite values become 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
