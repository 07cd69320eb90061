package wlbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the library, plus a
  * `SparkListener` that charges Spark jobs to them.
  *
  * A span records name, start, end, parent and op id. Spans are opened
  * only on the benchmark's own thread and nest as a stack; they stay in
  * memory until [[Tracer.layerMetrics]] resolves them at the end of the
  * run. With tracing off, [[Tracer.span]] is a plain call.
  *
  * Job attribution: a job carries the id of the span that was open on the
  * submitting thread (a SparkContext local property, inherited by the
  * library's worker threads). Jobs without it, such as those of a streaming
  * query's own thread, go to the innermost span whose interval contains
  * their submission time.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  /** Whether calls made now are recorded. The workloads flip it per op. */
  var enabled = false
  var opId = -1

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      require(Layers.spanNames.contains(name), s"unknown span $name")
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId, nowMs())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Each span's jobs: the span named by the job's tag if it was open when
    * the job was submitted, else the innermost span open then. */
  private def jobsBySpan(jobs: Seq[Job]): Map[Int, Seq[Job]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def covers(s: Span, t: Double) = s.startMs - 1 <= t && t <= s.endMs + 1
    jobs.flatMap { j =>
      val tagged = j.spanId.flatMap(byId.get).filter(covers(_, j.submitMs))
      val s = tagged.orElse(
        spans.filter(covers(_, j.submitMs)).maxByOption(_.startMs))
      s.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Every span as a JSON line: id, name, parent, op, start and end
    * (epoch ms), and the jobs charged to it. */
  def writeSpans(f: java.io.File): Unit = {
    org.apache.spark.wlbench.BusDrain(sc)
    val owner = jobsBySpan(listener.snapshot())
    Gen.write(f, spans.iterator.map { s =>
      val js = owner.getOrElse(s.id, Nil)
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.opId}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "jobs": ${js.size}, """ +
        f""""job_s": ${js.map(j => j.endMs - j.submitMs).sum / 1000}%.3f}"""
    })
  }

  /** Per-call means of every span measure, keyed `<span>.<measure>`. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.wlbench.BusDrain(sc)
    val jobs = listener.snapshot()
    val children = spans.groupBy(_.parent)
    val owner = jobsBySpan(jobs)

    val acc = mutable.Map.empty[String, Array[Double]] // calls, self, jobs, job_s, gap, shuf, spill, out
    spans.foreach { s =>
      val dur = s.endMs - s.startMs
      val kids = children.get(s.id).toSeq.flatten.map(c => (c.startMs, c.endMs))
      val inJobs = jobs.filter(j => j.endMs > s.startMs && j.submitMs < s.endMs)
        .map(j => (j.submitMs max s.startMs, j.endMs min s.endMs)).toSeq
      val mine = owner.getOrElse(s.id, Nil)
      val a = acc.getOrElseUpdate(s.name, new Array[Double](8))
      a(0) += 1
      a(1) += (dur - unionLength(kids)) / 1000
      a(2) += mine.size
      a(3) += mine.map(j => j.endMs - j.submitMs).sum / 1000
      a(4) += (dur - unionLength(inJobs)) / 1000
      a(5) += mine.map(_.shuffleBytes).sum.toDouble
      a(6) += mine.map(_.spillBytes).sum.toDouble
      a(7) += mine.map(_.outputBytes).sum.toDouble
    }
    Layers.spans.flatMap { case (name, measures) =>
      val a = acc.getOrElse(name, new Array[Double](8))
      val calls = a(0)
      measures.map { m =>
        val i = Measures.indexOf(m)
        s"$name.$m" -> (if (i == 0) calls else if (calls == 0) 0.0 else a(i) / calls)
      }
    }.toMap
  }
}

object Tracer {
  val SpanProperty = "wlbench.span"

  /** Wall-clock milliseconds with sub-millisecond resolution, on the same
    * epoch as the listener's job timestamps. */
  private val (baseMs, baseNs) = (System.currentTimeMillis().toDouble, System.nanoTime())
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int, val opId: Int,
      val startMs: Double) { var endMs: Double = startMs }

  final case class Job(spanId: Option[Int], submitMs: Double, endMs: Double,
      shuffleBytes: Long, spillBytes: Long, outputBytes: Long)

  /** Order matters: `layerMetrics` indexes its accumulator by position. */
  val Measures: Seq[String] = Seq("calls", "self_s", "jobs", "job_s", "driver_gap_s",
    "shuffle_bytes", "spill_bytes", "output_bytes")

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private final class JobListener extends SparkListener {
    private final class Rec(val spanId: Option[Int], val submitMs: Double) {
      var endMs = Double.NaN
      var shuffle, spill, output = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Rec]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      jobs(e.jobId) = new Rec(tag.map(_.toInt), e.time.toDouble)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
        r.shuffle += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled
        r.output += m.outputMetrics.bytesWritten
      }
    }

    def snapshot(): Seq[Job] = synchronized {
      jobs.values.filterNot(_.endMs.isNaN).map(r =>
        Job(r.spanId, r.submitMs, r.endMs, r.shuffle, r.spill, r.output)).toSeq
    }
  }
}

/** The per-layer metric set: which spans exist and which measures each
  * reports. Layers are the library's modules. The five spans with the most
  * at stake get every measure; lazy read constructions (no Spark job of
  * their own) get calls and self time only. Kept in step with
  * `BENCHMARK.json` by `selftest.py`. */
object Layers {
  private val full = Tracer.Measures
  private val std = Seq("calls", "self_s", "jobs", "driver_gap_s")
  private val lite = Seq("calls", "self_s")

  val spans: Seq[(String, Seq[String])] = Seq(
    "sources.readEnvelope" -> lite,
    // its calls are fixed by the query mix
    "sources.readCategories" -> Seq("self_s"),
    "transform.run" -> full,
    "operators.history.deriveEvents" -> std,
    "store.upsert" -> full,
    "store.upsertLatest" -> std,
    "store.appendHistory" -> std,
    "store.maintenance" -> std,
    "store.snapshot" -> lite,
    "store.snapshotAt" -> lite,
    "store.history" -> lite,
    "analytics.summary" -> std,
    "analytics.byPriceCategory" -> std,
    "analytics.revenueByCategoryLevels" -> std,
    "analytics.brandPerformance" -> std,
    "analytics.discountBuckets" -> std,
    "analytics.kpiRow" -> std,
    "analytics.topPerCategory" -> std,
    "analytics.schedulerTopK" -> std,
    "operators.hierarchy.resolvePaths" -> full,
    "operators.hierarchy.categoryProductCounts" -> std,
    "warehouse.fact" -> std,
    "operators.dedup.ingestCycle" -> full,
    "operators.dedup.compactMinhashIndex" -> std,
    "operators.dedup.dedupAgainstIndex" -> std,
    "streaming.cdcBatch" -> full)

  val spanNames: Set[String] = spans.map(_._1).toSet

  /** Counts measured where the work happens, reported beside the spans. */
  val counts: Seq[(String, String, String)] = Seq(
    ("transform.rows_in", "count", "higher"),
    ("transform.rejects", "count", "higher"),
    ("transform.duplicates", "count", "higher"),
    ("operators.history.events", "count", "higher"),
    ("store.write_amp", "ratio", "lower"),
    ("store.bytes_rewritten", "bytes", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.useful_frac", "ratio", "higher"),
    ("operators.dedup.index_files", "count", "lower"),
    ("operators.dedup.recall_planted", "ratio", "higher"),
    ("streaming.collapses", "count", "higher"),
    ("streaming.companion_bytes", "bytes", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"))

  private def unitOf(m: String) = m match {
    case "calls" | "jobs" => "count"
    case m if m.endsWith("_s") => "s"
    case _ => "bytes"
  }

  /** (name, unit, better) of every per-layer metric, in report order. */
  val all: Seq[(String, String, String)] =
    spans.flatMap { case (n, ms) =>
      ms.map(m => (s"$n.$m", unitOf(m), if (m == "calls") "higher" else "lower"))
    } ++ counts
}
