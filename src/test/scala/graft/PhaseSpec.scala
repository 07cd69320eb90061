package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftx.Bridge

/** Job labels: [[Phase]] nests and restores the label, and a lifecycle
  * query labels every job it launches with the operator that launched
  * it. */
class PhaseSpec extends SparkSpec {

  private val Desc = "spark.job.description"

  test("Phase nests labels and restores the outer one, also when the block throws") {
    val sc = spark.sparkContext
    def both = (sc.getLocalProperty(Desc), sc.getLocalProperty(Phase.Key))
    assert(both == ((null, null)))
    Phase(spark, "q") {
      assert(both == (("q", "q")))
      Phase(spark, "op.phase")(assert(both == (("q › op.phase", "q › op.phase"))))
      intercept[IllegalStateException](
        Phase(spark, "boom")(throw new IllegalStateException("x")))
      assert(both == (("q", "q")))
    }
    assert(both == ((null, null)))
    // a description set outside graft (a streaming batch, a user's own
    // label) is the prefix, and comes back on exit
    sc.setJobDescription("etl")
    try Phase(spark, "index.read")(assert(both == (("etl › index.read", "etl › index.read"))))
    finally sc.setJobDescription(null)
  }

  // (query, test-name tail, the operators its jobs may name, label
  // prefixes that must appear)
  private val lifecycles = Seq(
    ("q73_compacted_ingest", "ingest and compaction phases included",
      Set("tables.load", "index.write", "index.read", "index.compact", "index.probe",
        "ingest.cycle", "count"),
      Seq("ingest.cycle › ingest.", "index.compact")),
    ("q87_curation_stream", "gate, ingest and read-back phases included",
      Set("tables.load", "index.write", "cur.batch", "cur.readBack", "count"),
      Seq("cur.batch › cur.gateAndDedup › gate.",
        "cur.batch › cur.ingestCycle › ingest.cycle › ingest.", "cur.readBack")),
    ("q76_cdc_sink", "derive and write phases included",
      Set("tables.load", "cdc.input", "cdc.prune", "cdc.derive", "cdc.write", "cdc.vacuum",
        "cdc.readBack", "count"),
      Seq("cdc.derive", "cdc.write")))

  for ((q, what, operators, mustSee) <- lifecycles)
    test(s"$q: every job is labelled query › operator, $what") {
      // jobs launched from this thread (and the Par / broadcast threads
      // that inherit its local properties) carry the marker; a job from
      // anywhere else in the shared session is not this query's
      val marker = "graft.test.phaseSpec"
      val jobs = mutable.ArrayBuffer.empty[(String, String)] // (description, label)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
          val p = js.properties
          if (p != null && p.getProperty(marker) != null)
            jobs += ((String.valueOf(p.getProperty(Desc)), Phase.of(p).getOrElse("(unlabelled)")))
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      sc.setLocalProperty(marker, "1")
      try {
        val rows = Phase(spark, q) {
          val df = SparkEntry.queries(q)(spark, sfDir)
          Phase(spark, "count")(df.count())
        }
        assert(rows > 0)
      } finally {
        sc.setLocalProperty(marker, null)
        Bridge.drainListenerBus(spark)
        sc.removeSparkListener(listener)
      }
      val seen = jobs.synchronized(jobs.toList)
      assert(seen.size > 20, s"expected the lifecycle's jobs, saw ${seen.size}")
      val unlabelled = seen.map(_._2).distinct.filterNot { l =>
        l.startsWith(s"$q › ") && operators(l.stripPrefix(s"$q › ").split(" › ").head)
      }
      assert(unlabelled.isEmpty, s"jobs without an operator label: ${unlabelled.mkString(" | ")}")
      // the description IS the label, except where Spark's parallel file
      // listing writes its own
      val relabelled = seen.filterNot { case (d, l) => d == l || d.startsWith("Listing leaf files") }
      assert(relabelled.isEmpty, relabelled.distinct.mkString(" | "))
      val labels = seen.map(_._2).distinct
      for (m <- mustSee)
        assert(labels.exists(_.startsWith(s"$q › $m")), s"no $m label: ${labels.mkString(" | ")}")
    }
}
