package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.graftx.Bridge

import graft.{GraftSession, Phase, SparkEntry}

/** Where a query's seconds go, by job label. Each named query runs inside
  * `Phase(spark, query)`, its final `count()` under `query › count`, and a
  * listener collects every job's label (`Phase.of`) and duration.
  * Per query it prints rows, wall total, job count, summed job time and
  * the driver gap (total − summed job time; it goes negative when
  * `graft.Par` overlaps jobs). Then, per distinct label in first-start
  * order: job count, summed job seconds and span (first start to last
  * end). Time a phase spends launching no job lands in the gap. Repeat a
  * name for warm numbers.
  * Usage: runMain graft.tools.Profile <sfDir> <cpus> <query>... */
object Profile {
  private final case class Job(label: String, startMs: Long, endMs: Long)

  def main(a: Array[String]): Unit = {
    require(a.length >= 3, "usage: Profile <sfDir> <cpus> <query>...")
    val (sfDir, cpus, names) = (a(0), a(1).toInt, a.drop(2).toSeq)
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // labels carry ` › `: print UTF-8 whatever the platform charset
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    val open = mutable.Map.empty[Int, (String, Long)]
    val done = mutable.ArrayBuffer.empty[Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = done.synchronized {
        val label = Phase.of(js.properties).getOrElse("(unlabelled)").replace('\n', ' ')
        open(js.jobId) = (label, js.time)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = done.synchronized {
        open.remove(je.jobId).foreach { case (l, t0) => done += Job(l, t0, je.time) }
      }
    })
    names.foreach { name =>
      done.synchronized(done.clear())
      val t0 = System.nanoTime()
      val rows = Phase(spark, name) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        Phase(spark, "count")(df.count())
      }
      val total = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(spark)
      val jobs = done.synchronized(done.toList)
      val jobSum = jobs.map(j => j.endMs - j.startMs).sum / 1e3
      out.println(f"PROFILE $name rows=$rows total=$total%.2fs jobs=${jobs.size} " +
        f"jobSum=$jobSum%.2fs gap=${total - jobSum}%.2fs")
      jobs.groupBy(_.label).toSeq.sortBy(_._2.map(_.startMs).min).foreach { case (label, js) =>
        val sec = js.map(j => j.endMs - j.startMs).sum / 1e3
        val span = (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3
        out.println(f"  ${js.size}%4d jobs ${sec}%8.3fs span ${span}%8.3fs  $label")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
