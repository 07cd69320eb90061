package graft.tools

/** Dev tool: write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>.txt` — the per-query plan evidence the optimization
  * rounds commit under `plans/r<N>/`. Queries with construction side
  * effects (index builds, CDC batches) RUN those at DataFrame-build time,
  * same as Verify; the captured plan is the returned frame's, unexecuted
  * (PlanDump prints the executed, post-AQE plan instead).
  * Usage: runMain graft.tools.FormattedPlanDump <outDir> <sfDir> <cpus> <query>... */
object FormattedPlanDump {
  def main(a: Array[String]): Unit = {
    require(a.length >= 4, "usage: FormattedPlanDump <outDir> <sfDir> <cpus> <query>...")
    val (outDir, sfDir, cpus) = (a(0), a(1), a(2).toInt)
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    a.drop(3).foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$n.txt"), plan)
      println(s"[plandump] wrote $outDir/$n.txt (${plan.length} chars)")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
