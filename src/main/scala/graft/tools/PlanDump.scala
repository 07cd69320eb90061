package graft.tools

/** Dump each query's final (post-AQE) physical plan to stdout, followed
  * by one smell line: cartesian products, nested-loop joins and parquet
  * scans wider than 12 columns (`SMELL <query>: clean` otherwise). With no
  * query names it covers every SparkEntry query; docs/PLANS.md holds the
  * captured flagship plans. Queries with construction side effects (index
  * builds, CDC batches) run them, as in Verify.
  * Usage: runMain graft.tools.PlanDump <sfDir> <cpus> [query...] */
object PlanDump {
  def main(a: Array[String]): Unit = {
    require(a.length >= 2, "usage: PlanDump <sfDir> <cpus> [query...]")
    val (sfDir, cpus) = (a(0), a(1).toInt)
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (a.length > 2) a.drop(2).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      println(plan)
      val smells = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
      val widest = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
        .map(_.group(1).count(_ == ':')).maxOption.getOrElse(0)
      val all = smells ++ (if (widest > 12) Seq(s"wide-scan($widest cols)") else Nil)
      println(s"SMELL $n: " + (if (all.isEmpty) "clean" else all.mkString(",")))
    }
    spark.stop()
  }
}
