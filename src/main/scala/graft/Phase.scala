package graft

import org.apache.spark.sql.SparkSession

/** Job label for a block: every Spark job launched inside `f` carries
  * `spark.job.description` = the label already set plus ` › name` (just
  * `name` when none is), and the outer label is restored on exit. Nesting
  * gives `query › operator › phase` paths, e.g.
  * `q73_compacted_ingest › ingest.cycle › ingest.verdicts`, so a
  * `SparkListener` can attribute each job's time to the phase that
  * launched it (`tools.Profile` prints that view). Always on: two
  * thread-local property writes on entry and two on exit, and it never
  * changes a plan. [[Par]] threads inherit the label, and Spark carries
  * it onto its broadcast and subquery threads.
  *
  * The label is also kept under [[Key]]: Spark's parallel file-listing
  * jobs (a read of a directory with many partition dirs) replace the
  * description with their own text but keep every other property, so
  * listeners read [[Key]] first. Phase time that launches no job shows up
  * only in the caller's wall time. */
object Phase {
  val Key = "graft.phase"
  private val Desc = "spark.job.description"

  def apply[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val (outer, outerKey) = (sc.getLocalProperty(Desc), sc.getLocalProperty(Key))
    val label = if (outer == null || outer.isEmpty) name else s"$outer › $name"
    sc.setLocalProperty(Desc, label)
    sc.setLocalProperty(Key, label)
    try f
    finally {
      sc.setLocalProperty(Desc, outer)
      sc.setLocalProperty(Key, outerKey)
    }
  }

  /** The label of a job, from its start event's properties. */
  def of(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Key)).orElse(Option(p.getProperty(Desc))))
}
