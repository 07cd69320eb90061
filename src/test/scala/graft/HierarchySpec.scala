package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Hierarchy

/** `Hierarchy.resolvePaths`, a walk over a broadcast parent map, against
  * the unrolled broadcast-join loop it replaced, kept here as the
  * reference. */
class HierarchySpec extends SparkSpec {
  import spark.implicits._

  /** The pre-walk implementation: `maxDepth` rounds of a left broadcast
    * join on `cursor = parent url`. */
  private def unrolled(categories: DataFrame, maxDepth: Int, maxLevels: Int): DataFrame = {
    val parents = categories.select(
      col("url").as("__p_url"), col("name").as("__p_name"),
      col("parent_url").as("__p_parent"))
    var cur = categories
      .withColumn("category_path", array(col("name")))
      .withColumn("__cursor", col("parent_url"))
      .withColumn("__seen", array(col("url")))
    for (_ <- 0 until maxDepth) {
      val hop = col("__p_name").isNotNull && !col("__cycle")
      cur = cur
        .join(broadcast(parents), col("__cursor") === col("__p_url"), "left")
        .withColumn("__cycle", array_contains(col("__seen"), col("__cursor")))
        .withColumn("category_path",
          when(hop, concat(array(col("__p_name")), col("category_path")))
            .otherwise(col("category_path")))
        .withColumn("__seen",
          when(hop, concat(col("__seen"), array(col("__cursor")))).otherwise(col("__seen")))
        .withColumn("__cursor", when(hop, col("__p_parent")).otherwise(lit(null)))
        .drop("__p_url", "__p_name", "__p_parent", "__cycle")
    }
    cur.drop("__cursor", "__seen")
      .withColumn("category_path", slice(col("category_path"), 1, maxLevels))
      .withColumn("level", size(col("category_path")))
  }

  /** Small random parent graphs in one frame, urls namespaced per graph:
    * cycles and self-loops (parents drawn from the same graph), orphans
    * (parents that are no node), null parents, null names, null urls, and
    * one 14-node chain — longer than the default `maxDepth` and `maxLevels`. */
  private def graphs(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val rows = for {
      g <- 0 until 24
      n = 1 + rnd.nextInt(8)
      i <- 0 until n
    } yield {
      val url = if (rnd.nextInt(20) == 0) null else s"g$g/u$i"
      val name = if (rnd.nextInt(10) == 0) null else s"N${rnd.nextInt(5)}"
      val parent = rnd.nextInt(10) match {
        case 0 | 1 => null
        case 2 => s"g$g/ghost"
        case _ => s"g$g/u${rnd.nextInt(n)}"
      }
      (url, name, parent)
    }
    val chain = (0 until 14).map(i => (s"c/u$i", s"C$i", if (i == 0) null else s"c/u${i - 1}"))
    (rows ++ chain).toDF("url", "name", "parent_url")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("resolvePaths equals the unrolled join on random graphs with cycles, orphans and nulls") {
    val cats = graphs(7).cache()
    for ((maxDepth, maxLevels) <- Seq((10, 5), (3, 2), (0, 5))) {
      val want = unrolled(cats, maxDepth, maxLevels)
      val got = Hierarchy.resolvePaths(cats, maxDepth, maxLevels)
      assert(got.schema === want.schema, s"maxDepth=$maxDepth maxLevels=$maxLevels")
      assert(rows(got) === rows(want), s"maxDepth=$maxDepth maxLevels=$maxLevels")
    }
    // the 14-node chain is cut by the depth cap, then by the level cap
    val chain = Hierarchy.resolvePaths(cats).filter(col("url") === "c/u13")
      .select("category_path", "level").as[(Seq[String], Int)].head()
    assert(chain === ((Seq("C3", "C4", "C5", "C6", "C7"), 5)))
    // non-nullable names give the same schema as the reference too
    val named = cats.withColumn("name", coalesce(col("name"), lit("?")))
    assert(Hierarchy.resolvePaths(named).schema === unrolled(named, 10, 5).schema)
    cats.unpersist()
  }

  test("resolvePaths fails loudly, naming itself, when the parent relation repeats a url") {
    val cats = Seq(("a", "A", null), ("a", "A2", null), ("b", "B", "a"))
      .toDF("url", "name", "parent_url")
    val e = intercept[Exception](Hierarchy.resolvePaths(cats).collect())
    assert(e.getMessage.contains("resolvePaths"), e.getMessage)
  }

  test("q31's and q59's parent relations have unique urls") {
    // resolvePaths now throws on a repeated url, and its output keeps one
    // row per input row, so a clean run with distinct output urls proves
    // the inputs unique at this scale
    for (q <- Seq("q31_hierarchy_paths", "q59_parent_repair")) {
      val out = SparkEntry.queries(q)(spark, sfDir).select("url").cache()
      val Row(n: Long, distinct: Long) = out.agg(count(lit(1)), countDistinct(col("url"))).head()
      assert(n > 0 && n === distinct, q)
      out.unpersist()
    }
  }
}
