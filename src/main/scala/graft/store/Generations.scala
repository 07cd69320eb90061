package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared generation-directory machinery for persisted index layouts
  * (`Ann`'s IVF tree, `Dedup`'s MinHash index): each rebuild or online
  * compaction writes a fresh `gen_NNNNNN/` dir and commits it by creating
  * a `_COMMITTED` marker LAST, so readers — which always resolve the
  * latest COMMITTED generation — never observe a half-written layout.
  * The marker create is exclusive (no overwrite): two racing writers that
  * picked the same number fail loudly instead of interleaving. Superseded
  * generations are dropped by [[vacuum]]; `keep ≥ 2` protects a reader
  * that resolved the previous generation just before a commit landed. */
object Generations {

  def genDirs(spark: SparkSession, root: String): Seq[Path] = {
    val r = new Path(root)
    val f = Partitions.fs(spark, r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen_"))
      .map(_.getPath).sortBy(_.getName)
  }

  def isCommitted(spark: SparkSession, gen: Path): Boolean =
    Partitions.fs(spark, gen).exists(new Path(gen, "_COMMITTED"))

  /** The latest COMMITTED generation — what readers resolve. Uncommitted
    * dirs (a write in flight, or a crashed one) are invisible. Probed
    * newest-first, so a committed head costs one existence RPC. */
  def latestCommitted(spark: SparkSession, root: String): Option[Path] =
    genDirs(spark, root).reverseIterator.find(isCommitted(spark, _))

  def requireCommitted(spark: SparkSession, root: String): Path =
    latestCommitted(spark, root).getOrElse(throw new java.io.FileNotFoundException(
      s"no committed generation under $root"))

  /** CLAIM the next generation path with an atomic exclusive `_CLAIM`
    * create before any data is written. Without the claim, two concurrent
    * writers could pick the same number and the second's
    * `mode("overwrite")` write would clobber the first's files BEFORE its
    * commit marker lands — corrupting a generation that then commits as
    * if whole. With it, the loser of the create race simply advances to
    * the next number. Numbering moves past every existing dir, committed
    * or not, so a crashed writer's stray is never reused. */
  def claimNextGen(spark: SparkSession, root: String): Path = {
    var n = genDirs(spark, root).lastOption
      .map(_.getName.drop(4).toInt + 1).getOrElse(0)
    val limit = n + 100 // a hundred simultaneous writers means something is wrong
    while (n < limit) {
      val gen = new Path(new Path(root), f"gen_$n%06d")
      val claim = new Path(gen, "_CLAIM")
      val f = Partitions.fs(spark, gen)
      // Only "this number is already claimed" advances to the next number.
      // Any other IOException (permissions, quota, a network-FS hiccup) is a
      // real failure and must surface — swallowing it would silently skip
      // generation numbers or spin to the misleading could-not-claim error.
      // FileSystem.create(overwrite=false) is check-then-create on the local
      // filesystem (best-effort atomic there; truly atomic on HDFS), so the
      // race window is the create itself — which still lands in the
      // FileAlreadyExistsException arm.
      try {
        f.create(claim, false).close()
        return gen
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => n += 1
        case _: java.nio.file.FileAlreadyExistsException => n += 1
        case _: java.io.IOException if f.exists(claim) => n += 1
      }
    }
    throw new java.io.IOException(
      s"claimNextGen: could not claim a generation under $root after 100 attempts")
  }

  /** Commit a generation: exclusive `_COMMITTED` create, done LAST. The
    * marker carries a random token naming this one commit, so [[memo]]
    * can tell two generations apart that share a path and a marker mtime
    * (a tree wiped and rebuilt within the filesystem's mtime resolution). */
  def commit(spark: SparkSession, gen: Path): Unit = {
    val out = Partitions.fs(spark, gen).create(new Path(gen, "_COMMITTED"), false)
    try out.write(java.util.UUID.randomUUID().toString.getBytes(UTF_8))
    finally out.close()
  }

  private val TokenLength = 36 // a UUID's canonical string form

  /** The commit token in `gen`'s `_COMMITTED` marker. None when the marker
    * is absent (uncommitted), empty (a layout committed before markers
    * carried tokens), or still being written by [[commit]]. */
  private def commitToken(spark: SparkSession, gen: Path): Option[String] = {
    val marker = new Path(gen, "_COMMITTED")
    scala.util.Try {
      val in = Partitions.fs(spark, marker).open(marker)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }.toOption.filter(_.length == TokenLength)
  }

  /** A thread-safe map that drops its least recently used entry once it
    * holds more than `cap`. */
  private[store] def boundedLru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > cap
      })

  // 256 bounds the largest values held here, IVF centroid matrices
  private val memoMap = boundedLru[(String, String, String), Any](256)

  /** Memoize `load`, a result derived from `gen`'s immutable contents, for
    * the lifetime of that one committed generation. `what` names the
    * result, so several can be cached per generation. Whatever an append
    * mutates (id manifests, delta tiers, tombstones) must NOT be loaded
    * through here. The key is (gen path, commit token, what): a tree
    * wiped and rebuilt at the same path commits a new token, so a stale
    * hit is impossible. A generation without a token — uncommitted, or
    * committed before markers carried one — is loaded fresh every time
    * and never cached. */
  def memo[V](spark: SparkSession, gen: Path, what: String)(load: => V): V =
    commitToken(spark, gen).fold(load) { token =>
      val key = (gen.toString, token, what)
      Option(memoMap.get(key)).getOrElse {
        val v = load
        memoMap.put(key, v)
        v
      }.asInstanceOf[V]
    }

  /** Drop all but the newest `keep` committed generations, plus any
    * uncommitted strays older than the newest committed one. Run this from
    * the maintenance cycle only, never concurrently with a rebuild: an
    * in-flight writer that was overtaken by a faster-committing one is
    * indistinguishable from a crashed stray and would be deleted mid-write.
    * (Readers are unaffected either way — they resolve the newest
    * COMMITTED generation, which a deleted stray never becomes.) */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Int = {
    require(keep >= 1, "keep must be >= 1")
    val committed = genDirs(spark, root).filter(isCommitted(spark, _))
    if (committed.isEmpty) return 0
    val keepNames = committed.takeRight(keep).map(_.getName).toSet
    val newest = committed.last.getName
    val drop = genDirs(spark, root).filter(g =>
      !keepNames(g.getName) && g.getName < newest)
    drop.foreach(g => Partitions.checked(
      Partitions.fs(spark, g).delete(g, true), s"Generations.vacuum: delete($g)"))
    drop.size
  }
}
