package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one generation protocol of every persisted tree: `Store`'s keyed
  * tables, `Ann`'s IVF tree, `Dedup`'s MinHash index and the streaming CDC
  * companion. A write claims a fresh `gen_NNNNNN/` dir with an exclusive
  * `_CLAIM` create ([[tryClaim]]) before any data lands, and commits it by
  * creating a `_COMMITTED` marker LAST ([[commit]]), so readers — which
  * always resolve the latest COMMITTED generation — never observe a
  * half-written layout. Numbering moves past every listed dir, committed
  * or not, so a crashed writer's stray is never reused.
  *
  * What a lost claim race does is the caller's choice. An index rebuild
  * ([[claimNextGen]]) advances to the next number: its content does not
  * depend on the generation it follows. A `Store` upsert claims exactly
  * the number after the last one it listed and FAILS when that is taken:
  * it merged the snapshot it listed, so moving on would silently drop the
  * other writer's rows. Superseded generations are dropped by [[vacuum]];
  * `keep ≥ 2` protects a reader that resolved the previous generation just
  * before a commit landed. */
object Generations {

  def genDirs(spark: SparkSession, root: String): Seq[Path] = {
    val r = new Path(root)
    val f = Partitions.fs(spark, r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen_"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Generation dir `n` under `root`. */
  private[store] def genPath(root: String, n: Int): Path = new Path(new Path(root), f"gen_$n%06d")

  /** The number one past the newest of `listed` (a [[genDirs]] result). */
  private[store] def nextNumber(listed: Seq[Path]): Int =
    listed.lastOption.map(_.getName.drop(4).toInt + 1).getOrElse(0)

  /** A generation is committed when its `_COMMITTED` marker exists. A
    * `Store` generation written before Store claimed through here carries
    * no marker: its commit was the committer's root `_SUCCESS`, and it has
    * no `_CLAIM`, so `_SUCCESS` without `_CLAIM` counts too. A claimed
    * generation whose data landed (`_SUCCESS`) but whose commit did not
    * stays uncommitted. Index, IVF and companion generations never hold a
    * root `_SUCCESS`, so for them the marker alone decides. */
  def isCommitted(spark: SparkSession, gen: Path): Boolean = {
    val f = Partitions.fs(spark, gen)
    f.exists(new Path(gen, "_COMMITTED")) ||
      (f.exists(new Path(gen, "_SUCCESS")) && !f.exists(new Path(gen, "_CLAIM")))
  }

  /** The latest COMMITTED generation — what readers resolve. Uncommitted
    * dirs (a write in flight, or a crashed one) are invisible. Probed
    * newest-first, so a committed head costs one existence RPC. */
  def latestCommitted(spark: SparkSession, root: String): Option[Path] =
    genDirs(spark, root).reverseIterator.find(isCommitted(spark, _))

  def requireCommitted(spark: SparkSession, root: String): Path =
    latestCommitted(spark, root).getOrElse(throw new java.io.FileNotFoundException(
      s"no committed generation under $root"))

  /** CLAIM generation dir `gen` with an atomic exclusive `_CLAIM` create,
    * before any data is written; false when another writer already holds
    * it. Without the claim, two writers could pick the same number and the
    * second's write would clobber the first's files BEFORE its commit
    * marker lands. Only "already exists" means taken: any other
    * IOException (permissions, quota, a network-FS hiccup) is a real
    * failure and surfaces. FileSystem.create(overwrite=false) is
    * check-then-create on the local filesystem (best-effort atomic there;
    * truly atomic on HDFS), so the race window is the create itself —
    * which still lands in the FileAlreadyExistsException arm. */
  def tryClaim(spark: SparkSession, gen: Path): Boolean = {
    val claim = new Path(gen, "_CLAIM")
    val f = Partitions.fs(spark, claim)
    try { f.create(claim, false).close(); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException if f.exists(claim) => false
    }
  }

  /** Claim the next free generation for an index rebuild: the loser of a
    * claim race simply advances to the next number. */
  def claimNextGen(spark: SparkSession, root: String): Path = {
    val first = nextNumber(genDirs(spark, root))
    // a hundred simultaneous writers means something is wrong
    (first until first + 100).iterator.map(genPath(root, _)).find(tryClaim(spark, _))
      .getOrElse(throw new java.io.IOException(
        s"claimNextGen: could not claim a generation under $root after 100 attempts"))
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

  /** What [[vacuum]] drops, oldest first: all but the newest `keep`
    * committed generations, plus any uncommitted stray older than the
    * newest committed one. Never a dir above the newest committed
    * generation: that may be a writer's in flight. */
  def superseded(spark: SparkSession, root: String, keep: Int): Seq[Path] = {
    require(keep >= 1, "keep must be >= 1")
    val all = genDirs(spark, root)
    val committed = all.filter(isCommitted(spark, _)).map(_.getName)
    if (committed.isEmpty) Nil
    else {
      val keepNames = committed.takeRight(keep).toSet
      all.filter(g => !keepNames(g.getName) && g.getName < committed.last)
    }
  }

  /** Delete generation dirs, each checked; `op` names the public call. */
  private[store] def delete(spark: SparkSession, gens: Seq[Path], op: String): Int = {
    gens.foreach(g =>
      Partitions.checked(Partitions.fs(spark, g).delete(g, true), s"$op: delete($g)"))
    gens.size
  }

  /** Drop the [[superseded]] generations. Run this from the maintenance
    * cycle only, never concurrently with a rebuild: an in-flight writer
    * that was overtaken by a faster-committing one is indistinguishable
    * from a crashed stray and would be deleted mid-write. (Readers are
    * unaffected either way — they resolve the newest COMMITTED generation,
    * which a deleted stray never becomes.) */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Int =
    delete(spark, superseded(spark, root, keep), "Generations.vacuum")
}
