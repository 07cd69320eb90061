package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The filesystem steps every persisted tree shares — Store tables, the
  * streaming event tree and its `_archive`, the MinHash index, the IVF
  * layout — written once.
  *
  * Several Hadoop FileSystem implementations (object stores especially)
  * report a failed `rename`/`delete`/`mkdirs` as `false`, not as an
  * exception. An unchecked `false` leaves data where the caller believes
  * it moved, so every such boolean goes through [[checked]], and the
  * message names the public operation that issued the call. */
private[graft] object Partitions {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Throw unless a FileSystem call reported success. `what` names the
    * public operation and the call, e.g. `"vacuum: delete(<path>)"`. */
  def checked(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"$what failed (filesystem returned false)")

  /** The value and path of each `key=` partition directory directly under
    * `dir`, in listing order; empty when `dir` does not exist. */
  def list(spark: SparkSession, dir: Path, key: String): Seq[(String, Path)] = {
    val f = fs(spark, dir)
    val prefix = key + "="
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix) -> st.getPath
    }
  }

  /** Merge partition directory `src` into an EXISTING copy `dest`: move
    * each child of `src` across, drop any child `dest` already holds, then
    * delete `src`. Part-file names carry task UUIDs, so only committer
    * markers (`_SUCCESS`, its checksum) and a child an interrupted merge
    * already moved ever collide — and renaming onto an existing file
    * returns false on HDFS and S3A. `op` names the public operation. */
  def mergeInto(fs: FileSystem, src: Path, dest: Path, op: String): Unit = {
    fs.listStatus(src).foreach { child =>
      val to = new Path(dest, child.getPath.getName)
      if (fs.exists(to)) checked(fs.delete(child.getPath, true), s"$op: delete(${child.getPath})")
      else checked(fs.rename(child.getPath, to), s"$op: rename(${child.getPath} -> $to)")
    }
    checked(fs.delete(src, true), s"$op: delete($src)")
  }
}
