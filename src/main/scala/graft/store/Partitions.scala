package graft.store

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** The filesystem steps every persisted tree shares — Store tables, the
  * streaming event tree and its `_archive`, the MinHash index, the IVF
  * layout — written once, including the parquet read of such a tree
  * ([[read]]).
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
    if (!f.exists(dir)) Nil else named(f.listStatus(dir).toSeq, key)
  }

  /** [[list]] over a listing already made: the value and path of each
    * `key=` directory among `listed`, in order. */
  def named(listed: Seq[FileStatus], key: String): Seq[(String, Path)] = {
    val prefix = key + "="
    listed.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix) -> st.getPath
    }
  }

  /** Read a parquet tree graft itself wrote (a flat directory or one
    * with `key=` partition directories) without Spark's schema-inference
    * job. A plain `spark.read.parquet(dir)` launches a Spark job on every
    * call to read the first data file's footer; a committed tree never
    * changes, so the same footer is read here on the driver instead, and
    * its `org.apache.spark.sql.parquet.row.metadata` schema — what Spark's
    * own inference returns — is handed to `spark.read.schema`. Partition
    * columns are still discovered from the paths, with their inferred
    * types. A directory without a data file, or a file without Spark's
    * schema key, takes the plain read, errors included. */
  def read(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, new Path(dir)) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** Spark's listing filter: `_` and `.` names are hidden, except `key=`
    * partition directories, and so are in-flight `._COPYING_` files. */
  private def visible(name: String): Boolean =
    !(name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_"))

  /** The first data file in path order — the file Spark's inference reads
    * — descending into partition directories in name order. */
  private def firstDataFile(f: FileSystem, dir: Path): Option[Path] = {
    val (files, dirs) = f.listStatus(dir).filter(st => visible(st.getPath.getName))
      .sortBy(_.getPath.getName).partition(_.isFile)
    files.headOption.map(_.getPath)
      .orElse(dirs.iterator.flatMap(d => firstDataFile(f, d.getPath)).nextOption())
  }

  private def footerSchema(spark: SparkSession, dir: Path): Option[StructType] = {
    val f = fs(spark, dir)
    if (!Try(f.getFileStatus(dir).isDirectory).getOrElse(false)) None
    else firstDataFile(f, dir).flatMap { file =>
      val json = footer(spark, file)(
        _.getFooter.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      Option(json).flatMap(j => Try(DataType.fromJson(j)).toOption).collect {
        case s: StructType => s
      }
    }
  }

  /** Open one parquet file's footer on the driver (no Spark job, no data
    * pages), apply `read`, close it. */
  def footer[T](spark: SparkSession, file: Path)(read: ParquetFileReader => T): T = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try read(rd) finally rd.close()
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
