package graft

import org.apache.spark.sql.SparkSession

/** Fixed-size I/O window canary for [[Bench]]: write a pinned
  * ~70 MB parquet table (2M rows, an incompressible md5 payload), read it
  * back through one shuffle aggregate, report the seconds. The CPU canary
  * gives a unit of "this host's CPU second"; this gives the dimension
  * three rounds of drift adjudication could not see — co-tenant I/O churn
  * taxes parquet scan + shuffle work while the CPU canary (and often
  * loadavg) measure clean. The r15 whole-bench A/B campaign proved this
  * reading — not loadavg, not the write delta, not the CPU canary — is
  * the variable that tracks bench totals (docs/BENCH_NOTES_r15.md Part 2),
  * and the r16 320k-doc scaling-leg scare (112 s vs a same-window 54 s,
  * adjudicated only by a nine-leg hand-interleaved rerun; docs/SCALE.md
  * "Probe window instrumentation (r17)") is why every measured window
  * records its own reading: it is adjudicable from its own output line,
  * no rerun campaign.
  *
  * The workload is pinned (row count, partitioning, payload) and callers
  * run it OUTSIDE every measured window — after a bench pass's closing
  * env snapshot — so its own ~140k written
  * sectors never contaminate a measured write-delta.
  *
  * Isolation against the page cache (r15 advice): the canary writes under
  * the REPO's `target/` — explicitly disk-backed — never
  * `java.io.tmpdir`, which on some hosts is tmpfs and would bypass block
  * devices entirely (override: `-Dgraft.bench.io_canary_dir=` /
  * `GRAFT_BENCH_IO_CANARY_DIR`). After cleanup a best-effort `sync`
  * flushes the canary's deferred writeback BEFORE the caller's next
  * opening diskstats snapshot (the canary's ~140k dirty sectors would
  * otherwise land inside that window, whose pass-2 bench threshold is
  * only 250k), and the canary's own post-sync sector delta is returned so
  * a reading can be adjudicated against what it actually pushed to disk.
  * The sync's wait is BOUNDED (r16 advice): a system-wide sync flushes
  * every dirty page host-wide — under exactly the co-tenant storm the
  * canary detects, an unbounded waitFor could stall the caller
  * indefinitely; on expiry the process is killed and a line logged (the
  * unflushed sectors then show in the caller's next write-delta, which
  * the env flags adjudicate as the contamination it is). */
private[graft] object IoCanary {

  /** One machine-environment snapshot: the 3 loadavg fields plus total
    * sectors read/written summed over physical block devices (loop/ram
    * excluded). Deltas across a window make environmental contamination —
    * a co-tenant I/O storm inflating scan-heavy queries while CPU-bound
    * ones measure clean — adjudicable from the artifact alone, with no
    * re-run (needed in rounds 3, 4 and 5). */
  def envSnapshot(): (String, Long, Long) = {
    def slurp(p: String): String =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      catch { case _: Throwable => "" }
    val load = slurp("/proc/loadavg").trim.split("\\s+").take(3).mkString(" ")
    var rd = 0L; var wr = 0L
    slurp("/proc/diskstats").split("\n").foreach { line =>
      val t = line.trim.split("\\s+")
      // fields: major minor name reads .. sectors_read(6) .. sectors_written(10)
      // partitions double-count their parent device, but the sum is taken
      // identically before and after, so the DELTA stays a proportional
      // I/O-pressure signal — good enough to adjudicate a window
      if (t.length > 10 && !t(2).startsWith("loop") && !t(2).startsWith("ram")) {
        rd += t(5).toLong; wr += t(9).toLong
      }
    }
    (load, rd, wr)
  }

  /** One canary reading: (seconds, post-sync sector delta). One rep per
    * call — unlike the JIT-sensitive CPU loop there is no warmup cliff,
    * and the per-window sample IS the signal (a storm that hits pass 2
    * should show in pass 2's number). */
  def sample(spark: SparkSession): (Double, Long) = {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Paths.get(sys.props.get("graft.bench.io_canary_dir")
      .orElse(sys.env.get("GRAFT_BENCH_IO_CANARY_DIR"))
      .getOrElse("target/io_canary"))
    java.nio.file.Files.createDirectories(base)
    val dir = java.nio.file.Files.createTempDirectory(base, "rep")
    val (_, _, wr0) = envSnapshot()
    val sec =
      try {
        val t = dir.resolve("t").toString
        val t0 = System.nanoTime()
        spark.range(0L, 2000000L, 1L, 8)
          .select(col("id"), pmod(col("id"), lit(9973L)).as("k"),
            md5(col("id").cast("string")).as("payload"))
          .write.mode("overwrite").parquet(t)
        val n = spark.read.parquet(t).groupBy("k").agg(count(lit(1)).as("c")).count()
        val s = (System.nanoTime() - t0) / 1e9
        if (n != 9973L) System.err.println(s"[io-canary] unexpected key count: $n")
        s
      } finally {
        scala.util.Using(java.nio.file.Files.walk(dir)) { stream =>
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.toSeq.reverse.foreach(p =>
            try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
        }
        try {
          val p = new ProcessBuilder("sync").start()
          if (!p.waitFor(15, java.util.concurrent.TimeUnit.SECONDS)) {
            p.destroyForcibly()
            System.err.println("[io-canary] sync exceeded 15s (storm-grade " +
              "writeback); killed — unflushed sectors will surface in the " +
              "next window's write delta")
          }
        } catch { case _: Throwable => () }
      }
    val (_, _, wr1) = envSnapshot()
    (sec, wr1 - wr0)
  }
}
