package graft.tables

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.conf.GraftSettings

/** Counting local filesystem (`cfile:` scheme): every open / listStatus /
  * getFileStatus under a `_graft_log` dir is counted, so the soak can
  * measure the table's METADATA cost in actual filesystem RPCs — the
  * currency of an object store, where each is 10-50ms — instead of
  * guessing from wall time on a local disk that hides them. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "cfile"
  override def getUri: URI = URI.create("cfile:///")
  private def isLog(p: HPath): Boolean = p.toString.contains("_graft_log")
  override def open(f: HPath, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (isLog(f)) {
      CountingLocalFs.logOpens.incrementAndGet()
      val table = new HPath(f.toString.split("/_graft_log").head).toUri.getPath
      CountingLocalFs.tableOpens.computeIfAbsent(table, _ => new AtomicLong).incrementAndGet()
    }
    super.open(f, bufferSize)
  }
  override def listStatus(f: HPath): Array[org.apache.hadoop.fs.FileStatus] = {
    if (isLog(f)) CountingLocalFs.logLists.incrementAndGet()
    super.listStatus(f)
  }
  override def getFileStatus(f: HPath): org.apache.hadoop.fs.FileStatus = {
    if (isLog(f)) CountingLocalFs.logHeads.incrementAndGet()
    super.getFileStatus(f)
  }
  // RawLocalFileSystem short-circuits exists() to File.exists() without
  // getFileStatus — on an object store an existence probe IS a HEAD, so
  // count it as one (this is the listing cache's whole warm-path cost)
  override def exists(f: HPath): Boolean = {
    if (isLog(f)) CountingLocalFs.logHeads.incrementAndGet()
    super.exists(f)
  }
}

object CountingLocalFs {
  val logOpens = new AtomicLong
  val logLists = new AtomicLong
  val logHeads = new AtomicLong
  /** Log opens per table, keyed by the table root's path (no scheme). */
  val tableOpens = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  def reset(): Unit = {
    logOpens.set(0); logLists.set(0); logHeads.set(0); tableOpens.clear()
  }
  def opensOf(tableRoot: String): Long =
    Option(tableOpens.get(new HPath(tableRoot).toUri.getPath)).map(_.get).getOrElse(0L)
  def snap(): (Long, Long, Long) =
    (logOpens.get(), logLists.get(), logHeads.get())
}

/** Long-log lifecycle soak (`Test/runMain graft.tables.LogSoak
  * [LOG_SOAK_r19.json]`): drive ONE table through ~1,000 commits with
  * interleaved DML / OPTIMIZE / FSCK / vacuum / vacuumLog / checkpoints —
  * the commit-COUNT dimension the CKPT benches (file-count dimension)
  * don't rehearse — and record that steady-state metadata cost stays
  * O(checkpoint interval), not O(history):
  *
  *  - a COLD open's log reads (checkpoint + tail commits) stay bounded by
  *    the interval at v≈250 and at v≈1000 alike;
  *  - a WARM version probe costs ~1 HEAD (the listing cache's
  *    next-version existence probe), never a re-list;
  *  - the log dir's file count and bytes stay bounded after vacuumLog
  *    trims (the log never grows with table lifetime);
  *  - per-commit wall time in the last hundred commits stays within noise
  *    of the first hundred (no O(history) term hiding in the write path).
  *
  * Failures are loud asserts; the JSON artifact records the evidence. */
object LogSoak {
  private val Interval = 20 // checkpoint cadence under test
  private val Retain = 60 // vacuumLog horizon
  private val TotalAppends = 1000

  case class Measure(
      atVersion: Long,
      coldSnapshotLogOpens: Long,
      coldSnapshotLogLists: Long,
      coldReadExtraLogOpens: Long,
      warmProbeHeadsPer10: Long,
      warmProbeLogOpens: Long,
      logDirFiles: Int,
      logDirBytes: Long)

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("LOG_SOAK_r19.json")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.cfile.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft-logsoak-").toString
    val path = s"cfile:$root/t"
    val logDirLocal = Paths.get(s"$root/t/_graft_log")
    val settings = GraftSettings.default.copy(logCheckpointInterval = Interval)
    val t = GraftTable(spark, path)(settings)

    def measure(): Measure = {
      // cold open: a FRESH handle (no caches) materializing the snapshot —
      // the driver-restart / new-executor shape. O(interval): one listing,
      // one checkpoint, the tail commits after it.
      val cold = GraftTable(spark, path)(settings)
      CountingLocalFs.reset()
      cold.snapshot()
      val (snapOpens, snapLists, _) = CountingLocalFs.snap()
      // the snapshot is cached: planning a read must not re-read the log
      CountingLocalFs.reset()
      cold.read().count()
      val (readOpens, _, _) = CountingLocalFs.snap()
      // warm steady state: version probes ride the listing cache's single
      // next-version HEAD — no re-list, no re-parse
      CountingLocalFs.reset()
      (1 to 10).foreach(_ => cold.version)
      val (probeOpens, _, probeHeads) = CountingLocalFs.snap()
      val listing = Files.list(logDirLocal)
      val files =
        try listing.toArray.map(_.toString) finally listing.close()
      Measure(t.version, snapOpens, snapLists, readOpens,
        probeHeads, probeOpens,
        files.length,
        files.map(f => Files.size(Paths.get(f))).sum)
    }

    val ms = scala.collection.mutable.ListBuffer.empty[Measure]
    val blockMs = scala.collection.mutable.ListBuffer.empty[Double]
    var blockStart = System.nanoTime()
    (1 to TotalAppends).foreach { i =>
      t.append(Seq((i, s"v$i")).toDF("id", "v").repartition(1))
      if (i % 50 == 0) t.delete(col("id") === (i - 25))
      if (i % 100 == 0) {
        t.optimize()
        blockMs += (System.nanoTime() - blockStart) / 1e6 / 100.0
        blockStart = System.nanoTime()
      }
      if (i % 200 == 0) {
        val dropped = t.repair(dryRun = true)
        assert(dropped.isEmpty, s"FSCK found ghosts mid-soak: $dropped")
        // zero retention: this soak owns the table and holds no readers
        // pinned at old versions, so removed files age out immediately —
        // vacuumLog refuses (correctly) while pre-horizon files survive
        t.vacuum(retentionHours = 0.0)
        t.vacuumLog(retainVersions = Retain)
      }
      if (i % 250 == 0 || i == TotalAppends) ms += measure()
    }

    // ---- the soak's contract ----
    ms.foreach { m =>
      // cold open = 1 checkpoint + <= interval tail commits (+1 slack for
      // a twin/probe): O(interval), never O(history)
      assert(m.coldSnapshotLogOpens <= Interval + 2,
        s"cold snapshot read ${m.coldSnapshotLogOpens} log files at " +
          s"v${m.atVersion} — metadata cost is growing past the interval")
      assert(m.coldSnapshotLogLists <= 2,
        s"cold snapshot listed the log ${m.coldSnapshotLogLists}x")
      assert(m.coldReadExtraLogOpens <= 1,
        s"planning a read re-read ${m.coldReadExtraLogOpens} log files " +
          "after snapshot — the version cache is leaking")
      assert(m.warmProbeLogOpens == 0,
        s"warm version probes OPENED ${m.warmProbeLogOpens} log files")
      assert(m.warmProbeHeadsPer10 >= 1 && m.warmProbeHeadsPer10 <= 12,
        s"10 warm version probes cost ${m.warmProbeHeadsPer10} HEADs — " +
          "expected ~1 per probe (0 would mean the counter lost the " +
          "existence probe; >12 that the listing cache is re-listing)")
    }
    // the log dir is bounded by the trim horizon, not by table lifetime:
    // retained commits + checkpoint twins + sidecars
    val last = ms.last
    assert(last.logDirFiles <= Retain + 40,
      s"log dir holds ${last.logDirFiles} files after trims")
    assert(ms.map(_.logDirFiles).max <= Retain + 200 + 40,
      "log dir exceeded horizon+cadence bound between trims")
    // no O(history) term in the write path: last hundred commits within
    // noise of the first hundred (generous 3x — GC/compaction jitter)
    assert(blockMs.last <= blockMs.head * 3,
      s"per-commit cost grew from ${blockMs.head}ms to ${blockMs.last}ms")

    val json = {
      def m(x: Measure) =
        s"""{"atVersion":${x.atVersion},"coldSnapshotLogOpens":${x.coldSnapshotLogOpens},
           |"coldSnapshotLogLists":${x.coldSnapshotLogLists},
           |"coldReadExtraLogOpens":${x.coldReadExtraLogOpens},
           |"warmProbeHeadsPer10":${x.warmProbeHeadsPer10},
           |"warmProbeLogOpens":${x.warmProbeLogOpens},
           |"logDirFiles":${x.logDirFiles},"logDirBytes":${x.logDirBytes}}"""
          .stripMargin.replace("\n", "")
      s"""{"metric":"log_soak","totalAppends":$TotalAppends,
         |"finalVersion":${t.version},
         |"checkpointInterval":$Interval,"vacuumRetainVersions":$Retain,
         |"avgAppendMsPerHundred":[${blockMs.map(v => f"$v%.1f").mkString(",")}],
         |"measurements":[${ms.map(m).mkString(",")}]}"""
        .stripMargin.replace("\n", "")
    }
    Files.writeString(Paths.get(outFile), json)
    println(s"[logsoak] $json")
    spark.stop()
  }
}
