package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Log-checkpoint contract: every `logCheckpointInterval` commits the
  * table persists its fully-replayed state, and CURRENT-state reads parse
  * only that checkpoint plus the commits after it — O(interval) log-file
  * opens per read instead of O(versions), while commit files stay on disk
  * so history reads (time travel, CDF, vacuum) are untouched. The "tail
  * only" tests prove the read path really uses the checkpoint by deleting
  * every commit at or below it and observing identical answers.
  */
class LogCheckpointSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-ckpt-").toString

  private val ckptSettings = GraftSettings(logCheckpointInterval = 5)

  private def logFiles(path: String, suffix: String): Seq[File] = {
    val d = new File(s"$path/_graft_log")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}" + suffix)).sortBy(_.getName).toSeq
  }

  test("detail() opens as many log files at v≈300 as at v≈20") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfile.impl", classOf[CountingLocalFs].getName)
    val interval = 20
    val path = s"cfile:${tmp()}/t"
    val settings = GraftSettings(logCheckpointInterval = interval)
    val t = GraftTable(spark, path)(settings)
    t.append(Seq((1, "a")).toDF("id", "v"))
    // metadata-only commits (no Spark job) grow the log through the
    // ordinary commit path, checkpoints included; a fresh handle then
    // measures detail() with no parse cached
    def opensAt(v: Long): Long = {
      while (t.version < v) t.unsetProperties(Seq("log_growth"))
      val cold = GraftTable(spark, path)(settings)
      CountingLocalFs.reset()
      assert(cold.detail().head().getAs[Long]("version") === v)
      CountingLocalFs.opensOf(path)
    }
    // both measurements sit at the same offset from a checkpoint
    val short = opensAt(interval - 2L)
    val long = opensAt(15L * interval - 2)
    info(s"detail() log opens at v${interval - 2}: $short; at v${15 * interval - 2}: $long")
    assert(short > 0)
    assert(long <= short + interval, s"detail() log opens grew with the log: $short vs $long")
  }

  test("checkpoints appear on cadence and reads equal an uncheckpointed twin") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    val twin = GraftTable(spark, s"$root/twin")(GraftSettings(logCheckpointInterval = 0))
    (1 to 12).foreach { i =>
      val batch = Seq((i, s"v$i")).toDF("id", "v")
      t.append(batch); twin.append(batch)
    }
    // interval 5 -> checkpoints at v5 and v10 (both kept: newest two)
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").map(_.getName.take(20).toLong)
      === Seq(5L, 10L))
    assert(logFiles(twin.path, "\\.checkpoint\\.parquet").isEmpty)
    assert(t.version === 12 && twin.version === 12)
    assert(t.read().as[(Int, String)].collect().toSet
      === twin.read().as[(Int, String)].collect().toSet)
    assert(t.liveFiles().size === twin.liveFiles().size)
    // stats survive the checkpoint: both prune to the same (selective)
    // number of files — names differ by staging UUID, counts cannot
    assert(t.prunedFiles(col("id") === 3).size
      === twin.prunedFiles(col("id") === 3).size)
    assert(t.prunedFiles(col("id") === 3).size < t.liveFiles().size)
  }

  test("current reads survive with only the post-checkpoint tail (proof of use)") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 12).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val expect = t.read().as[(Int, String)].collect().toSet
    val pruned = t.prunedFiles(col("id") === 7).toSet
    // destroy every commit at or below the newest checkpoint (v10): a
    // reader replaying the raw log could never reconstruct v1..v10 now,
    // so identical answers prove the snapshot path reads the checkpoint
    logFiles(t.path, "\\.json").filterNot(_.getName.contains("checkpoint"))
      .filter(_.getName.take(20).toLong <= 10L)
      .foreach(f => assert(f.delete()))
    assert(t.version === 12)
    assert(t.exists)
    assert(t.read().as[(Int, String)].collect().toSet === expect)
    assert(t.prunedFiles(col("id") === 7).toSet === pruned)
    assert(t.readWhere(col("id") === 7).as[(Int, String)].collect().toSet
      === Set((7, "v7")))
    // time travel ABOVE the checkpoint still works off checkpoint + tail
    assert(t.readAt(11).count() === 11)
  }

  test("rewrite commits (upsert/delete/compact) replay correctly across checkpoints") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    val twin = GraftTable(spark, s"$root/twin")(GraftSettings(logCheckpointInterval = 0))
    def both(f: GraftTable => Unit): Unit = { f(t); f(twin) }
    (1 to 4).foreach(i => both(_.append(Seq((i, s"v$i")).toDF("id", "v"))))
    both(_.upsert(Seq((2, "TWO", "u"), (99, "new", "c"), (3, "x", "d"))
      .toDF("id", "v", "op"), Seq("id"), "op"))          // v5 = checkpoint
    both(_.append(Seq((50, "fifty")).toDF("id", "v")))    // v6
    both(_.delete(col("id") === 1))                       // v7
    (1 to 3).foreach(i => both(_.append(Seq((100 + i, "t")).toDF("id", "v")))) // v8..v10 ckpt
    both(t => assert(t.compactIfNeeded(maxFiles = 2).isDefined)) // v11
    both(_.append(Seq((200, "last")).toDF("id", "v")))    // v12
    assert(t.read().as[(Int, String)].collect().toSet
      === twin.read().as[(Int, String)].collect().toSet)
    assert(t.liveFiles().size === twin.liveFiles().size)
    // restore below the newest checkpoint replays the raw log (kept forever)
    assert(t.readAt(6).as[(Int, String)].collect().toSet
      === twin.readAt(6).as[(Int, String)].collect().toSet)
    t.restore(6)
    twin.restore(6)
    assert(t.read().as[(Int, String)].collect().toSet
      === twin.read().as[(Int, String)].collect().toSet)
  }

  test("vacuumLog trims history: current reads + streaming tails survive, below-horizon reads fail LOUDLY") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 12).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v"))) // ckpts at 5, 10
    val expect = t.read().as[(Int, String)].collect().toSet

    // horizon = 10 - 2 = 8: commits 1..7 go
    val trimmed = t.vacuumLog(retainVersions = 2)
    assert(trimmed.map(_.take(20).toLong) === (1L to 7L))
    assert(logFiles(t.path, "\\.json").filterNot(_.getName.contains("checkpoint"))
      .map(_.getName.take(20).toLong) === (8L to 12L))
    // the pre-horizon checkpoint (v5) can no longer serve a complete
    // replay for any allowed version — dropped with its commits
    assert(logFiles(t.path, "\\.checkpoint\\.parquet")
      .map(_.getName.take(20).toLong) === Seq(10L))

    // CURRENT reads are untouched (replay = checkpoint 10 + tail)
    assert(t.version === 12)
    assert(t.read().as[(Int, String)].collect().toSet === expect)
    // retained PER-COMMIT history still replays (start points >= horizon-1)
    assert(t.readChanges(8).count() === 4) // commits 9..12 survive
    // snapshot time travel works at/above the oldest surviving checkpoint
    assert(t.readAt(10).count() === 10)
    assert(t.readAt(11).count() === 11)
    // a streaming tail resumed at or above the horizon keeps working
    // (startingVersion 9 replays commits 9..12 — all retained)
    val q = spark.readStream.format("graft").option("startingVersion", "9")
      .load(t.path)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/ckpt-tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$root/tail")
    q.awaitTermination()
    assert(GraftTable(spark, s"$root/tail")(ckptSettings).read().count() === 4)

    // ... but BELOW the reconstructable range every consumer fails
    // loudly, never wrongly: time travel under the surviving checkpoint,
    // CDF / streaming / incremental reads under the horizon
    assert(intercept[IllegalStateException](t.readAt(6)).getMessage.contains("trimmed"))
    assert(intercept[IllegalStateException](t.readAt(9)).getMessage.contains("trimmed"))
    assert(intercept[IllegalStateException](t.readChanges(0)).getMessage.contains("trimmed"))
    assert(intercept[IllegalStateException](t.changesByVersion(2)).getMessage.contains("trimmed"))
    assert(intercept[IllegalStateException](
      new GraftStreamSource(t, Map.empty)(ckptSettings)
        .getBatch(Some(GraftOffset(3L)), GraftOffset(12L))).getMessage.contains("trimmed"))

    // idempotent: nothing left below the horizon
    assert(t.vacuumLog(retainVersions = 2).isEmpty)
  }

  test("vacuumLog refuses to orphan un-vacuumed files, then proceeds after vacuum") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 4).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.delete(col("id") === 2) // v5 (checkpoint): v2's file leaves the live set
    (1 to 6).foreach(i => t.append(Seq((100 + i, "x")).toDF("id", "v"))) // ..v11, ckpt 10
    // the removed file still exists on disk: trimming the log would strand it
    val e = intercept[IllegalStateException](t.vacuumLog(retainVersions = 0))
    assert(e.getMessage.contains("vacuum"))
    assert(t.vacuum(retentionHours = 0).nonEmpty) // GC the removed file
    val trimmed = t.vacuumLog(retainVersions = 0)
    assert(trimmed.nonEmpty)
    assert(t.read().count() === 9) // 4 - 1 deleted + 6
  }

  test("parquet checkpoint is written on cadence and SERVES cold opens") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 12).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val expect = t.read().as[(Int, String)].collect().toSet
    val prunedCount = t.prunedFiles(col("id") === 7).size
    // a parquet checkpoint at every cadence version, and nothing else
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").map(_.getName.take(20).toLong)
      === Seq(5L, 10L))
    assert(logFiles(t.path, "\\.checkpoint\\.json").isEmpty)
    // destroy every commit at or below the newest checkpoint: a cold
    // reader that replayed the raw log could never reconstruct the state
    // now — identical answers prove the PARQUET checkpoint is the serving
    // path
    logFiles(t.path, "\\.json").filter(_.getName.take(20).toLong <= 10L)
      .foreach(f => assert(f.delete()))
    val cold = GraftTable(spark, s"$root/t")(ckptSettings) // fresh handle: no caches
    assert(cold.version === 12)
    assert(cold.read().as[(Int, String)].collect().toSet === expect)
    assert(cold.prunedFiles(col("id") === 7).size === prunedCount,
      "file stats must survive the parquet checkpoint round-trip")
    assert(cold.readWhere(col("id") === 7).as[(Int, String)].collect().toSet
      === Set((7, "v7")))
  }

  test("distributed parquet-checkpoint read (threshold 0) serves the same state") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 6).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    // force the Spark-job read path for ANY checkpoint size — the 100 TB
    // shape where executors decode the pages and the driver collects only
    // compact row values
    t.setProperties(Map("log_checkpoint_distributed_read_bytes" -> "0"))
    val cold = GraftTable(spark, s"$root/t")(ckptSettings)
    assert(cold.read().as[(Int, String)].collect().toSet
      === (1 to 6).map(i => (i, s"v$i")).toSet)
    assert(cold.prunedFiles(col("id") === 3).size < cold.liveFiles().size)
  }

  test("parquet checkpoints round-trip deletion vectors and schema") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(
      GraftSettings(logCheckpointInterval = 5).copy(deletionVectors = true))
    (1 to 4).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.delete(col("id") === 2) // v5 = checkpoint; DV binding must survive it
    logFiles(t.path, "\\.json").filter(_.getName.take(20).toLong <= 5L)
      .foreach(f => assert(f.delete()))
    val cold = GraftTable(spark, s"$root/t")(GraftSettings(logCheckpointInterval = 5))
    assert(cold.read().as[(Int, String)].collect().toSet
      === Set((1, "v1"), (3, "v3"), (4, "v4")))
  }

  test("micro-bench: cold checkpoint parse at 10k files — parquet vs JSON") {
    // the metadata-scale claim itself: synthesize a 10k-live-file state
    // (stats shaped like real ones) and time the two cold parses. Not a
    // perf ASSERTION (CI noise) — the recorded numbers live in
    // CKPT_BENCH_r15.json; this test pins the round-trip EQUALITY of the
    // two formats at scale and prints the timings for the record.
    val root = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val logDir = s"$root/_graft_log"
    fs.mkdirs(new org.apache.hadoop.fs.Path(logDir))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e6)
    }
    // 500k ≈ a 64 TB table at 128 MiB/file: the WRITE-side cost of the
    // commit-cadence checkpoint pass is the number that matters there
    // (the claim is released before this pass — LogStoreSpec pins it —
    // so it bounds commit latency, not the claim window)
    Seq(10000, 50000, 500000).foreach { n =>
      val deepEquality = n <= 50000 // bound test memory at the 500k point
      val stats = (1 to n).map { i =>
        f"part-$i%06d.parquet" -> FileStats(1000L,
          Map("id" -> ColStats(Some((i * 1000).toString), Some((i * 1000 + 999).toString), 0L),
            "v" -> ColStats(Some("a"), Some("z"), 3L)),
          bytes = Some(128L * 1024 * 1024))
      }.toMap
      val snap = LogCheckpoint(n.toLong, stats.keys.toSeq.sorted,
        Some("""{"type":"struct","fields":[]}"""), stats)
      // write both formats exactly as maybeWriteCheckpoint does — timed:
      // the parquet twin write rides the commit cadence, so its scaling
      // is a COMMIT-LATENCY question, not just a cold-open one
      val jsonPath = new org.apache.hadoop.fs.Path(logDir, s"ckpt-$n.json")
      val (_, jsonWriteMs) = time {
        val out = fs.create(jsonPath, false)
        out.write(org.json4s.jackson.Serialization.write(snap).getBytes("UTF-8"))
        out.close()
      }
      val (_, parquetWriteMs) = time {
        ParquetCheckpoint.write(fs, fs.getConf, logDir, s"ckpt-$n.parquet", snap)
      }
      println(f"[ckpt-bench-write] files=$n json_write_ms=$jsonWriteMs%.1f " +
        f"parquet_write_ms=$parquetWriteMs%.1f")
      // min of 3: first iterations carry JIT/classload noise either way
      var fromJson: LogCheckpoint = null
      var fromParquet: LogCheckpoint = null
      val jsonMs = (1 to 3).map { _ =>
        val (r, ms) = time {
          val in = fs.open(jsonPath)
          try org.json4s.jackson.JsonMethods.parse(in).extract[LogCheckpoint]
          finally in.close()
        }
        fromJson = r; ms
      }.min
      val parquetMs = (1 to 3).map { _ =>
        val (r, ms) = time {
          ParquetCheckpoint.read(spark, fs, fs.getConf,
            new org.apache.hadoop.fs.Path(logDir, s"ckpt-$n.parquet"), Long.MaxValue)
        }
        fromParquet = r; ms
      }.min
      info(f"cold parse of $n-file checkpoint: json=$jsonMs%.1f ms, parquet=$parquetMs%.1f ms")
      println(f"[ckpt-bench] files=$n json_ms=$jsonMs%.1f parquet_ms=$parquetMs%.1f " +
        f"json_bytes=${fs.getFileStatus(jsonPath).getLen} " +
        f"parquet_bytes=${fs.getFileStatus(new org.apache.hadoop.fs.Path(logDir, s"ckpt-$n.parquet")).getLen}")
      assert(fromParquet.version === fromJson.version)
      assert(fromParquet.schemaJson === fromJson.schemaJson)
      if (deepEquality) {
        assert(fromParquet.live === fromJson.live)
        assert(fromParquet.stats === fromJson.stats)
        assert(fromParquet.dvFor === fromJson.dvFor)
      } else {
        assert(fromParquet.live.size === n && fromJson.live.size === n)
        assert(fromParquet.live.head === fromJson.live.head)
        assert(fromParquet.stats(fromParquet.live.head)
          === fromJson.stats(fromJson.live.head))
      }
      // keep the tmp dir bounded across sizes
      fs.delete(jsonPath, false)
      fs.delete(new org.apache.hadoop.fs.Path(logDir, s"ckpt-$n.parquet"), false)
    }
  }

  test("no JSON checkpoint is written; a hand-laid one still serves") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(GraftSettings(logCheckpointInterval = 2))
    (1 to 4).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").map(_.getName.take(20).toLong)
      === Seq(2L, 4L))
    assert(logFiles(t.path, "\\.checkpoint\\.json").isEmpty,
      "checkpoints are parquet-only")
    // the retired knob still loads from a properties file, as a no-op
    assert(GraftSettings.withSetting(GraftSettings.default,
      "log_checkpoint_json_twin_max_files", "0") === Some(GraftSettings.default))

    // a table laid by an older writer: a JSON checkpoint at v3 and only
    // the commits after it. Nothing else can reconstruct v1..v3, so the
    // full answer proves the JSON checkpoint serves
    val old = GraftTable(spark, s"$root/old")(GraftSettings(logCheckpointInterval = 0))
    (1 to 4).foreach(i => old.append(Seq((i, s"v$i")).toDF("id", "v")))
    val snap3 = old.snapshot(3)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"${old.path}/_graft_log/${3L}%020d.checkpoint.json"),
      org.json4s.jackson.Serialization.write(snap3).getBytes("UTF-8"))
    logFiles(old.path, "\\.json").filter(_.getName.take(20).toLong <= 3L)
      .foreach(f => assert(f.delete()))
    val cold = GraftTable(spark, s"$root/old")(GraftSettings(logCheckpointInterval = 0))
    assert(cold.version === 4)
    assert(cold.read().as[(Int, String)].collect().toSet
      === (1 to 4).map(i => (i, s"v$i")).toSet)
    assert(cold.prunedFiles(col("id") === 2).size < cold.liveFiles().size,
      "file stats must survive the JSON checkpoint")
  }

  test("a hand-laid checkpoint with live files but no schemaJson is skipped") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(GraftSettings(logCheckpointInterval = 0))
    t.append(Seq((1, "v1"), (2, "v2")).toDF("id", "v"))
    t.append(Seq((3, "v3", 30L)).toDF("id", "v", "n")) // additive: n joins
    t.renameColumn("v", "label")                       // v3: metadata-only
    t.append(Seq((4, "v4", 40L)).toDF("id", "label", "n"))
    val wantSchema = t.read().schema
    val wantRows = t.read().collect().toSet
    // a checkpoint at v3 that carries the live files but no schema
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val laid = org.json4s.jackson.Serialization.write(t.snapshot(3).copy(schemaJson = None))
    assert(!laid.contains("schemaJson"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"${t.path}/_graft_log/${3L}%020d.checkpoint.json"),
      laid.getBytes("UTF-8"))

    // full log: the fold skips the checkpoint and replays every commit
    val cold = GraftTable(spark, s"$root/t")(GraftSettings(logCheckpointInterval = 0))
    assert(cold.read().schema === wantSchema)
    assert(cold.read().collect().toSet === wantRows)
    assert(cold.readAt(3).columns.toSeq === Seq("id", "label", "n"))

    // trimmed log: nothing else can reconstruct v1..v3, so the read fails
    // loudly instead of serving the schemaless checkpoint
    logFiles(t.path, "\\.json").filter(_.getName.take(20).toLong <= 3L)
      .filterNot(_.getName.contains("checkpoint")).foreach(f => assert(f.delete()))
    val trimmed = GraftTable(spark, s"$root/t")(GraftSettings(logCheckpointInterval = 0))
    val e = intercept[IllegalStateException](trimmed.read())
    assert(e.getMessage.contains("cannot reconstruct"), e.getMessage)
  }

  // the retired twin cap still loads from a properties file; whatever its
  // value, checkpoints stay parquet-only
  private def withTwinCap(s: GraftSettings, cap: String): GraftSettings =
    GraftSettings.withSetting(s, "log_checkpoint_json_twin_max_files", cap).get

  test("JSON twin is skipped past log_checkpoint_json_twin_max_files; parquet alone serves") {
    val root = tmp()
    // cap of 1: any multi-file table writes ONLY the parquet checkpoint
    val t = GraftTable(spark, s"$root/t")(
      withTwinCap(GraftSettings(logCheckpointInterval = 2), "1"))
    (1 to 4).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").nonEmpty,
      "parquet checkpoints must still write on cadence")
    assert(logFiles(t.path, "\\.checkpoint\\.json").isEmpty,
      "JSON twin must be skipped past the cap")
    // the parquet-only checkpoint serves: drop the pre-checkpoint commits
    // and the table still reads fully
    val ckptV = logFiles(t.path, "\\.checkpoint\\.parquet")
      .map(_.getName.takeWhile(_ != '.').toLong).max
    logFiles(t.path, "\\.json").filter(_.getName.takeWhile(_ != '.').toLong <= ckptV)
      .foreach(f => assert(f.delete()))
    val t2 = GraftTable(spark, s"$root/t")(GraftSettings.default)
    assert(t2.read().select("id").as[Int].collect().sorted.toSeq === (1 to 4))
  }

  test("json twin cap 0 disables the twin outright — even for an EMPTY live set") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(
      withTwinCap(GraftSettings(logCheckpointInterval = 1), "0"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    // live set goes EMPTY: `size <= 0` would sneak a twin back in here
    t.delete(col("id") === 1)
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").nonEmpty,
      "parquet checkpoints must still write on cadence")
    assert(logFiles(t.path, "\\.checkpoint\\.json").isEmpty,
      "cap 0 documents 'no JSON twin ever' — empty live set included")
    assert(t.read().count() === 0)
  }

  test("superseded checkpoints are pruned to the newest two") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(ckptSettings)
    (1 to 17).foreach(i => t.append(Seq((i, "x")).toDF("id", "v")))
    // checkpoints were written at 5, 10, 15 -> 5 pruned when 15 landed
    // (trim keeps the newest two VERSIONS)
    assert(logFiles(t.path, "\\.checkpoint\\.parquet").map(_.getName.take(20).toLong)
      === Seq(10L, 15L))
    assert(logFiles(t.path, "\\.checkpoint\\.json").isEmpty)
    // and a version between the surviving checkpoints replays 10 + tail
    assert(t.readAt(12).count() === 12)
  }
}
