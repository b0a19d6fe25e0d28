package graft.lake

import graft.conf.GraftSettings
import org.scalatest.funsuite.AnyFunSuite

class LakePathSpec extends AnyFunSuite {

  test("data path mounts layer bucket + tuple") {
    implicit val s: GraftSettings = GraftSettings()
    val ref = TableRef("raw", "proj", "db", "tbl")
    assert(LakePath.data(ref) === "file://datalake-raw/proj/db/tbl")
  }

  test("checkpoint and history live under the control bucket") {
    implicit val s: GraftSettings = GraftSettings()
    val ref = TableRef("staged", "p", "d", "t")
    assert(LakePath.checkpoint(ref) === "file://spark-control/_checkpoint/staged/p/d/t")
    assert(LakePath.history(ref) === "file://spark-control/_history/staged/p/d/t")
  }

  test("local settings root all buckets under one dir") {
    implicit val s: GraftSettings = GraftSettings.local("/tmp/lake1")
    assert(LakePath.data(TableRef("curated", "p", "d", "t"))
      === "file:///tmp/lake1/datalake-curated/p/d/t")
  }

  test("settings load from a properties file; typos rejected, defaults kept") {
    val f = java.nio.file.Files.createTempFile("graft-settings-", ".properties")
    java.nio.file.Files.writeString(f,
      """raw_bucket = my-raw
        |compact_target_bytes = 1048576
        |collect_file_stats = false
        |barrier_mode = persist
        |probe_broadcast_threshold_bytes = 1024
        |""".stripMargin)
    val s = GraftSettings.fromProperties(f.toString)
    assert(s.rawBucket === "my-raw")
    assert(s.compactTargetBytes === 1048576L)
    assert(!s.collectFileStats)
    assert(s.barrierMode === "persist")
    assert(s.probeBroadcastThresholdBytes === 1024L)
    assert(s.stagedBucket === "datalake-staged") // untouched default
    assert(s.vacuumEveryNVersions === 25)

    val bad = java.nio.file.Files.createTempFile("graft-settings-bad-", ".properties")
    java.nio.file.Files.writeString(bad, "compact_trget_bytes = 5\n")
    val e = intercept[IllegalArgumentException] {
      GraftSettings.fromProperties(bad.toString)
    }
    assert(e.getMessage.contains("compact_trget_bytes"))

    // malformed values for known keys fail at load, naming key and value
    Seq("barrier_mode = eager", "vacuum_every_n_versions = 2.5",
        "compact_target_bytes = huge", "collect_file_stats = yes").foreach { line =>
      val f2 = java.nio.file.Files.createTempFile("graft-settings-bad-", ".properties")
      java.nio.file.Files.writeString(f2, line + "\n")
      val e2 = intercept[IllegalArgumentException](GraftSettings.fromProperties(f2.toString))
      val Array(key, value) = line.split(" = ")
      assert(e2.getMessage.contains(s"'$key'") && e2.getMessage.contains(s"'$value'"),
        e2.getMessage)
    }
  }

  test("unknown layer rejected") {
    implicit val s: GraftSettings = GraftSettings()
    intercept[IllegalArgumentException] {
      LakePath.data(TableRef("gold", "p", "d", "t"))
    }
    intercept[IllegalArgumentException](TableRef("raw", "", "d", "t"))
  }
}
