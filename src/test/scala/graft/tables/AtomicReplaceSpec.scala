package graft.tables

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}

import graft.SparkSpecBase
import graft.conf.GraftSettings
import graft.lake.FsUtils

/** Local filesystem (`rfail:` scheme) whose `rename` can be switched to
  * refuse: the failure a file replace must survive without losing the
  * file it was replacing. */
class RenameRefusingFs extends RawLocalFileSystem {
  override def getScheme: String = "rfail"
  override def getUri: URI = URI.create("rfail:///")
  override def rename(src: HPath, dst: HPath): Boolean =
    !RenameRefusingFs.refuse && super.rename(src, dst)
}

object RenameRefusingFs {
  @volatile var refuse = false
}

/** Every file graft replaces in place — the properties sidecar, the
  * symlink manifest, a consumer cursor — goes through one atomic replace
  * ([[FsUtils.replaceFile]]): a refused rename keeps the old file
  * readable, leaves no temp file behind and throws naming the file. */
class AtomicReplaceSpec extends SparkSpecBase {
  import spark.implicits._

  test("a refused rename keeps the old properties, manifest and cursor readable") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rfail.impl", classOf[RenameRefusingFs].getName)
    val root = Files.createTempDirectory("graft-replace-").toString
    val path = s"rfail:$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.setProperties(Map("owner" -> "ops"))
    val listed = t.writeManifest()
    val cursor = new HPath(s"rfail:$root/cursor/version")
    FsUtils.writeLong(spark, cursor, 7L)
    t.append(Seq((2, "b")).toDF("id", "v"))

    val manifest = new HPath(s"$path/_symlink_format_manifest/manifest")
    def manifestLines(): Seq[String] = {
      val in = FsUtils.fs(spark, path).open(manifest)
      try new String(in.readAllBytes(), "UTF-8").linesIterator.toSeq
      finally in.close()
    }
    RenameRefusingFs.refuse = true
    val (props, man, cur) =
      try (
        intercept[IllegalStateException](t.setProperties(Map("owner" -> "other"))),
        intercept[IllegalStateException](t.writeManifest()),
        intercept[IllegalStateException](FsUtils.writeLong(spark, cursor, 9L)))
      finally RenameRefusingFs.refuse = false
    // the old content survives, read through a fresh handle
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.tableProperties === Map("owner" -> "ops"))
    assert(manifestLines() === listed)
    assert(FsUtils.readLong(spark, cursor) === 7L)
    assert(props.getMessage.contains("_graft_log/_properties.json"), props.getMessage)
    assert(man.getMessage.contains("_symlink_format_manifest/manifest"), man.getMessage)
    assert(cur.getMessage.contains("cursor/version"), cur.getMessage)
    // and no temp file is left beside any of them
    Seq("t/_graft_log", "t/_symlink_format_manifest", "cursor").foreach { d =>
      val tmps = new java.io.File(s"$root/$d").list().filter(_.endsWith(".tmp"))
      assert(tmps.isEmpty, s"$d: ${tmps.mkString(", ")}")
    }
    // with renames allowed again each replace lands
    t.setProperties(Map("owner" -> "other"))
    assert(fresh.tableProperties === Map("owner" -> "other"))
    assert(t.writeManifest().size === 2)
    FsUtils.writeLong(spark, cursor, 9L)
    assert(FsUtils.readLong(spark, cursor) === 9L)
  }
}
