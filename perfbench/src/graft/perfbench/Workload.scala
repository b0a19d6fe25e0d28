package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one op hands back: the items it completed, and the output check the
  * runner performs after the clock stops. A check throws on a wrong answer. */
final case class OpOutcome(items: Long, check: () => Unit)

/** Everything a workload gets from the runner. `lake` is this set-up's fresh
  * lake root; `seconds` scales the fixed op count. */
final case class Ctx(spark: SparkSession, lake: Path, seed: Long, seconds: Int, tracer: Tracer)

/** One benchmark workload: a fixed, seeded sequence of ops over the tables
  * it bootstraps. Ops `0 until warmupOps` run untimed in set-up; ops
  * `warmupOps until warmupOps + measuredOps` are timed. Every input is
  * generated from the seed in the constructor or in [[bootstrap]]. */
trait Workload {
  def warmupOps: Int
  def measuredOps: Int
  /** Bytes of generated input handed to graft over the whole run. */
  def inputBytes: Long
  /** A digest of every generated input, equal for equal seeds. */
  def inputDigest: String
  /** Build the tables and indexes the ops start from. */
  def bootstrap(): Unit
  def op(i: Int): OpOutcome
  /** A fixed batch of key lookups against the workload's primary table,
    * done after op `i`. Items are rows returned. */
  def readUnit(i: Int): OpOutcome
  /** The run-end output check. */
  def finalCheck(): Unit
  /** Counts of what the run did, for the detail line and for the per-layer
    * metrics (`tables.vacuums`, `ext.recall_at_k`, ...). */
  def counts: Map[String, Double]
}

object Workload {
  def digest(parts: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  val names: Seq[String] = Seq("cdc_medallion", "retrieval_serve", "corpus_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cdc_medallion"   => new CdcWorkload(ctx)
    case "retrieval_serve" => new RetrievalWorkload(ctx)
    case "corpus_ingest"   => new IngestWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** Read-only views of a lake root on the local filesystem. */
object Lake {
  private val CommitFile = "\\d{20}\\.json".r
  private val CheckpointFile = "\\d{20}\\.checkpoint\\.parquet".r

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector finally s.close()
    }

  def bytes(root: Path): Long =
    walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Bytes under `root`, split into (data, graft log) bytes. */
  def splitBytes(root: Path): (Long, Long) = {
    val files = walk(root).filter(Files.isRegularFile(_))
    val (log, data) = files.partition(_.iterator().asScala.exists(_.toString == "_graft_log"))
    (data.map(Files.size).sum, log.map(Files.size).sum)
  }

  def logDirs(root: Path): Seq[Path] =
    walk(root).filter(p => Files.isDirectory(p) && p.getFileName.toString == "_graft_log")

  private def list(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector finally s.close()
    }

  /** Every graft table under `root` (by path relative to it) and its
    * current version, read off the commit files. */
  def versions(root: Path): Map[String, Long] =
    logDirs(root).map { d =>
      root.relativize(d.getParent).toString ->
        list(d).collect { case f @ CommitFile() => f.take(20).toLong }.maxOption.getOrElse(-1L)
    }.toMap

  def commitFiles(root: Path): Long =
    logDirs(root).map(d => list(d).count(CommitFile.matches)).sum.toLong

  def logFiles(table: Path): Int = list(table.resolve("_graft_log")).size

  def checkpoints(table: Path): Int = list(table.resolve("_graft_log")).count(CheckpointFile.matches)

  def delete(root: Path): Unit =
    walk(root).reverse.foreach(Files.deleteIfExists)
}
