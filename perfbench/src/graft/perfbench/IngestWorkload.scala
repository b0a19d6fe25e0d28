package graft.perfbench

import graft.conf.GraftSettings
import graft.streaming.CorpusIngest
import graft.tables.GraftTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Text generation shared by the workloads. */
object Text {
  /** The word set and near-uniform word frequencies of the catalog's
    * `documents` fixture (its documents are 10-100 words drawn from these). */
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
}

/** Compute-heavy corpus ingest. Each op is one `CorpusIngest.ingestBatch` of
  * `DocsPerOp` seeded documents with ascending ids, shaped like the
  * catalog's documents fixture, with planted exact duplicates, near
  * duplicates and low-quality documents. An item is one document ingested.
  *
  * Its time goes to the text-metric and minhash stages; per-batch commits
  * are a small share, so it shows whether commit-path or widen changes cost
  * compute-bound work. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private implicit val settings: GraftSettings = GraftSettings.local(ctx.lake.toString)

  // the first op is cold; the second still runs partly interpreted
  val warmupOps = 2
  val measuredOps: Int = math.max(4, math.round(ctx.seconds * OpsPerSecond).toInt)
  private val totalOps = warmupOps + measuredOps

  // ----------------------------------------------------------- generation

  private val rng = new java.util.Random(ctx.seed)
  private def words(n: Int): Seq[String] = Seq.fill(n)(Text.Vocab(rng.nextInt(Text.Vocab.size)))

  /** Every document in id order; `kind` says what was planted. */
  private val docs: Vector[Doc] = {
    val originals = mutable.ArrayBuffer.empty[Doc]
    (0L until totalOps.toLong * DocsPerOp).map { id =>
      val r = rng.nextDouble()
      val d =
        if (r < ExactDupShare && originals.nonEmpty)
          Doc(id, originals(rng.nextInt(originals.size)).text, ExactDup)
        else if (r < ExactDupShare + NearDupShare && originals.nonEmpty) {
          val w = originals(rng.nextInt(originals.size)).text.split(' ')
          (0 until NearDupEdits).foreach(_ => w(rng.nextInt(w.length)) = Text.Vocab(rng.nextInt(Text.Vocab.size)))
          Doc(id, w.mkString(" "), NearDup)
        } else if (r < ExactDupShare + NearDupShare + LowQualityShare) {
          if (rng.nextBoolean()) Doc(id, Seq.fill(20)(f"${rng.nextInt(10000)}%04d").mkString(" "), LowQuality)
          else Doc(id, words(3).mkString(" "), LowQuality)
        } else {
          val o = Doc(id, words(MinWords + rng.nextInt(MaxWords - MinWords + 1)).mkString(" "), Normal)
          originals += o
          o
        }
      d
    }.toVector
  }
  private def batch(i: Int): Vector[Doc] = docs.slice(i * DocsPerOp, (i + 1) * DocsPerOp)
  private val lookups: Vector[Vector[Seq[Long]]] = (0 until totalOps).map(i =>
    (0 until LookupsPerRead).map(_ =>
      Seq.fill(KeysPerLookup)(rng.nextInt((i + 1) * DocsPerOp).toLong).distinct).toVector).toVector

  val inputBytes: Long = docs.map(8L + _.text.length).sum
  def inputDigest: String = Workload.digest(docs ++ lookups.flatten)

  private val ingest = new CorpusIngest(spark, ctx.lake.resolve("ingest").toString)
  private val corpusPath = ctx.lake.resolve("ingest").resolve("corpus").toString

  def bootstrap(): Unit = ()

  private var planted = 0L
  private var plantedDropped = 0L
  private var input = 0L
  private var kept = 0L

  private def corpusRows(pred: org.apache.spark.sql.Column): Array[(Long, String)] =
    GraftTable(spark, corpusPath).readWhere(pred).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  /** Survivors must be input documents, unchanged, never a planted exact
    * duplicate or a low-quality document. */
  private def checkRows(rows: Seq[(Long, String)], what: String): Unit = {
    if (rows.map(_._1).distinct.size != rows.size)
      throw new IllegalStateException(s"$what: duplicate doc ids in the corpus")
    rows.foreach { case (id, text) =>
      val d = if (id >= 0 && id < docs.size) Some(docs(id.toInt)) else None
      if (!d.exists(_.text == text))
        throw new IllegalStateException(s"$what: doc $id is not an input document")
      if (d.get.kind == ExactDup || d.get.kind == LowQuality)
        throw new IllegalStateException(s"$what: planted ${d.get.kind} doc $id survived")
    }
  }

  def op(i: Int): OpOutcome = {
    val b = batch(i)
    val df = spark.createDataFrame(b.map(d => Row(d.id, d.text)).asJava, DocSchema)
    tracer.span("streaming.ingest_batch")(ingest.ingestBatch(df, s"batch-$i"))
    OpOutcome(b.size, () => {
      val rows = corpusRows(col("doc_id") >= b.head.id && col("doc_id") <= b.last.id)
      checkRows(rows, s"batch $i")
      val ids = rows.map(_._1).toSet
      val dups = b.filter(d => d.kind == ExactDup || d.kind == NearDup)
      if (i >= warmupOps) {
        planted += dups.size
        plantedDropped += dups.count(d => !ids(d.id))
        input += b.size
        kept += rows.length
      }
    })
  }

  def readUnit(i: Int): OpOutcome = {
    val results = lookups(i).map(ks => corpusRows(col("doc_id").isin(ks: _*)).toSeq)
    OpOutcome(results.map(_.size.toLong).sum, () => results.foreach(checkRows(_, s"lookup after op $i")))
  }

  def finalCheck(): Unit = {
    val rows = corpusRows(org.apache.spark.sql.functions.lit(true))
    checkRows(rows.toSeq, "final corpus")
    val exact = docs.filter(_.kind == ExactDup).map(_.id).toSet
    if (rows.exists(r => exact(r._1))) throw new IllegalStateException("a planted exact duplicate survived")
  }

  def counts: Map[String, Double] = {
    val t = GraftTable(spark, corpusPath)
    Map(
      "dups_caught_share" -> (if (planted > 0) plantedDropped.toDouble / planted else 0.0),
      "survivor_share" -> (if (input > 0) kept.toDouble / input else 0.0),
      "compactions" -> t.commits().count(_.action == "compact").toDouble,
      "checkpoints" -> Lake.checkpoints(Paths.get(corpusPath)).toDouble,
      "live_files" -> t.liveFiles().size.toDouble,
      "log_files" -> Lake.logFiles(Paths.get(corpusPath)).toDouble)
  }
}

object IngestWorkload {
  // Fixed work. Op count per measured second, calibrated on 3 task cores.
  val OpsPerSecond = 0.33
  val DocsPerOp = 2000
  val MinWords = 10
  val MaxWords = 100
  val ExactDupShare = 0.05
  val NearDupShare = 0.05
  val NearDupEdits = 2
  val LowQualityShare = 0.05
  val LookupsPerRead = 4
  val KeysPerLookup = 6

  sealed trait Kind
  case object Normal extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind
  case object LowQuality extends Kind
  final case class Doc(id: Long, text: String, kind: Kind)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
}
