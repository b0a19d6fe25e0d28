package graft.perfbench

import graft.cdc.{CdcPipelines, ConfluentAvroCodec, FileMessageBus}
import graft.codec.{AvroExpressions, AvroSchemaConverter, ConfluentWireFormat, InMemorySchemaRegistry}
import graft.conf.{GraftSettings, Layer}
import graft.lake.{LakePath, TableRef}
import graft.tables.GraftTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Paths
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Write-heavy medallion CDC. Each op publishes one small batch of
  * Debezium-shaped Avro change events (Zipf-skewed keys; creates, updates,
  * deletes) and runs kafkaToRaw -> rawToStaged -> stagedToCurated. In the
  * last third of the measured ops, even keys publish under a second
  * value-schema version, so those batches decode two schema-id pairs. An item is one
  * change event; op latency is freshness, publish until visible in curated.
  *
  * Small batches make per-commit and per-action fixed cost dominate. The
  * settings make compaction, vacuum and log checkpoints each recur within
  * the fixed op count. */
final class CdcWorkload(ctx: Ctx) extends Workload {
  import CdcWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private implicit val settings: GraftSettings = GraftSettings.local(ctx.lake.toString).copy(
    maxNumFilesAllowed = MaxFiles, vacuumEveryNVersions = VacuumEvery,
    vacuumRetentionHours = 0, logCheckpointInterval = CheckpointEvery,
    curatedBuckets = CuratedBuckets)

  // the first op is cold; the second still runs partly interpreted
  val warmupOps = 2
  val measuredOps: Int = math.max(4, math.round(ctx.seconds * OpsPerSecond).toInt)
  private val totalOps = warmupOps + measuredOps
  // the last third of the measured ops decode two schema-id pairs; the
  // median op stays among the one-pair ops, away from the mode boundary
  private val switchOp = warmupOps + measuredOps - measuredOps / 3

  private val curatedPath = LakePath.data(TableRef(Layer.Curated, Project, Database, Table))
  private val curatedDir = Paths.get(new java.net.URI(curatedPath))

  // ----------------------------------------------------------- generation

  private val rng = new SplittableRandom(ctx.seed)
  private val zipfCdf: Array[Double] = {
    val w = (1 to Keys).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  // rank -> key, so the hot keys are spread over the key space
  private val keyOfRank: Array[Int] = {
    val a = (0 until Keys).toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private def zipfKey(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    keyOfRank(math.min(if (i >= 0) i else -i - 1, Keys - 1))
  }

  private var rev = 0L
  private var tsMs = 1700000000000L
  private def image(id: Int, v2: Boolean): Img = {
    rev += 1
    Img(id, s"item-$id-r$rev", rng.nextInt(1000000) / 100.0,
      if (v2) Some(s"cat${rng.nextInt(8)}") else None)
  }

  /** Events per op (index 0 = the bootstrap load), and the lookup keys of
    * each read unit. */
  private val (events: Vector[Vector[Event]], lookups: Vector[Vector[Seq[Int]]]) = {
    val live = mutable.Map.empty[Int, Img]
    def event(id: Int, v2: Boolean): Event = {
      tsMs += 1
      live.get(id) match {
        case None =>
          val a = image(id, v2); live(id) = a; Event(id, "c", None, Some(a), tsMs, v2)
        case Some(b) if rng.nextDouble() < UpdateShare =>
          val a = image(id, v2); live(id) = a; Event(id, "u", Some(b), Some(a), tsMs, v2)
        case Some(b) =>
          live.remove(id); Event(id, "d", Some(b), None, tsMs, v2)
      }
    }
    val load = (0 until InitialKeys).map(k => event(keyOfRank(k), v2 = false)).toVector
    val ops = (0 until totalOps).map { i =>
      (0 until BatchEvents).map { _ =>
        val k = zipfKey()
        event(k, v2 = i >= switchOp && k % 2 == 0)
      }.toVector
    }.toVector
    val reads = ops.map { evts =>
      val touched = evts.map(_.id).distinct
      (0 until LookupsPerRead).map { j =>
        (0 until KeysPerLookup).map(m =>
          if (m % 2 == 0) touched(rng.nextInt(touched.size)) else rng.nextInt(Keys)).distinct
      }.toVector
    }
    (load +: ops, reads)
  }

  val inputBytes: Long = events.flatten.map(_.bytes).sum
  def inputDigest: String = Workload.digest(events.flatten ++ lookups.flatten)

  // -------------------------------------------------------------- pipeline

  private val bus = new FileMessageBus(ctx.lake.resolve("bus").toString)
  private val registry = new InMemorySchemaRegistry
  private val keyAvro = AvroSchemaConverter.toAvroSchema(KeySchema, "ItemKey").toString
  private val valueAvro = Map(false -> ValueSchemaV1, true -> ValueSchemaV2)
    .map { case (v2, s) => v2 -> AvroSchemaConverter.toAvroSchema(s, "ItemEnvelope").toString }
  private val keyId = registry.register(s"$Topic-key", keyAvro)
  private val valueId = valueAvro.map { case (v2, s) => v2 -> registry.register(s"$Topic-value", s) }

  /** The generator's model of curated, advanced as each op lands. */
  private val model = mutable.Map.empty[Int, Img]
  private var vacuums = 0

  private def publish(evts: Seq[Event]): Unit =
    Seq(false, true).foreach { v2 =>
      val part = evts.filter(_.v2 == v2)
      if (part.nonEmpty) {
        val img = if (v2) ImageV2 else ImageV1
        val rows = part.map { e =>
          Row(Row(e.id), Row(e.before.map(_.row(v2)).orNull, e.after.map(_.row(v2)).orNull, e.op, e.tsMs))
        }
        val df = spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("k", KeySchema, nullable = false),
          StructField("v", envelope(img), nullable = false))))
        bus.publish(spark, Topic, df.select(
          ConfluentWireFormat.frame(AvroExpressions.to_avro(col("k"), keyAvro), keyId).as("key"),
          ConfluentWireFormat.frame(AvroExpressions.to_avro(col("v"), valueAvro(v2)), valueId(v2))
            .as("value")))
      }
    }

  private def runBatch(evts: Seq[Event]): Unit = {
    tracer.span("cdc.publish")(publish(evts))
    tracer.span("cdc.kafka_to_raw")(CdcPipelines.kafkaToRaw(spark, bus, Topic, Project, Database, Table))
    tracer.span("cdc.raw_to_staged")(
      CdcPipelines.rawToStaged(spark, Project, Database, Table, ConfluentAvroCodec, registry))
    tracer.span("cdc.staged_to_curated")(CdcPipelines.stagedToCurated(spark, Project, Database, Table))
  }

  private def applyToModel(evts: Seq[Event]): Unit = evts.foreach { e =>
    e.after match {
      case Some(a) => model(e.id) = a
      case None    => model.remove(e.id)
    }
  }

  /** stagedToCurated vacuums when a batch leaves curated at a multiple of
    * `vacuumEveryNVersions`; count those batches from the log. */
  private def countVacuum(): Unit = if (curated().version % VacuumEvery == 0) vacuums += 1

  def bootstrap(): Unit = {
    runBatch(events(0))
    applyToModel(events(0))
    countVacuum()
  }

  def op(i: Int): OpOutcome = {
    val evts = events(i + 1)
    runBatch(evts)
    OpOutcome(evts.size, () => { applyToModel(evts); countVacuum() })
  }

  private def curated(): GraftTable = GraftTable(spark, curatedPath)

  /** Rows of curated as images; `category` is absent until a v2 event lands. */
  private def images(rows: Array[Row], hasCategory: Boolean): Map[Int, Img] =
    rows.map { r =>
      val id = r.getInt(0)
      id -> Img(id, r.getString(1), r.getDouble(2),
        if (hasCategory) Option(r.getString(3)) else None)
    }.toMap

  private def select(t: GraftTable, df: org.apache.spark.sql.DataFrame) = {
    val hasCategory = df.columns.contains("category")
    val cols = Seq("id", "name", "weight") ++ (if (hasCategory) Seq("category") else Nil)
    (df.select(cols.map(col): _*), hasCategory)
  }

  def readUnit(i: Int): OpOutcome = {
    val t = curated()
    val results = lookups(i).map { ks =>
      val (df, hasCategory) = select(t, t.readWhere(col("id").isin(ks: _*)))
      ks -> images(df.collect(), hasCategory)
    }
    OpOutcome(results.map(_._2.size.toLong).sum, () => results.foreach { case (ks, got) =>
      val want = ks.flatMap(k => model.get(k).map(k -> _)).toMap
      if (got != want) throw new IllegalStateException(
        s"lookup ${ks.mkString(",")} after op $i: got $got, model $want")
    })
  }

  def finalCheck(): Unit = {
    val t = curated()
    val (df, hasCategory) = select(t, t.read())
    val rows = df.collect()
    val got = images(rows, hasCategory)
    if (rows.length != got.size) throw new IllegalStateException("curated holds duplicate keys")
    if (got != model) {
      val diff = (got.keySet ++ model.keySet).filter(k => got.get(k) != model.get(k)).take(5)
      throw new IllegalStateException(
        s"curated differs from the model on ${diff.size}+ keys, e.g. " +
          diff.map(k => s"$k: ${got.get(k)} vs ${model.get(k)}").mkString("; "))
    }
  }

  def counts: Map[String, Double] = {
    val t = curated()
    Map(
      "compactions" -> t.commits().count(_.action == "compact").toDouble,
      "vacuums" -> vacuums.toDouble,
      "checkpoints" -> Lake.checkpoints(curatedDir).toDouble,
      "live_files" -> t.liveFiles().size.toDouble,
      "log_files" -> Lake.logFiles(curatedDir).toDouble,
      "live_keys" -> model.size.toDouble)
  }
}

object CdcWorkload {
  // Fixed work. Op count per measured second, calibrated on 3 task cores.
  val OpsPerSecond = 0.33
  val Keys = 4000
  val InitialKeys = 1500
  val ZipfS = 1.1
  val BatchEvents = 200
  val UpdateShare = 0.8
  val LookupsPerRead = 4
  val KeysPerLookup = 6
  // Public GraftSettings that make maintenance recur inside the run.
  val MaxFiles = 3
  val VacuumEvery = 3
  val CheckpointEvery = 3
  val CuratedBuckets = 4

  val Topic = "dbserver1.inventory.items"
  val Project = "bench"
  val Database = "inventory"
  val Table = "items"

  val KeySchema: StructType = StructType(Seq(StructField("id", IntegerType, nullable = false)))
  val ImageV1: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("weight", DoubleType, nullable = false)))
  val ImageV2: StructType = ImageV1.add(StructField("category", StringType, nullable = true))
  def envelope(img: StructType): StructType = StructType(Seq(
    StructField("before", img, nullable = true),
    StructField("after", img, nullable = true),
    StructField("op", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false)))
  val ValueSchemaV1: StructType = envelope(ImageV1)
  val ValueSchemaV2: StructType = envelope(ImageV2)

  final case class Img(id: Int, name: String, weight: Double, category: Option[String]) {
    def row(v2: Boolean): Row =
      if (v2) Row(id, name, weight, category.orNull) else Row(id, name, weight)
    def bytes: Long = 4 + name.length + 8 + category.map(_.length).getOrElse(0)
  }

  final case class Event(id: Int, op: String, before: Option[Img], after: Option[Img], tsMs: Long,
      v2: Boolean) {
    /** Raw field bytes: key, both images, op code and timestamp. */
    def bytes: Long = 4 + before.map(_.bytes).getOrElse(0L) + after.map(_.bytes).getOrElse(0L) + 1 + 8
  }
}
