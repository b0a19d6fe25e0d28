package graft.cdc

import graft.SparkSpecBase
import graft.codec.{AvroExpressions, AvroSchemaConverter, ConfluentWireFormat, InMemorySchemaRegistry}
import graft.conf.{GraftSettings, Layer}
import graft.lake.{LakePath, TableRef}
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** End-to-end medallion test: Debezium-shaped envelopes -> FileMessageBus ->
  * kafka_to_raw -> raw_to_staged (Confluent-Avro decode) -> staged_to_curated
  * (CDC apply) -> dataframe_to_kafka reverse path. The local-fs re-creation
  * of the reference's lab (SURVEY.md §5).
  */
object CdcPipelineSpec {
  case class Img(id: Int, name: String, weight: Double)
  case class Key(id: Int)
  case class Envelope(before: Option[Img], after: Option[Img], op: String, ts_ms: Long)
  case class Msg(k: Key, v: Envelope)
  // evolved (v2) envelope: `color` added mid-stream
  case class ImgV2(id: Int, name: String, weight: Double, color: String)
  case class EnvV2(before: Option[ImgV2], after: Option[ImgV2], op: String, ts_ms: Long)
  case class MsgV2(k: Key, v: EnvV2)
}

class CdcPipelineSpec extends SparkSpecBase {
  import spark.implicits._
  import CdcPipelineSpec._

  private val root = Files.createTempDirectory("graft-cdc-").toString
  private implicit val settings: GraftSettings = GraftSettings.local(root)
  private val bus = new FileMessageBus(s"$root/bus")
  private val registry = new InMemorySchemaRegistry
  private val topic = "dbserver1.inventory.products"
  private val (project, database, table) = ("lakehouse", "inventory", "products")

  private def publishEnvelopes(msgs: Seq[Msg], to: String = topic): Unit = {
    val df = msgs.toDS().toDF()
    val keyType = df.schema("k").dataType.asInstanceOf[StructType]
    val valueType = df.schema("v").dataType.asInstanceOf[StructType]
    val keySchema = AvroSchemaConverter.toAvroSchema(keyType, "ProductKey")
    val valueSchema = AvroSchemaConverter.toAvroSchema(valueType, "ProductEnvelope")
    val keyId = registry.register(s"$to-key", keySchema.toString)
    val valueId = registry.register(s"$to-value", valueSchema.toString)
    bus.publish(spark, to, df.select(
      ConfluentWireFormat.frame(
        AvroExpressions.to_avro(col("k"), keySchema.toString), keyId).as("key"),
      ConfluentWireFormat.frame(
        AvroExpressions.to_avro(col("v"), valueSchema.toString), valueId).as("value")))
  }

  private def runAllStages(): Unit = {
    CdcPipelines.kafkaToRaw(spark, bus, topic, project, database, table)
    CdcPipelines.rawToStaged(spark, project, database, table, ConfluentAvroCodec, registry)
    CdcPipelines.stagedToCurated(spark, project, database, table)
  }

  // Spark jobs of one stagedToCurated run over a one-pair update batch on
  // a bucketed curated table (see the job-budget test)
  private val CdcJobBudget = 10

  private def curated: GraftTable =
    GraftTable(spark, LakePath.data(TableRef(Layer.Curated, project, database, table)))

  test("full medallion flow applies CDC operations") {
    publishEnvelopes(Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L)),
      Msg(Key(2), Envelope(None, Some(Img(2, "gadget", 2.5)), "c", 1001L)),
      Msg(Key(3), Envelope(None, Some(Img(3, "doodad", 3.5)), "c", 1002L))))
    publishEnvelopes(Seq(
      Msg(Key(2), Envelope(Some(Img(2, "gadget", 2.5)), Some(Img(2, "gadget-v2", 2.7)), "u", 2000L)),
      Msg(Key(3), Envelope(Some(Img(3, "doodad", 3.5)), None, "d", 2001L))))

    runAllStages()

    // raw: verbatim frames
    val raw = spark.read.parquet(LakePath.data(TableRef(Layer.Raw, project, database, table)))
    assert(raw.count() === 5)
    assert(raw.columns.toSet === Set("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))

    // staged: decoded envelopes + schema ids
    val staged = GraftTable(spark, LakePath.data(TableRef(Layer.Staged, project, database, table))).read()
    assert(staged.count() === 5)
    assert(staged.select("value.op").as[String].collect().sorted.toSeq === Seq("c", "c", "c", "d", "u"))
    assert(staged.select("keySchemaId").distinct().as[Int].head() > 0)

    // curated: current state — id1 unchanged, id2 updated, id3 deleted
    val state = curated.read().select("id", "name", "weight", "op")
      .as[(Int, String, Double, String)].collect().toSet
    assert(state === Set((1, "widget", 1.5, "c"), (2, "gadget-v2", 2.7, "u")))
  }

  test("incremental: new inserts flow through without reprocessing") {
    val stagedBefore = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, table))).read().count()
    publishEnvelopes(Seq(
      Msg(Key(4), Envelope(None, Some(Img(4, "gizmo", 4.5)), "c", 3000L))))
    runAllStages()
    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, table))).read()
    assert(staged.count() === stagedBefore + 1)
    val ids = curated.read().select("id").as[Int].collect().toSet
    assert(ids === Set(1, 2, 4))
    // history table recorded each curated commit batch
    val hist = GraftTable(spark, LakePath.history(TableRef(Layer.Curated, project, database, table)))
    assert(hist.read().count() >= 2)
  }

  test("compaction batch appends two history rows with patched numFiles") {
    // dedicated table whose every batch compacts (maxNumFilesAllowed = 0),
    // reproducing the reference's need_compact branch (cdc.py:228-243):
    // history gets the last TWO versions, numFiles patched to the
    // post-compaction count on the compaction row and the pre-compaction
    // count on the data row. Unbucketed: a bucketed table holding one file
    // per bucket is never compacted
    val table2 = "products_compact"
    val topic2 = "dbserver1.inventory.products_compact"
    implicit val settings: GraftSettings =
      GraftSettings.local(root).copy(maxNumFilesAllowed = 0, curatedBuckets = 0)
    publishEnvelopes(Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L)),
      Msg(Key(2), Envelope(None, Some(Img(2, "gadget", 2.5)), "c", 1001L))), topic2)
    CdcPipelines.kafkaToRaw(spark, bus, topic2, project, database, table2)
    CdcPipelines.rawToStaged(spark, project, database, table2, ConfluentAvroCodec, registry)
    CdcPipelines.stagedToCurated(spark, project, database, table2)

    val cur = GraftTable(spark, LakePath.data(TableRef(Layer.Curated, project, database, table2)))
    val compact = cur.commits().filter(_.action == "compact").last
    val preCount = compact.metrics("numRemovedFiles").toLong
    val postCount = compact.metrics("numOutputFiles").toLong
    val hist = GraftTable(spark, LakePath.history(TableRef(Layer.Curated, project, database, table2)))
    val rows = hist.read().select("version", "operation", "numFiles")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.length === 2, s"compaction batch must append two rows: ${rows.toSeq}")
    assert(rows.last === ((compact.version, "compact", postCount)))
    assert(rows.head._3 === preCount, s"data row must carry the pre-compaction count: ${rows.toSeq}")
  }

  test("stagedToCurated of a one-pair batch on a bucketed table stays in its job budget") {
    // every Spark job the CDC hop schedules is fixed cost at small batch
    // sizes: a re-added emptiness probe, orderBy sampling job, footer
    // mergeSchema read or futile compaction each push the count over.
    // maxNumFilesAllowed = 0 would compact every batch, but with one file
    // per bucket a compaction cannot lower the file count and is skipped
    val table3 = "products_jobs"
    val topic3 = "dbserver1.inventory.products_jobs"
    implicit val settings: GraftSettings =
      GraftSettings.local(root).copy(maxNumFilesAllowed = 0, curatedBuckets = 4)
    def toStaged(): Unit = {
      CdcPipelines.kafkaToRaw(spark, bus, topic3, project, database, table3)
      CdcPipelines.rawToStaged(spark, project, database, table3, ConfluentAvroCodec, registry)
    }
    publishEnvelopes(Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L)),
      Msg(Key(2), Envelope(None, Some(Img(2, "gadget", 2.5)), "c", 1001L)),
      Msg(Key(3), Envelope(None, Some(Img(3, "doodad", 3.5)), "c", 1002L))), topic3)
    toStaged()
    CdcPipelines.stagedToCurated(spark, project, database, table3)
    publishEnvelopes(Seq(
      Msg(Key(2), Envelope(Some(Img(2, "gadget", 2.5)), Some(Img(2, "gadget-v2", 2.7)), "u", 2000L)),
      Msg(Key(3), Envelope(Some(Img(3, "doodad", 3.5)), None, "d", 2001L))), topic3)
    toStaged()

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // drain first: jobs of the stages above must not land in the count
    org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      CdcPipelines.stagedToCurated(spark, project, database, table3)
      org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)

    val cur = GraftTable(spark, LakePath.data(TableRef(Layer.Curated, project, database, table3)))
    assert(cur.read().select("id", "name").as[(Int, String)].collect().toSet
      === Set((1, "widget"), (2, "gadget-v2")))
    assert(!cur.commits().exists(_.action == "compact"),
      "one file per bucket: compaction cannot lower the file count")
    info(s"stagedToCurated ran ${jobs.get()} Spark jobs")
    assert(jobs.get() <= CdcJobBudget,
      s"stagedToCurated ran ${jobs.get()} Spark jobs, budget $CdcJobBudget")
  }

  test("reverse path: curated -> framed kafka records -> decodable") {
    val out = "outbound.products"
    CdcPipelines.dataframeToKafka(spark, curated.read().select("id", "name", "weight"),
      out, keyColumns = Seq("id"), registry, bus)
    val frames = bus.readBatch(spark, out)
    assert(frames.count() === 3)
    val keyId = frames.select(ConfluentWireFormat.schemaId(col("key"))).distinct().as[Int].head()
    val valueId = frames.select(ConfluentWireFormat.schemaId(col("value"))).distinct().as[Int].head()
    val decoded = frames.select(
      AvroExpressions.from_avro(ConfluentWireFormat.avroPayload(col("key")),
        registry.getById(keyId).get.schema).as("k"),
      AvroExpressions.from_avro(ConfluentWireFormat.avroPayload(col("value")),
        registry.getById(valueId).get.schema).as("v"))
      .select(col("k.id"), col("v.name"))
    assert(decoded.as[(Int, String)].collect().toSet ===
      Set((1, "widget"), (2, "gadget-v2"), (4, "gizmo")))
  }

  test("reverse path: protobuf contentType registers .proto and frames proto3") {
    val out = "outbound.products.pb"
    CdcPipelines.dataframeToKafka(spark, curated.read().select("id", "name", "weight"),
      out, keyColumns = Seq("id"), registry, bus, contentType = "protobuf")
    val frames = bus.readBatch(spark, out)
    assert(frames.count() === 3)
    val keyId = frames.select(ConfluentWireFormat.schemaId(col("key"))).distinct().as[Int].head()
    val valueId = frames.select(ConfluentWireFormat.schemaId(col("value"))).distinct().as[Int].head()
    assert(registry.getById(valueId).get.schemaType === "PROTOBUF")
    val decoded = frames.select(
      graft.codec.ProtobufExpressions.from_protobuf(
        ConfluentWireFormat.protoPayload(col("key")),
        registry.getById(keyId).get.schema).as("k"),
      graft.codec.ProtobufExpressions.from_protobuf(
        ConfluentWireFormat.protoPayload(col("value")),
        registry.getById(valueId).get.schema).as("v"))
      .select(col("k.id"), col("v.name"))
    assert(decoded.as[(Int, String)].collect().toSet ===
      Set((1, "widget"), (2, "gadget-v2"), (4, "gizmo")))
  }

  test("kafkaToRaw caller options reach the source (rate cap -> multiple batches)") {
    val topic = "dbserver1.inventory.ratecap"
    val tbl = "ratecap"
    // 4 single-file publishes = 4 source files
    (1 to 4).foreach { i =>
      bus.publish(spark, topic,
        Seq((s"k$i".getBytes, s"v$i".getBytes)).toDF("key", "value").coalesce(1))
    }
    CdcPipelines.kafkaToRaw(spark, bus, topic, project, database, tbl,
      options = Map("maxFilesPerTrigger" -> "1"))
    val rawRef = TableRef(Layer.Raw, project, database, tbl)
    val raw = spark.read.parquet(LakePath.data(rawRef))
    assert(raw.count() === 4)
    // AvailableNow + cap 1 => one sink commit per source file
    val commits = new java.io.File(
      java.net.URI.create(LakePath.data(rawRef) + "/_spark_metadata").getPath)
      .listFiles().count(f => f.getName.matches("\\d+"))
    assert(commits >= 4, s"expected >=4 micro-batch commits, saw $commits")
  }

  test("fresh topics read as empty, batch and streaming") {
    assert(bus.readBatch(spark, "never.published").count() === 0)
    val q = bus.readStream(spark, "never.published.stream")
      .writeStream.format("memory").queryName("fresh_topic_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-fresh-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("fresh_topic_out").count() === 0)
  }

  test("tombstones (null value) are dropped, not crashed on") {
    val tTopic = "dbserver1.inventory.products_ts"
    val tTable = "products_ts"
    // one real envelope + one tombstone in the same batch
    publishEnvelopesTo(tTopic, Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L))))
    val keySchema = AvroSchemaConverter.toAvroSchema(
      Seq(Msg(Key(0), Envelope(None, None, "c", 0L))).toDS().toDF()
        .schema("k").dataType.asInstanceOf[StructType], "ProductKey")
    val keyId = registry.register(s"$tTopic-key", keySchema.toString)
    bus.publish(spark, tTopic, Seq(Tuple1(1)).toDF("id").select(
      ConfluentWireFormat.frame(
        AvroExpressions.to_avro(struct(col("id")), keySchema.toString), keyId).as("key"),
      lit(null).cast("binary").as("value")))

    CdcPipelines.kafkaToRaw(spark, bus, tTopic, project, database, tTable)
    CdcPipelines.rawToStaged(spark, project, database, tTable, ConfluentAvroCodec, registry)

    val raw = spark.read.parquet(LakePath.data(TableRef(Layer.Raw, project, database, tTable)))
    assert(raw.count() === 2) // tombstone lands in raw verbatim
    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, tTable))).read()
    assert(staged.count() === 1) // ...but is dropped at decode
  }

  private def publishEnvelopesTo(t: String, msgs: Seq[Msg]): Unit = {
    val df = msgs.toDS().toDF()
    val keyType = df.schema("k").dataType.asInstanceOf[StructType]
    val valueType = df.schema("v").dataType.asInstanceOf[StructType]
    val keySchema = AvroSchemaConverter.toAvroSchema(keyType, "ProductKey")
    val valueSchema = AvroSchemaConverter.toAvroSchema(valueType, "ProductEnvelope")
    val keyId = registry.register(s"$t-key", keySchema.toString)
    val valueId = registry.register(s"$t-value", valueSchema.toString)
    bus.publish(spark, t, df.select(
      ConfluentWireFormat.frame(
        AvroExpressions.to_avro(col("k"), keySchema.toString), keyId).as("key"),
      ConfluentWireFormat.frame(
        AvroExpressions.to_avro(col("v"), valueSchema.toString), valueId).as("value")))
  }

  test("two value-schema versions in ONE raw batch decode via per-pair slices") {
    // the reference's raison d'être: schema evolution mid-stream — v2 adds
    // a `color` field; both versions land in the same micro-batch and must
    // decode against THEIR OWN registry schema, then union with mergeSchema
    val evoTopic = "dbserver1.inventory.products_evo"
    val evoTable = "products_evo"
    publishEnvelopesTo(evoTopic, Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L))))
    // second publish: SAME topic, evolved schema -> new registry id
    val v2 = Seq(MsgV2(Key(2), EnvV2(None, Some(ImgV2(2, "gadget", 2.5, "red")), "c", 2000L))).toDS().toDF()
    val kT = v2.schema("k").dataType.asInstanceOf[StructType]
    val vT = v2.schema("v").dataType.asInstanceOf[StructType]
    val kS = AvroSchemaConverter.toAvroSchema(kT, "ProductKey")
    val vS = AvroSchemaConverter.toAvroSchema(vT, "ProductEnvelopeV2")
    val kId = registry.register(s"$evoTopic-key", kS.toString)
    val vId = registry.register(s"$evoTopic-value", vS.toString)
    bus.publish(spark, evoTopic, v2.select(
      ConfluentWireFormat.frame(AvroExpressions.to_avro(col("k"), kS.toString), kId).as("key"),
      ConfluentWireFormat.frame(AvroExpressions.to_avro(col("v"), vS.toString), vId).as("value")))

    CdcPipelines.kafkaToRaw(spark, bus, evoTopic, project, database, evoTable)
    CdcPipelines.rawToStaged(spark, project, database, evoTable, ConfluentAvroCodec, registry)

    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, evoTable))).read()
    assert(staged.count() === 2)
    assert(staged.select("valueSchemaId").distinct().count() === 2,
      "both schema versions present")
    // union schema: v1 rows carry null color, v2 row carries its value
    val colors = staged.select(col("key.id"), col("value.after.color"))
      .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(colors === Map(1 -> None, 2 -> Some("red")))
  }

  test("multi-partition bus: key-hash routing, per-partition dense offsets") {
    val mpBus = new FileMessageBus(s"$root/bus-mp", numPartitions = 4)
    val recs = (1 to 40).map(i => (s"k${i % 8}".getBytes, s"v$i".getBytes))
      .toDF("key", "value")
    mpBus.publish(spark, "mp.topic", recs)
    mpBus.publish(spark, "mp.topic", recs) // second batch continues offsets
    val frames = mpBus.readBatch(spark, "mp.topic")
    assert(frames.count() === 80)
    // offsets dense per partition: max(offset) = count-1 within each
    val perPart = frames.groupBy("partition")
      .agg(count(lit(1)).as("n"), max("offset").as("mx"), min("offset").as("mn"))
      .collect()
    perPart.foreach { r =>
      val (n, mx, mn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mn === 0L, "offsets start at 0")
      assert(mx === n - 1, "offsets dense per partition")
    }
    // same key always lands in the same partition
    val spread = frames.groupBy("key").agg(countDistinct("partition").as("p"))
      .agg(max("p")).head().getLong(0)
    assert(spread === 1L)
  }

  test("protobuf content-type: framed proto3 envelopes decode through raw_to_staged") {
    val pbTopic = "dbserver1.inventory.products_pb"
    val pbTable = "products_pb"
    val msgs = Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L)),
      Msg(Key(2), Envelope(None, Some(Img(2, "gadget", 2.5)), "c", 1001L)),
      Msg(Key(2), Envelope(Some(Img(2, "gadget", 2.5)), Some(Img(2, "gadget-v2", 2.7)), "u", 2000L)))
    val df = msgs.toDS().toDF()
    val keyType = df.schema("k").dataType.asInstanceOf[StructType]
    val valueType = df.schema("v").dataType.asInstanceOf[StructType]
    // register the generated .proto TEXT — what the protobuf handler stores
    val keyId = registry.register(s"$pbTopic-key",
      graft.codec.ProtoSchemaGen.protoFile(keyType, "ProductKey"))
    val valueId = registry.register(s"$pbTopic-value",
      graft.codec.ProtoSchemaGen.protoFile(valueType, "ProductEnvelope"))
    bus.publish(spark, pbTopic, df.select(
      ConfluentWireFormat.frame(
        graft.codec.ProtobufExpressions.to_protobuf(col("k")), keyId, protobuf = true).as("key"),
      ConfluentWireFormat.frame(
        graft.codec.ProtobufExpressions.to_protobuf(col("v")), valueId, protobuf = true).as("value")))

    CdcPipelines.kafkaToRaw(spark, bus, pbTopic, project, database, pbTable)
    CdcPipelines.rawToStaged(spark, project, database, pbTable, ConfluentProtobufCodec, registry)
    CdcPipelines.stagedToCurated(spark, project, database, pbTable)

    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, pbTable))).read()
    assert(staged.count() === 3)
    assert(staged.select("value.op").as[String].collect().sorted.toSeq === Seq("c", "c", "u"))
    assert(staged.select("key.id").as[Int].collect().toSet === Set(1, 2))

    val state = GraftTable(spark,
      LakePath.data(TableRef(Layer.Curated, project, database, pbTable))).read()
      .select("id", "name", "weight", "op")
      .as[(Int, String, Double, String)].collect().toSet
    assert(state === Set((1, "widget", 1.5, "c"), (2, "gadget-v2", 2.7, "u")))
  }

  /** Kafka-Connect JsonConverter frames: plain JSON bytes, schema envelope,
    * no Confluent header, no registry (the lab's third converter —
    * `register-postgres_jsonConverter_apache_version.json:16-19` — whose
    * decode the reference leaves `NotImplemented` at `cdc.py:87-88`). */
  private def publishJsonEnvelopes(t: String, msgs: Seq[Msg]): Unit = {
    val df = msgs.toDS().toDF()
    def framed(c: org.apache.spark.sql.Column) =
      to_json(struct(lit(null).cast("string").as("schema"), c.as("payload")),
        Map("ignoreNullFields" -> "false")).cast("binary")
    bus.publish(spark, t, df.select(framed(col("k")).as("key"), framed(col("v")).as("value")))
  }

  test("json content-type: Connect JSON envelopes decode through raw_to_staged") {
    val jsTopic = "dbserver1.inventory.products_js"
    val jsTable = "products_js"
    // batch 1: insert-only (no `before` image anywhere in the batch —
    // exercises the dropFieldIfAllNull inference path)
    publishJsonEnvelopes(jsTopic, Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L)),
      Msg(Key(2), Envelope(None, Some(Img(2, "gadget", 2.5)), "c", 1001L)),
      Msg(Key(3), Envelope(None, Some(Img(3, "doodad", 3.5)), "c", 1002L))))
    CdcPipelines.kafkaToRaw(spark, bus, jsTopic, project, database, jsTable)
    CdcPipelines.rawToStaged(spark, project, database, jsTable, "json", registry)
    CdcPipelines.stagedToCurated(spark, project, database, jsTable)

    // batch 2: update + delete — `before` now carries data, so the staged
    // schema merge must widen it from absent to struct
    publishJsonEnvelopes(jsTopic, Seq(
      Msg(Key(2), Envelope(Some(Img(2, "gadget", 2.5)), Some(Img(2, "gadget-v2", 2.7)), "u", 2000L)),
      Msg(Key(3), Envelope(Some(Img(3, "doodad", 3.5)), None, "d", 2001L))))
    CdcPipelines.kafkaToRaw(spark, bus, jsTopic, project, database, jsTable)
    CdcPipelines.rawToStaged(spark, project, database, jsTable, "json", registry)
    CdcPipelines.stagedToCurated(spark, project, database, jsTable)

    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, jsTable))).read()
    assert(staged.count() === 5)
    assert(staged.select("value.op").as[String].collect().sorted.toSeq ===
      Seq("c", "c", "c", "d", "u"))
    // no registry in the JSON path: schema ids are null
    assert(staged.filter(col("valueSchemaId").isNotNull).count() === 0)

    val state = GraftTable(spark,
      LakePath.data(TableRef(Layer.Curated, project, database, jsTable))).read()
      .select("id", "name", "weight", "op")
      .as[(Long, String, Double, String)].collect().toSet
    assert(state === Set((1L, "widget", 1.5, "c"), (2L, "gadget-v2", 2.7, "u")))
  }

  test("json with embedded Connect schemas decodes type-faithfully (int32 stays INT)") {
    val tTopic = "dbserver1.inventory.products_jsty"
    val tTable = "products_jsty"
    val keySchema = """{"type":"struct","fields":[
      {"type":"int32","optional":false,"field":"id"}],"optional":false,"name":"Key"}"""
      .replaceAll("\n\\s*", "")
    val imgFields = """[
      {"type":"int32","optional":false,"field":"id"},
      {"type":"string","optional":false,"field":"name"},
      {"type":"double","optional":false,"field":"weight"}]""".replaceAll("\n\\s*", "")
    val valueSchema = (s"""{"type":"struct","fields":[
      {"type":"struct","fields":$imgFields,"optional":true,"field":"before"},
      {"type":"struct","fields":$imgFields,"optional":true,"field":"after"},
      {"type":"string","optional":false,"field":"op"},
      {"type":"int64","optional":false,"field":"ts_ms"}],
      "optional":false,"name":"Envelope"}""").replaceAll("\n\\s*", "")
    def rec(keyPayload: String, valuePayload: String): (Array[Byte], Array[Byte]) = (
      s"""{"schema":$keySchema,"payload":$keyPayload}""".getBytes,
      s"""{"schema":$valueSchema,"payload":$valuePayload}""".getBytes)
    val rows = Seq(
      rec("""{"id":1}""",
        """{"before":null,"after":{"id":1,"name":"widget","weight":1.5},"op":"c","ts_ms":1000}"""),
      rec("""{"id":2}""",
        """{"before":null,"after":{"id":2,"name":"gadget","weight":2.5},"op":"c","ts_ms":1001}"""))
    bus.publish(spark, tTopic, rows.toDF("key", "value"))

    CdcPipelines.kafkaToRaw(spark, bus, tTopic, project, database, tTable)
    CdcPipelines.rawToStaged(spark, project, database, tTable, "json", registry)
    CdcPipelines.stagedToCurated(spark, project, database, tTable)

    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, tTable))).read()
    import org.apache.spark.sql.types._
    val valueType = staged.schema("value").dataType.asInstanceOf[StructType]
    assert(valueType("ts_ms").dataType === LongType)
    assert(valueType("after").dataType.asInstanceOf[StructType]("id").dataType === IntegerType,
      "embedded int32 must decode as INT, not inference-widened BIGINT")
    assert(valueType("after").dataType.asInstanceOf[StructType]("weight").dataType === DoubleType)
    assert(staged.schema("key").dataType.asInstanceOf[StructType]("id").dataType === IntegerType)
    // schema-less batches existed in OTHER topics; this one decodes via its
    // embedded schema and the curated CDC apply works on the typed key
    val state = GraftTable(spark,
      LakePath.data(TableRef(Layer.Curated, project, database, tTable))).read()
      .select("id", "name", "weight")
      .as[(Int, String, Double)].collect().toSet
    assert(state === Set((1, "widget", 1.5), (2, "gadget", 2.5)))
  }

  test("json tombstones are dropped at decode, like avro") {
    val tTopic = "dbserver1.inventory.products_jsts"
    val tTable = "products_jsts"
    publishJsonEnvelopes(tTopic, Seq(
      Msg(Key(1), Envelope(None, Some(Img(1, "widget", 1.5)), "c", 1000L))))
    bus.publish(spark, tTopic, Seq(Tuple1("""{"schema":null,"payload":{"id":1}}""")).toDF("k")
      .select(col("k").cast("binary").as("key"), lit(null).cast("binary").as("value")))
    CdcPipelines.kafkaToRaw(spark, bus, tTopic, project, database, tTable)
    CdcPipelines.rawToStaged(spark, project, database, tTable, "json", registry)
    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, tTable))).read()
    assert(staged.count() === 1)
  }

  test("json: a payload field literally named 'schema' is not mistaken for the envelope") {
    // schemas.enable=false record whose top-level 'schema' field holds a
    // VALID Connect schema. Detection asymmetry (bare $.schema probe vs
    // unwrap's exact-envelope predicate) would decode the whole record
    // against that inner schema — every real column silently null.
    val tTopic = "dbserver1.inventory.products_jssf"
    val tTable = "products_jssf"
    val innerSchema = """{"type":"struct","fields":[
      {"type":"string","optional":false,"field":"bogus"}],"optional":false}"""
      .replaceAll("\n\\s*", "")
    val value = s"""{"id":7,"schema":$innerSchema,"note":"keep"}"""
    bus.publish(spark, tTopic, Seq(Tuple1("""{"kid":7}""")).toDF("k")
      .select(col("k").cast("binary").as("key"), lit(value).cast("binary").as("value")))
    CdcPipelines.kafkaToRaw(spark, bus, tTopic, project, database, tTable)
    CdcPipelines.rawToStaged(spark, project, database, tTable, "json", registry)
    val staged = GraftTable(spark,
      LakePath.data(TableRef(Layer.Staged, project, database, tTable))).read()
    assert(staged.count() === 1)
    // the record decodes whole via inference, not against the inner schema
    assert(staged.select("value.id").as[Long].head() === 7L)
    assert(staged.select("value.note").as[String].head() === "keep")
    assert(staged.select("key.kid").as[Long].head() === 7L)
    // and nothing was recorded as an embedded envelope schema
    assert(staged.filter(col("valueSchemaId").isNotNull).count() === 0)
  }

  test("reverse path: json contentType emits header-less Connect envelopes") {
    val out = "outbound.products.js"
    CdcPipelines.dataframeToKafka(spark, curated.read().select("id", "name", "weight"),
      out, keyColumns = Seq("id"), registry, bus, contentType = "json")
    val frames = bus.readBatch(spark, out)
    assert(frames.count() === 3)
    // no Confluent header: first byte is '{', not the 0x00 magic byte
    val firstByte = frames.select(col("value").substr(1, 1).cast("string")).as[String].head()
    assert(firstByte === "{")
    val decoded = frames.select(
      ConnectJsonCodec.decode(col("key"), "struct<id:int>").as("k"),
      ConnectJsonCodec.decode(col("value"), "struct<name:string,weight:double>").as("v"))
      .select(col("k.id"), col("v.name"))
    assert(decoded.as[(Int, String)].collect().toSet ===
      Set((1, "widget"), (2, "gadget-v2"), (4, "gizmo")))
  }

  test("change-feed replication: applying the feed reproduces the source table") {
    val dir = Files.createTempDirectory("graft-replica-").toString
    val src = GraftTable(spark, s"file://$dir/src")(settings.copy(changeDataFeed = true))
    val dst = GraftTable(spark, s"file://$dir/dst")(settings)
    src.append(Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)).toDF("id", "name", "w")) // v1
    src.upsert(Seq((2, "B", 2.2, "u"), (4, "d", 4.0, "c")).toDF("id", "name", "w", "op"),
      Seq("id"), "op")                              // v2
    src.delete(col("id") === 1)                     // v3
    src.update(col("id") === 3, Map("w" -> lit(9.0))) // v4
    // one catch-up apply: latest change per key must win (1 was inserted
    // at v1 and deleted at v3 — it must NOT reappear)
    CdcPipelines.applyChangeFeed(dst, src.readChanges(0), Seq("id"))
    assert(dst.read().as[(Int, String, Double)].collect().toSet ===
      src.read().as[(Int, String, Double)].collect().toSet)
    // incremental apply of a later window converges too
    src.upsert(Seq((4, "D", 4.4, "u"), (2, "b", 0.0, "d")).toDF("id", "name", "w", "op"),
      Seq("id"), "op")                              // v5
    CdcPipelines.applyChangeFeed(dst, src.readChanges(4), Seq("id"))
    assert(dst.read().as[(Int, String, Double)].collect().toSet ===
      src.read().as[(Int, String, Double)].collect().toSet)
  }

  test("change-feed replication survives an overwrite window (same-version delete+insert)") {
    val dir = Files.createTempDirectory("graft-replica-ow-").toString
    val src = GraftTable(spark, s"file://$dir/src")(settings.copy(changeDataFeed = true))
    val dst = GraftTable(spark, s"file://$dir/dst")(settings)
    src.append(Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "name", "w")) // v1
    // an overwrite tags every removed file's rows delete and every added
    // file's rows insert at the SAME version — key 1 survives the
    // overwrite, so it arrives as a delete+insert TIE that must resolve to
    // the insert (end-of-commit state), key 2 as a bare delete
    src.overwrite(Seq((1, "A", 1.1), (3, "c", 3.0)).toDF("id", "name", "w")) // v2
    CdcPipelines.applyChangeFeed(dst, src.readChanges(0), Seq("id"))
    assert(dst.read().as[(Int, String, Double)].collect().toSet ===
      Set((1, "A", 1.1), (3, "c", 3.0)))
    // a restore back past the overwrite replays the same tie shape
    src.restore(1)                                  // v3: back to v1 state
    CdcPipelines.applyChangeFeed(dst, src.readChanges(2), Seq("id"))
    assert(dst.read().as[(Int, String, Double)].collect().toSet ===
      src.read().as[(Int, String, Double)].collect().toSet)
  }

  test("incremental reverse CDC: only changes since the cursor publish; reruns resume") {
    val out = "outbound.cdf.products"
    val dir = Files.createTempDirectory("graft-cdcout-").toString
    val t = GraftTable(spark, s"file://$dir/t")(
      settings.copy(changeDataFeed = true))
    t.append(Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "name", "w")) // v1
    val v1 = CdcPipelines.tableChangesToKafka(spark, t, out, Seq("id"), registry, bus,
      contentType = "json")
    assert(v1 === 1L)
    def decoded() = bus.readBatch(spark, out).select(
        ConnectJsonCodec.decode(col("value"),
          "struct<name:string,w:double,_change_type:string>").as("v"),
        ConnectJsonCodec.decode(col("key"), "struct<id:int>").as("k"))
      .select(col("k.id"), col("v.name"), col("v._change_type"))
      .as[(Int, String, String)].collect().toSeq
    assert(decoded().toSet === Set((1, "a", "insert"), (2, "b", "insert")))
    // nothing new: rerun is a no-op, cursor stays
    assert(CdcPipelines.tableChangesToKafka(spark, t, out, Seq("id"), registry, bus,
      contentType = "json") === 1L)
    assert(decoded().size === 2)
    // a CDC merge publishes postimage/insert/delete tags, never preimages
    t.upsert(Seq((2, "B", 2.2, "u"), (3, "c", 3.0, "c"), (1, "a", 1.0, "d"))
      .toDF("id", "name", "w", "op"), Seq("id"), "op") // v2
    assert(CdcPipelines.tableChangesToKafka(spark, t, out, Seq("id"), registry, bus,
      contentType = "json") === 2L)
    val all = decoded()
    assert(all.size === 5)
    assert(all.toSet === Set(
      (1, "a", "insert"), (2, "b", "insert"),                      // v1
      (2, "B", "update_postimage"), (3, "c", "insert"), (1, "a", "delete"))) // v2
  }
}
