package graft.cdc

import graft.codec.{AvroSchemaConverter, ConfluentWireFormat, SchemaRegistryClient}
import graft.codec.AvroExpressions
import graft.conf.{GraftSettings, Layer}
import graft.lake.{FsUtils, LakePath, TableRef}
import graft.streaming.IncrementalRunner
import graft.tables.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The three medallion pipeline stages + the Kafka reverse path —
  * the algorithmic core of the reference (`jibaro/datalake/cdc.py`,
  * `avro_handler.py`, `kafka.py`), re-expressed Spark-first:
  *
  *  - `kafkaToRaw`: Structured Streaming, run-to-drain (`AvailableNow`),
  *    binary passthrough into the raw layer.
  *  - `rawToStaged`: incremental batches, per-(keySchemaId, valueSchemaId)
  *    decode slices with a literal schema each — native `FromAvro`
  *    expression, FAILFAST.
  *  - `stagedToCurated`: latest-per-key dedup, per-schema-pair split, CDC
  *    MERGE-apply into a versioned table, compaction, history, vacuum.
  *  - `dataframeToKafka`: curated state -> registered schema -> framed
  *    payloads -> bus.
  */
object CdcPipelines {

  // ------------------------------------------------------- kafka -> raw

  /** Bus topic -> raw layer, verbatim frames (`cdc.py:15-51`). Streaming
    * with checkpoint in the control bucket; `AvailableNow` drains then
    * stops, the incremental-batch model every reference pipeline uses.
    *
    * `options` are merged into the source, caller-wins — the reference
    * merges `**kwargs` over its defaults the same way (`cdc.py:29-38`),
    * and its `maxOffsetsPerTrigger=100000` rate cap maps to the bus's
    * per-trigger cap here (`maxFilesPerTrigger` on the file-backed bus). */
  def kafkaToRaw(
      spark: SparkSession,
      bus: MessageBus,
      topic: String,
      project: String,
      database: String,
      table: String,
      options: Map[String, String] = Map.empty)(implicit s: GraftSettings): Unit = {
    val ref = TableRef(Layer.Raw, project, database, table)
    val q = bus.readStream(spark, topic, options)
      .writeStream
      .format("parquet")
      .option("path", LakePath.data(ref))
      .option("checkpointLocation", LakePath.checkpoint(ref))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ------------------------------------------------------- raw -> staged

  /** Decode one raw batch: split by distinct (keySchemaId, valueSchemaId),
    * decode each slice against its literal registry schema, append to the
    * staged table with schema merge (`avro_handler.py:12-96`). */
  private[cdc] def decodeConfluentBatch(
      batch: DataFrame,
      codec: PayloadCodec,
      registry: SchemaRegistryClient,
      staged: GraftTable)(implicit s: GraftSettings): Unit =
      graft.ext.Parallelism.scoped {
    // per-batch release scope, like decodeJsonBatch: a long-running CDC
    // stream must not accumulate each micro-batch's barrier until GC
    // Debezium emits tombstones (null value) after deletes for log
    // compaction; they carry no envelope (the delete arrives as an op='d'
    // record) and would NPE the schema-id extraction — drop them here.
    // Consumed once for the pair collect + once PER schema-pair slice:
    // materialize, like the JSON twin (decodeJsonBatchImpl) — otherwise a
    // 3-pair batch re-reads the raw micro-batch 4 times
    val withIds = graft.ext.Parallelism.materialize(batch
      .filter(col("value").isNotNull)
      .withColumn("keySchemaId",
        when(col("key").isNull, lit(null).cast("int"))
          .otherwise(ConfluentWireFormat.schemaId(col("key"))))
      .withColumn("valueSchemaId", ConfluentWireFormat.schemaId(col("value"))))

    // distinct schema pairs to the driver — one decode job per pair, so
    // each `from_avro` sees exactly one literal schema (`cdc.py:151-176`)
    pairSlices[Int](withIds, "keySchemaId", "valueSchemaId").foreach { case (row, slice) =>
      val keyId = if (row.isNullAt(0)) None else Some(row.getInt(0))
      val valueId = row.getInt(1)

      def schemaText(id: Int): String = registry.getById(id)
        .getOrElse(throw new IllegalStateException(s"schema id $id not in registry"))
        .schema

      val keyCol = keyId match {
        case Some(id) => codec.decode(codec.payload(col("key")), schemaText(id)).as("key")
        // keyless topic: a TYPED null (binary) — a NullType column would be
        // unwritable as parquet
        case None     => lit(null).cast("binary").as("key")
      }
      val decoded = slice.select(
        keyCol,
        codec.decode(codec.payload(col("value")), schemaText(valueId)).as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("timestampType"), col("keySchemaId"), col("valueSchemaId"))
      staged.append(decoded)
    }
  }

  /** Decode one raw batch of Kafka-Connect JSON records (no Confluent
    * header, no registry — the content type the reference's lab produces
    * but `cdc.py:87-88` leaves `NotImplemented`).
    *
    * The Spark schema is INFERRED per micro-batch from the payload JSON
    * itself (`spark.read.json` over the unwrapped strings — distributed,
    * one extra scan of the micro-batch, the price of schemaless JSON).
    * `dropFieldIfAllNull` keeps inference honest across batches: a CDC
    * envelope column that is entirely null in this batch (e.g. `before`
    * in an insert-only batch) would otherwise infer as STRING and then
    * conflict with the later batch where it arrives as a real struct —
    * dropped here, the staged table's schema merge adds it with its true
    * type when it first carries data, and earlier rows read as null. */
  private[cdc] def decodeJsonBatch(batch: DataFrame, staged: GraftTable)(
      implicit s: GraftSettings): Unit =
    // per-batch release scope: a long-running JSON CDC stream must not
    // accumulate each micro-batch's barrier until a GC cycle
    graft.ext.Parallelism.scoped { decodeJsonBatchImpl(batch, staged) }

  private def decodeJsonBatchImpl(batch: DataFrame, staged: GraftTable)(
      implicit s: GraftSettings): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Debezium tombstones (null value) carry no payload — drop, as the
    // avro/proto path does
    val events = batch.filter(col("value").isNotNull)
    // consumed multiple times (schema pairs + inference + decode):
    // materialize once; an empty batch yields no schema pair below
    val unwrapped = events.select(
      ConnectJsonCodec.unwrap(col("key")).as("__kjson"),
      ConnectJsonCodec.unwrap(col("value")).as("__vjson"),
      ConnectJsonCodec.envelopeSchema(col("key")).as("__kschema"),
      ConnectJsonCodec.envelopeSchema(col("value")).as("__vschema"),
      col("topic"), col("partition"), col("offset"), col("timestamp"),
      col("timestampType")).transform(graft.ext.Parallelism.materialize(_))

    // one decode slice per distinct embedded Connect schema pair — the
    // JSON analogue of the avro path's per-(keySchemaId, valueSchemaId)
    // slices (`cdc.py:151-176`): schema evolution mid-batch decodes each
    // record against ITS OWN schema, and the staged schema merge unions
    pairSlices[String](unwrapped, "__kschema", "__vschema").foreach { case (row, slice) =>
      val kEmbedded = Option(row.getString(0))
      val vEmbedded = Option(row.getString(1))

      // embedded Connect schema when present (type-faithful: int32 stays
      // INT); schemas.enable=false records fall back to Spark inference.
      // FAILFAST parity with the Avro/Proto codecs: inference marks
      // malformed records with the corrupt-record column — refuse them
      // here rather than letting them become silent null rows.
      def sparkSchema(embedded: Option[String], jsonCol: String): StructType = {
        val schema = embedded.flatMap(ConnectJsonCodec.connectSchemaToSpark)
          .collect { case st: StructType => st }
          .getOrElse(
            spark.read.option("dropFieldIfAllNull", "true")
              .json(slice.select(jsonCol).as[String].filter(_ != null))
              .schema)
        val corrupt = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
        if (schema.fieldNames.contains(corrupt))
          throw new IllegalStateException(
            s"malformed JSON in raw batch ($jsonCol): inference produced '$corrupt'")
        schema
      }

      val valueSchema = sparkSchema(vEmbedded, "__vjson")
      val keySchema = sparkSchema(kEmbedded, "__kjson")
      val keyCol =
        // keyless topic: a TYPED null, as the Confluent path writes
        if (keySchema.isEmpty) lit(null).cast("binary").as("key")
        else from_json(col("__kjson"), keySchema, ConnectJsonCodec.FailfastOptions).as("key")
      val decoded = slice.select(
        keyCol,
        from_json(col("__vjson"), valueSchema, ConnectJsonCodec.FailfastOptions).as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("timestampType"),
        lit(null).cast("int").as("keySchemaId"),
        lit(null).cast("int").as("valueSchemaId"))
      staged.append(decoded)
    }
  }

  /** Raw layer -> staged table, incrementally (`cdc.py:54-88` dispatch +
    * `avro_handler.py:99-138` loop). Reads the raw parquet stream with a
    * file-source checkpoint, decodes per micro-batch. */
  def rawToStaged(
      spark: SparkSession,
      project: String,
      database: String,
      table: String,
      codec: PayloadCodec,
      registry: SchemaRegistryClient)(implicit s: GraftSettings): Unit =
    runDecodeStream(spark, project, database, table) { (batch, staged) =>
      codec match {
        case ConnectJsonCodec => decodeJsonBatch(batch, staged)
        case c                => decodeConfluentBatch(batch, c, registry, staged)
      }
    }

  /** `content_type` string dispatch, mirroring the reference's
    * `raw_to_staged(content_type=...)` (`cdc.py:54-88`) — plus `json`,
    * which the reference declares but does not implement. `json` needs no
    * registry. */
  def rawToStaged(
      spark: SparkSession,
      project: String,
      database: String,
      table: String,
      contentType: String,
      registry: SchemaRegistryClient)(implicit s: GraftSettings): Unit = {
    val codec = contentType match {
      case "avro"     => ConfluentAvroCodec
      case "protobuf" => ConfluentProtobufCodec
      case "json"     => ConnectJsonCodec
      case other => throw new IllegalArgumentException(
        s"contentType must be avro|protobuf|json, got '$other'")
    }
    rawToStaged(spark, project, database, table, codec, registry)
  }

  private def runDecodeStream(
      spark: SparkSession,
      project: String,
      database: String,
      table: String)(decode: (DataFrame, GraftTable) => Unit)(
      implicit s: GraftSettings): Unit = {
    val rawRef = TableRef(Layer.Raw, project, database, table)
    val stagedRef = TableRef(Layer.Staged, project, database, table)
    val staged = GraftTable(spark, LakePath.data(stagedRef))
    val q = spark.readStream
      .schema(MessageBus.FrameSchema)
      .option("maxFilesPerTrigger", "1000")
      .parquet(LakePath.data(rawRef))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        decode(batch, staged)
      }
      .option("checkpointLocation", LakePath.checkpoint(stagedRef))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** A frame's distinct `(a, b)` pairs, each with its slice of `df`
    * (null-safe equality on both columns). The pairs are sorted on the
    * driver with nulls last: an `orderBy` before the collect would add a
    * range-partition sampling job to sort a handful of rows. An empty
    * frame yields no pair. */
  private def pairSlices[A: Ordering](df: DataFrame, a: String, b: String)
      : Seq[(Row, DataFrame)] = {
    def key(r: Row, i: Int): (Boolean, Option[A]) = (r.isNullAt(i), Option(r.getAs[A](i)))
    df.select(a, b).distinct().collect().toSeq.sortBy(r => (key(r, 0), key(r, 1)))
      .map(r => r -> df.filter(col(a).eqNullSafe(r.get(0)) && col(b).eqNullSafe(r.get(1))))
  }

  // --------------------------------------------------- staged -> curated

  /** Apply one staged batch to the curated table (`cdc.py:127-217`):
    * latest-per-key dedup -> per-schema-pair slices -> bootstrap overwrite
    * or MERGE-semantics upsert (after-images upserted, before-images of
    * deletes removed). */
  private[cdc] def applyCdcBatch(batch: DataFrame, curated: GraftTable,
      curatedBuckets: Int = 0)(implicit s: GraftSettings): Unit =
      graft.ext.Parallelism.scoped {
    // latest event per primary key; offset desc tie-break makes the result
    // deterministic where the reference relied on timestamp alone
    // (`cdc.py:132-142`). The window dedup is consumed for the pair
    // collect AND once per schema-pair slice (then several times inside
    // the upsert) — materialize once instead of re-running the shuffle +
    // window per consumer; scoped, so the barrier frees per batch.
    val deduped = graft.ext.Parallelism.materialize(
      graft.ext.Dedup.latestPerKey(
        batch, Seq("key"), Seq(col("timestamp").desc, col("offset").desc)))

    // an empty batch yields no pair, so nothing below runs for it
    pairSlices[Int](deduped, "keySchemaId", "valueSchemaId").foreach { case (_, slice) =>
      val keyType = slice.schema("key").dataType
      require(keyType.isInstanceOf[StructType],
        s"CDC apply requires a keyed topic (struct key); got $keyType — keyless " +
          "topics have no primary key to merge on")
      val keyFields = keyType.asInstanceOf[StructType].fieldNames.toSeq
      // JSON-inferred slices may lack an image struct entirely when no
      // record in the batch carried one (insert-only batch => no `before`,
      // delete-only => no `after`); an absent image means zero such rows
      val valueFields =
        slice.schema("value").dataType.asInstanceOf[StructType].fieldNames.toSet
      def image(img: String, opPredicate: String): Option[DataFrame] =
        if (valueFields.contains(img))
          Some(slice.filter(opPredicate).select(col(s"value.$img.*"), col("value.op")))
        else None
      val upserts = image("after", "value.op != 'd'")
      if (!curated.exists) {
        // first write: only insertable images (`cdc.py:178-187`); declare
        // the bucketed layout on the PK so steady-state merges are
        // bucket-pruned
        upserts.foreach { ins =>
          if (curatedBuckets > 0) curated.setBucketSpec(keyFields, curatedBuckets)
          curated.overwrite(ins)
        }
      } else {
        val deletes = image("before", "value.op = 'd'")
        val changes = (upserts.toSeq ++ deletes.toSeq)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
        changes.foreach(c =>
          curated.upsert(c, keyFields, "op", deleteOp = "d", keepOpColumn = true))
      }
    }
  }

  /** Staged -> curated with checkpointed incremental consumption,
    * compaction, history metrics, and periodic vacuum (`cdc.py:91-269`). */
  def stagedToCurated(
      spark: SparkSession,
      project: String,
      database: String,
      table: String)(implicit s: GraftSettings): Unit = {
    val stagedRef = TableRef(Layer.Staged, project, database, table)
    val curatedRef = TableRef(Layer.Curated, project, database, table)
    val staged = GraftTable(spark, LakePath.data(stagedRef))
    val curated = GraftTable(spark, LakePath.data(curatedRef))
    val checkpoint = LakePath.checkpoint(curatedRef)
    val historyTable = GraftTable(spark, LakePath.history(curatedRef))

    // re-bootstrap: curated output missing -> drop checkpoint, reprocess all
    // (`cdc.py:117-119`)
    if (!curated.exists) IncrementalRunner.deleteCheckpoint(spark, checkpoint)

    IncrementalRunner.runOnce(spark, staged, checkpoint) { batch =>
      applyCdcBatch(batch, curated, s.curatedBuckets)
      val compacted = curated.compactIfNeeded()
      // external-reader manifest after every merge (`cdc.py:261-262`)
      if (curated.exists) curated.writeManifest()
      // history metrics for observability (`cdc.py:220-247`): when the
      // batch triggered a compaction, the reference appends the last TWO
      // history rows with numFiles patched — the compaction version
      // carries the post-compaction file count, the data version the
      // pre-compaction count (`cdc.py:228-243`); otherwise one row with
      // the current count (`cdc.py:244-247`)
      val histRows = compacted match {
        case Some(c) =>
          val before = c.metrics.getOrElse("numRemovedFiles", "0").toLong
          val after = c.metrics.getOrElse("numOutputFiles", "0").toLong
          curated.history(2)
            .withColumn("numFiles",
              when(col("version") === c.version, lit(after)).otherwise(lit(before)))
        case None => curated.history(1)
      }
      historyTable.append(histRows)
      // vacuum every Nth version (`cdc.py:264-269`); <= 0 disables (the
      // curatedBuckets convention) instead of div-by-zero AFTER the merge
      if (s.vacuumEveryNVersions > 0 &&
        curated.version % s.vacuumEveryNVersions == 0) curated.vacuum()
    }
  }

  // ------------------------------------------------------ curated -> bus

  /** DataFrame -> registered-schema framed Kafka records -> bus
    * (`jibaro/datalake/kafka.py:22-119`): split columns into key/value
    * structs, register schemas (Avro or Protobuf, like the reference's
    * `type="AVRO"|"PROTOBUF"` switch), wire-format-frame the encoded
    * payloads, publish. */
  def dataframeToKafka(
      spark: SparkSession,
      source: DataFrame,
      topic: String,
      keyColumns: Seq[String],
      registry: SchemaRegistryClient,
      bus: MessageBus,
      contentType: String = "avro"): Unit = {
    val valueColumns = source.columns.filterNot(keyColumns.contains).toSeq
    require(valueColumns.nonEmpty, "no value columns left after key split")
    // record/message names must be bare identifiers; topics carry dots
    val recName = topic.replaceAll("[^A-Za-z0-9_]", "_")

    def framed(cols: Seq[String], role: String): org.apache.spark.sql.Column = {
      val structType = StructType(cols.map(c => source.schema(c)))
      val structCol = struct(cols.map(col): _*)
      contentType match {
        case "avro" =>
          val schema = AvroSchemaConverter.toAvroSchema(structType, s"${recName}_$role")
          val id = registry.register(s"$topic-$role", schema.toString)
          ConfluentWireFormat.frame(
            AvroExpressions.to_avro(structCol, schema.toString), id)
        case "protobuf" =>
          val proto = graft.codec.ProtoSchemaGen.protoFile(structType, s"${recName}_$role")
          val id = registry.register(s"$topic-$role", proto, schemaType = "PROTOBUF")
          ConfluentWireFormat.frame(
            graft.codec.ProtobufExpressions.to_protobuf(structCol), id, protobuf = true)
        case "json" =>
          // Kafka-Connect JsonConverter shape: plain JSON bytes, no
          // Confluent header, no registry; the `{"schema":null,"payload":…}`
          // envelope is what the Apache converter emits for a record it has
          // no Connect schema for. `ignoreNullFields=false` keeps null
          // columns visible, as the converter does.
          to_json(
            struct(lit(null).cast("string").as("schema"), structCol.as("payload")),
            Map("ignoreNullFields" -> "false")).cast("binary")
        case other =>
          throw new IllegalArgumentException(
            s"contentType must be avro|protobuf|json, got '$other'")
      }
    }

    val valueCol = framed(valueColumns, "value")
    val keyCol =
      if (keyColumns.isEmpty) lit(null).cast("binary").as("key")
      else framed(keyColumns, "key").as("key")
    bus.publish(spark, topic, source.select(keyCol, valueCol.as("value")))
  }

  /** The consumer side of a change feed: apply a `readChanges`-shaped
    * frame (table columns + `_change_type` + `_commit_version`) to a
    * replica table — lake-to-lake replication without snapshot diffs.
    * Preimages are ignored; the latest change per key wins (an insert at
    * v1 followed by a delete at v3 must end deleted, whatever order the
    * frame arrives in); inserts/postimages MERGE, deletes remove. A fresh
    * replica bootstraps from the first applied feed. */
  def applyChangeFeed(replica: GraftTable, changes: DataFrame,
      keyCols: Seq[String])(
      implicit s: GraftSettings = GraftSettings.default): Unit =
      graft.ext.Parallelism.scoped {
    // scoped: the barrier below is batch-local — released on exit
    val ops = changes.filter(col("_change_type") =!= "update_preimage")
    // Secondary ordering: an overwrite/restore commit synthesizes BOTH a
    // delete (for each removed file's rows) and an insert (added file's
    // rows) at the SAME _commit_version for any key present before and
    // after — end-of-commit state wins, so a non-delete outranks a delete
    // within one version. Without it row_number ties break arbitrarily and
    // the replica nondeterministically drops live rows.
    val latest = graft.ext.Dedup.latestPerKey(ops, keyCols,
      Seq(col("_commit_version").desc,
        when(col("_change_type") === "delete", 0).otherwise(1).desc))
    val tagged = latest
      .withColumn("__op", when(col("_change_type") === "delete", lit("d")).otherwise(lit("u")))
      .drop("_change_type", "_commit_version")
      // barrier: the frame feeds BOTH the isEmpty probe and the upsert —
      // without it the whole dedup-window pipeline runs twice
      .transform(graft.ext.Parallelism.materialize(_))
    if (!tagged.isEmpty) { replica.upsert(tagged, keyCols, "__op"); () }
  }

  /** Incremental reverse CDC: publish a table's row-level CHANGES since
    * the last run (`GraftTable.readChanges`) instead of its full state —
    * the outbound analogue of `rawToStaged`'s inbound checkpointing. The
    * last published version persists under the control bucket, so reruns
    * resume where they left off and a restart never re-publishes.
    * `update_preimage` rows are dropped (consumers get the Debezium-style
    * postimage view); inserts/postimages/deletes go out tagged by the
    * `_change_type` column. DML versions require the table to have been
    * written with `settings.changeDataFeed` — `readChanges` refuses
    * otherwise. Returns the new cursor version. */
  def tableChangesToKafka(
      spark: SparkSession,
      table: GraftTable,
      topic: String,
      keyColumns: Seq[String],
      registry: SchemaRegistryClient,
      bus: MessageBus,
      contentType: String = "avro")(implicit s: GraftSettings): Long = {
    val cursorPath = new org.apache.hadoop.fs.Path(
      s"${s.protocol}://${s.controlBucket}/_cdcout/$topic.version")
    val from = FsUtils.readLong(spark, cursorPath)
    val to = table.version
    if (to > from) graft.ext.Parallelism.scoped {
      // consumed twice (emptiness probe + publish): materialize once,
      // freed at scope exit
      val changes = graft.ext.Parallelism.materialize(
        table.readChanges(from, to)
          .filter(col("_change_type") =!= "update_preimage")
          .drop("_commit_version"))
      if (!changes.isEmpty)
        dataframeToKafka(spark, changes, topic, keyColumns, registry, bus, contentType)
      // advance only after the publish: a crash before it re-publishes
      // just this window (at-least-once, like any Kafka producer without
      // transactions) but never records progress it didn't make
      FsUtils.writeLong(spark, cursorPath, to)
    }
    math.max(from, to)
  }
}
