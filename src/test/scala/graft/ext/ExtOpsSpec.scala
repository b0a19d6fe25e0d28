package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class ExtOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different content about spark catalyst optimizer internals"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("wordOccurrences counts adjacent repeats exactly") {
    val r = Seq(("x", "the the the end")).toDF("id", "text")
      .select(TextAnalysis.wordOccurrences(col("text"), "the").as("n"))
      .head().getInt(0)
    assert(r === 3)
  }

  test("tokenCount handles empty and blank") {
    val r = Seq("", "  ", "a b  c").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(r === Seq(0, 0, 3))
  }

  test("PII: counts and redaction find and replace every shape, leave clean text alone") {
    val rows = Seq(
      (0L, "contact bob.smith+x@example.co.uk or call 555-123-4567 now"),
      (1L, "server at 10.0.0.1 and 192.168.1.255 rebooted"),
      (2L, "no pii here, just 123 numbers and a-b-c dashes"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
      TextAnalysis.piiCount(col("text"), TextAnalysis.EmailPattern).as("e"),
      TextAnalysis.piiCount(col("text"), TextAnalysis.Ipv4Pattern).as("i"),
      TextAnalysis.piiCount(col("text"), TextAnalysis.PhonePattern).as("p"),
      TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getInt(1) === 1 && out(0L).getInt(3) === 1)
    assert(out(0L).getString(4) === "contact <EMAIL> or call <PHONE> now")
    assert(out(1L).getInt(2) === 2)
    assert(out(1L).getString(4) === "server at <IP> and <IP> rebooted")
    assert(out(2L).getInt(1) + out(2L).getInt(2) + out(2L).getInt(3) === 0)
    assert(out(2L).getString(4) === "no pii here, just 123 numbers and a-b-c dashes")
  }

  test("chunkTokens: sliding windows cover every token with the stride overlap") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val chunks = TextAnalysis.chunkTokens(
        Seq((7L, text)).toDF("doc_id", "text"), "doc_id", "text",
        chunkSize = 64, stride = 48)
      .orderBy("chunk_idx").collect()
    assert(chunks.length === 2) // ceil((100-64)/48)+1
    val c0 = chunks(0).getString(2).split(" ")
    val c1 = chunks(1).getString(2).split(" ")
    assert(c0.head === "w1" && c0.length === 64 && c0.last === "w64")
    assert(c1.head === "w49" && c1.last === "w100" && c1.length === 52)
    // a short doc still yields exactly one (partial) chunk
    val one = TextAnalysis.chunkTokens(
      Seq((8L, "only three tokens")).toDF("doc_id", "text"),
      "doc_id", "text", 64, 48).collect()
    assert(one.length === 1 && one.head.getString(2) === "only three tokens")
    // stride > chunkSize would leave tokens no chunk covers — rejected
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(
        Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text",
        chunkSize = 32, stride = 48)
    }
    assert(ex.getMessage.contains("stride"))
  }

  test("ngramContamination: verbatim inclusion scores 1.0, disjoint text drops out") {
    val evalSet = Seq((100L, "the secret benchmark question about spark joins"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // embeds the eval doc verbatim
      (1L, "intro text and then the secret benchmark question about spark joins appears here"),
      // shares a couple of 3-grams only
      (2L, "a benchmark question about cars not about joins at all"),
      // disjoint
      (3L, "completely unrelated prose concerning databases and storage engines"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramContamination(corpus, evalSet, "doc_id", "text",
        shingleSize = 3, minOverlap = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // eval doc has 7 tokens => 5 distinct 3-grams, all present in doc 1
    assert(out(1L) === ((5L, 1.0)), s"verbatim inclusion must score 1.0: $out")
    assert(out(2L)._1 === 1L && out(2L)._2 < 0.5, s"partial overlap stays partial: $out")
    assert(!out.contains(3L), s"disjoint doc must not appear: $out")
  }

  test("leakageSafeSplit: near-dup groups never straddle a split boundary") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Dedup.leakageSafeSplit(d, "doc_id", "text",
      threshold = 0.5, numHashes = 32, bands = 8, portable = true).collect()
    assert(out.length === d.count())
    // group integrity: one split per dup_group
    val perGroup = out.groupBy(_.getLong(1)).map { case (_, rs) =>
      rs.map(_.getString(2)).distinct.length }
    assert(perGroup.forall(_ === 1), "a dup group straddles splits")
    // multi-doc groups exist in this corpus (the property is exercised)
    assert(out.groupBy(_.getLong(1)).exists(_._2.length > 1))
    // all three splits materialize and train dominates
    val bySplit = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"), s"got $bySplit")
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("BlockDedupIndex: persists across instances; later batches drop known blocks") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bdi-").toString
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(collectFileStats = false)
    val b1 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val idx = new BlockDedupIndex(spark, s"file://$tmp", blockWords = 4, portable = true)
    val r1 = idx.detectAndAdd(b1, "doc_id", "text").head()
    assert(r1.getLong(3) === 2 && r1.getLong(4) === 8) // everything new
    assert(idx.indexedCount === 2)
    // a FRESH instance on the same path sees the ingested hashes
    val idx2 = new BlockDedupIndex(spark, s"file://$tmp", blockWords = 4, portable = true)
    val b2 = Seq((2L, "a b c d x y z w"), (3L, "x y z w")).toDF("doc_id", "text")
    val r2 = idx2.detectAndAdd(b2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 2: first block known from batch 1, second is the batch-internal
    // first occurrence of "x y z w"; doc 3 repeats it -> drops
    assert(r2(2L).getLong(3) === 1 && r2(2L).getLong(4) === 4)
    assert(r2(3L).getLong(3) === 0 && r2(3L).getLong(4) === 0)
    assert(idx2.indexedCount === 3) // only the one new hash appended
    graft.lake.FsUtils.deletePath(spark, s"file://$tmp")
  }

  test("BlockDedupIndex: ingestToken makes at-least-once replays idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bdi-replay-").toString
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(collectFileStats = false)
    val idx = new BlockDedupIndex(spark, s"file://$tmp", blockWords = 4, portable = true)
    val b1 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val first = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(first(1L) === ((2L, 8L)))
    val countAfterFirst = idx.indexedCount
    // replay of the SAME token (foreachBatch crash-retry): identical stats,
    // not the kept=0 corruption of probing a store holding our own hashes
    val replay = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(replay === first, s"replayed stats must equal the original: $replay vs $first")
    assert(idx.indexedCount === countAfterFirst, "replay must not grow the index")
    // a LATER batch lands normally...
    val b2 = Seq((2L, "a b c d x y z w")).toDF("doc_id", "text")
    val second = idx.detectAndAdd(b2, "doc_id", "text", ingestToken = Some("t2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(second(2L) === ((1L, 4L)))
    // ...and a replay of the FIRST token after it still time-travels to the
    // pre-t1 snapshot, returning the original result
    val lateReplay = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(lateReplay === first)
    graft.lake.FsUtils.deletePath(spark, s"file://$tmp")
  }

  test("BlockDedupIndex(trackClaims): sole-claim erasure re-admits, shared claims stay") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bdi-claims-").toString
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(collectFileStats = false)
    val idx = new BlockDedupIndex(spark, s"file://$tmp", blockWords = 4,
      portable = true, trackClaims = true)
    // block A is claimed by docs 1 AND 2 (shared), B only by doc 1, C only
    // by doc 2
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // A + B
      (2L, "alpha beta gamma delta iota kappa lambda mu"))   // A + C
      .toDF("doc_id", "text")
    val r1 = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(r1 === Map(1L -> 2L, 2L -> 1L)) // doc 2's A is the in-batch dup
    assert(idx.indexedCount === 3)
    // erase doc 1 with its ORIGINAL text: B's only claim is released
    // (count 1 -> 0), A keeps doc 2's claim (2 -> 1)
    idx.remove(Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text"), "doc_id", "text", removeToken = Some("rm1"))
    assert(idx.indexedCount === 2, "sole claim must release, shared must stay")
    // re-running the SAME erasure is a no-op (the remove token)
    idx.remove(Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text"), "doc_id", "text", removeToken = Some("rm1"))
    assert(idx.indexedCount === 2, "double-remove must not double-decrement")
    // recrawl: B (released) re-admits, A (still claimed by doc 2) stays
    // suppressed
    val b2 = Seq((3L, "epsilon zeta eta theta alpha beta gamma delta")) // B + A
      .toDF("doc_id", "text")
    val r2 = idx.detectAndAdd(b2, "doc_id", "text", ingestToken = Some("t2")).head()
    assert(r2.getLong(3) === 1L, "released block must re-admit, shared must suppress")
    assert(idx.indexedCount === 3) // A, C, and B re-claimed by doc 3
    // consolidation compacts the delta history to one row per live hash
    // and preserves semantics
    idx.consolidateClaims()
    assert(idx.claimsTable.read().count() === 3)
    assert(idx.indexedCount === 3)
    val r3 = idx.detectAndAdd(
      Seq((4L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", ingestToken = Some("t3")).head()
    assert(r3.getLong(3) === 0L, "consolidation must not forget live claims")
    graft.lake.FsUtils.deletePath(spark, s"file://$tmp")
  }

  test("BlockDedupIndex(trackClaims): replay contract intact (stats + refcounts)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bdi-claims-rp-").toString
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(collectFileStats = false)
    val idx = new BlockDedupIndex(spark, s"file://$tmp", blockWords = 4,
      portable = true, trackClaims = true)
    val b1 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val first = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(first(1L) === ((2L, 8L)))
    val rowsAfterFirst = idx.claimsTable.read().count()
    // replay: identical stats (snapshot time travel), NO new delta rows —
    // a double-increment would wrongly survive a later sole-claim erasure
    val replay = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(replay === first)
    assert(idx.claimsTable.read().count() === rowsAfterFirst,
      "replay must not append claim deltas")
    // crash in the token window: replay fills the claims gap exactly once
    val idx2 = new BlockDedupIndex(spark, s"file://$tmp/crash", blockWords = 4,
      portable = true, trackClaims = true)
    idx2.failpoints.arm("after-token")
    intercept[Exception] {
      idx2.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
    }
    val after = idx2.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(after === first)
    assert(idx2.indexedCount === 2)
    // the refcounts are exactly one claim each: erasing the one claimant
    // empties the index — a crash double-count would leave residue
    idx2.remove(b1, "doc_id", "text", removeToken = Some("rm"))
    assert(idx2.indexedCount === 0, "crash replay must not double-count claims")
    graft.lake.FsUtils.deletePath(spark, s"file://$tmp")
  }

  test("NearDupIndex: ingestToken makes at-least-once replays idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndi-replay-").toString
    val idx = new NearDupIndex(spark, s"$dir/idx")
    val base = "the quick brown fox jumps over the lazy dog again and again in the field"
    val b1 = Seq((1L, base), (2L, "completely different content about spark partitions and shuffles"))
      .toDF("doc_id", "text")
    val first = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(first === Set.empty[(Long, Long)])
    assert(idx.indexedCount === 2)
    // replay: without the token each doc would match its own first attempt;
    // with it, the original (empty) pair set returns and the index is unchanged
    val replay = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(replay === first, s"replay must reproduce the original result: $replay")
    assert(idx.indexedCount === 2, "replay must not grow the index")
    // a later batch matches the FIRST batch's docs normally...
    val b2 = Seq((10L, base + " tonight")).toDF("doc_id", "text")
    val second = idx.detectAndAdd(b2, "doc_id", "text", ingestToken = Some("t2"))
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(second === Set((10L, 1L)))
    assert(idx.indexedCount === 3)
    // ...and replaying the first token afterwards still time-travels to the
    // empty pre-t1 store, returning the original empty pair set
    val lateReplay = idx.detectAndAdd(b1, "doc_id", "text", ingestToken = Some("t1"))
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(lateReplay === first)
    assert(idx.indexedCount === 3)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("index stores are hash-bucketed; probe joins scan the store with no Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-bucketed-").toString
    // NearDupIndex: bands bucketed on band_key at creation (opt-in layout)
    val ndi = new NearDupIndex(spark, s"$dir/ndi", storeBuckets = 32)
    ndi.detectAndAdd(Seq((1L, "the quick brown fox jumps over the lazy dog in the field"))
      .toDF("doc_id", "text"), "doc_id", "text")
    ndi.detectAndAdd(Seq((2L, "a second batch with completely different words about spark shuffles"))
      .toDF("doc_id", "text"), "doc_id", "text")
    assert(ndi.bandsTable.bucketSpec.exists(_.keys == Seq("band_key")))
    assert(ndi.bandsTable.liveFiles().nonEmpty &&
      ndi.bandsTable.liveFiles().forall(_.matches("^b\\d+-.*")),
      s"band files must carry bucket ids: ${ndi.bandsTable.liveFiles().take(3)}")
    // BlockDedupIndex: blocks bucketed on h at creation (opt-in layout)
    val bdi = new BlockDedupIndex(spark, s"$dir/bdi", blockWords = 4, storeBuckets = 32)
    bdi.detectAndAdd(Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"), "doc_id", "text")
    bdi.detectAndAdd(Seq((2L, "a b c d p q r s")).toDF("doc_id", "text"), "doc_id", "text")
    assert(bdi.blocksTable.bucketSpec.exists(_.keys == Seq("h")))
    assert(bdi.blocksTable.liveFiles().forall(_.matches("^b\\d+-.*")))
    // plan audit: the probe join shape over the stored side is a broadcast
    // join — the store streams (scan), it is never re-shuffled
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val batch = Seq((3L, "a third batch of text to probe with today"))
        .toDF("doc_id", "text")
      val sigs = Dedup.minhashSignaturesDf(batch, "doc_id", "text", 32, 3, portable = false)
      val newBands = Dedup.minhashBands(sigs, 8, 4, portable = false).localCheckpoint(true)
      val probe = ndi.bandsTable.read()
        .select(col("doc_id").as("id_matched"), col("band"), col("band_key"))
        .join(broadcast(newBands.select(col("id").as("id_new"), col("band"), col("band_key"))),
          Seq("band", "band_key"))
      val p = probe.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"probe must broadcast:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"stored side must not re-shuffle:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("settings.barrierMode: persist barriers replace localCheckpoint, same results") {
    val df = spark.range(100).toDF("x")
    // default: lineage-free executor blocks, not registered with the cache
    val ck = Parallelism.materialize(df)(graft.conf.GraftSettings.default)
    assert(ck.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(ck.count() === 100)
    // persist: recompute-capable barrier for cluster fault tolerance
    val persistSettings = graft.conf.GraftSettings.default.copy(barrierMode = "persist")
    val p = Parallelism.materialize(df)(persistSettings)
    assert(p.storageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(p.count() === 100)
    p.unpersist()
    intercept[IllegalArgumentException] {
      Parallelism.materialize(df)(graft.conf.GraftSettings.default.copy(barrierMode = "nope"))
    }
    // end-to-end: an index ingest under persist barriers returns the same
    // stats as under the default mode
    val tmp = java.nio.file.Files.createTempDirectory("graft-barrier-").toString
    val b = Seq((1L, "a b c d e f g h"), (2L, "a b c d x y z w")).toDF("doc_id", "text")
    val viaPersist = {
      implicit val st: graft.conf.GraftSettings = persistSettings
      new BlockDedupIndex(spark, s"file://$tmp/p", blockWords = 4)
        .detectAndAdd(b, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    }
    val viaCheckpoint = {
      new BlockDedupIndex(spark, s"file://$tmp/c", blockWords = 4)
        .detectAndAdd(b, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    }
    assert(viaPersist === viaCheckpoint)
    graft.lake.FsUtils.deletePath(spark, s"file://$tmp")
  }

  test("htmlToText: strips structure, decodes entities, collapses whitespace") {
    val cases = Seq(
      ("<html><body><p>Hello  world</p></body></html>", "Hello world"),
      ("<style>p{x}</style><script>if (1 < 2) alert('&amp;')</script>text", "text"),
      ("<!-- note -->a<br>b<div class=\"x\">c</div>", "a b c"),
      ("&lt;tag&gt; &amp;amp; &quot;q&quot; &#39;s&#39; a&nbsp;b", "<tag> &amp; \"q\" 's' a b"),
      ("no markup at all", "no markup at all"),
      ("  \n\t spaced \r\n out  ", "spaced out"))
    val got = cases.map(_._1).zipWithIndex.map { case (h, i) => (i, h) }
      .toDF("i", "h")
      .select(col("i"), TextAnalysis.htmlToText(col("h")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(got(i) === want, s"input: $h")
    }
  }

  test("bigramNll: deterministic transitions score zero; soup scores high") {
    val df = Seq(
      (1L, "a b a b a b"),   // every transition deterministic -> NLL 0
      (2L, "a c"),           // prev 'a' goes to b 3x, c 1x -> ln(1/4) surprise
      (3L, "x")              // < 2 tokens: absent from output
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L))
    // doc 1: transitions (a,b)x3 [P=3/4 across corpus... not 1] — compute
    // expected exactly like the operator: lp frozen per transition
    def lpMicro(n: Long, pn: Long): Long =
      (BigDecimal(math.log(n.toDouble / pn.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
    // corpus counts: (a,b):3 (b,a):2 (a,c):1; prev a:4, b:2
    val m1 = -(3 * lpMicro(3, 4) + 2 * lpMicro(2, 2))
    val nll1 = (2 * m1 + 5) / (2 * 5)
    val m2 = -lpMicro(1, 4)
    val nll2 = (2 * m2 + 1) / (2 * 1)
    assert(out(1L)._1 === 5L)
    assert(math.abs(out(1L)._2 - nll1 / 1e6) < 1e-9, s"got ${out(1L)}")
    assert(out(2L)._1 === 1L)
    assert(math.abs(out(2L)._2 - nll2 / 1e6) < 1e-9, s"got ${out(2L)}")
    // deterministic-transition corpus: single doc alone scores exactly 0
    val solo = TextAnalysis.bigramNll(
        Seq((1L, "a b a b a b")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getDouble(2))
    assert(solo.toSeq === Seq(0.0))
  }

  test("dupSpans: interval-merged coverage equals naive position-set coverage") {
    val n = 5
    val docsDf = spark.read.parquet(s"${sf()}/documents.parquet")
    val got = Dedup.dupSpans(docsDf, "doc_id", "text", n = n, portable = true)
      .select("doc_id", "covered_tokens").as[(Long, Long)].collect().toMap
    // naive reference: explode every duplicated n-gram span to its member
    // positions, distinct, count — the shape the operator used to compute
    // (and the shape the DuckDB oracle still computes)
    val words = split(TextAnalysis.normalize(col("text")), " ")
    val ng = docsDf
      .select(col("doc_id").as("__id"), words.as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col("__id"),
        posexplode(transform(
          sequence(lit(1), size(col("__w")) - (n - 1)),
          i => TextAnalysis.portableHash60(concat_ws(" ", slice(col("__w"), i, lit(n))))))
          .as(Seq("__pos", "__h")))
    val dupHashes = ng.select(col("__h"), col("__id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__h"))
    val naive = ng.join(dupHashes, "__h")
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .distinct()
      .groupBy(col("__id")).agg(count(lit(1)).as("covered_tokens"))
      .as[(Long, Long)].collect().toMap
    assert(naive.nonEmpty, "fixture must contain duplicated spans")
    naive.foreach { case (id, cov) =>
      assert(got.getOrElse(id, 0L) === cov, s"doc $id")
    }
    // docs absent from the naive map have zero coverage
    got.filterNot { case (id, _) => naive.contains(id) }
      .foreach { case (id, cov) => assert(cov === 0L, s"doc $id") }
  }

  test("removeDupSpans: later span copies drop, winner survives, md5 reconstructs") {
    val df = Seq(
      (10L, "a b c d e f"),   // winner of the shared 5-grams
      (20L, "a b c d e x"),   // span (a b c d e) is a loser -> keeps only "x"
      (30L, "a b c d e f"),   // exact dup of 10 -> everything covered
      (40L, "totally unrelated words here now"),  // unique -> untouched
      (50L, "tiny")           // < n tokens -> no spans, all kept
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(df, "doc_id", "text", n = 5, portable = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    def md5Of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(10L) === ((6L, 6L, md5Of("a b c d e f"))))
    assert(out(20L) === ((6L, 1L, md5Of("x"))))
    assert(out(30L) === ((6L, 0L, md5Of(""))))
    assert(out(40L) === ((5L, 5L, md5Of("totally unrelated words here now"))))
    assert(out(50L) === ((1L, 1L, md5Of("tiny"))))
  }

  test("blockDedup: later copies drop, first occurrence survives, md5 reconstructs") {
    val df = Seq(
      (10L, "a b c d e f g h i j"),  // blocks (4w): [a b c d][e f g h][i j]
      (20L, "a b c d x y z w"),      // first block duplicates doc 10's — dropped
      (30L, "a b c d e f g h i j")   // exact dup of 10 — everything dropped
    ).toDF("doc_id", "text")
    val r = Dedup.blockDedup(df, "doc_id", "text", blockWords = 4, portable = true)
      .orderBy("doc_id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(10L).getLong(2) === 3 && byId(10L).getLong(3) === 3) // all kept
    assert(byId(10L).getLong(4) === 10 && byId(10L).getDouble(5) === 1.0)
    assert(byId(20L).getLong(3) === 1 && byId(20L).getLong(4) === 4) // lost "a b c d"
    assert(byId(30L).getLong(3) === 0 && byId(30L).getLong(4) === 0)
    // doc 30 keeps nothing -> md5 of empty string
    assert(byId(30L).getString(6) === "d41d8cd98f00b204e9800998ecf8427e")
    // doc 20's reconstruction is exactly its second block
    val md5xyzw = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z w".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byId(20L).getString(6) === md5xyzw)
    // within-doc duplicate blocks: only the first pos survives
    val rep = Seq((1L, "p q r s p q r s")).toDF("doc_id", "text")
    val r2 = Dedup.blockDedup(rep, "doc_id", "text", blockWords = 4).head()
    assert(r2.getLong(2) === 2 && r2.getLong(3) === 1 && r2.getLong(4) === 4)
    // empty doc: zero everything, no crash
    val r3 = Dedup.blockDedup(Seq((5L, "  ")).toDF("doc_id", "text"),
      "doc_id", "text", blockWords = 4).head()
    assert(r3.getLong(1) === 0 && r3.getLong(2) === 0 && r3.getDouble(5) === 0.0)
  }

  test("Bpe: applyMerge is greedy left-to-right; trainMerges learns the frequent pair") {
    // greedy overlap: "aaa" under (a,a) -> [aa, a, </w>]
    val s1 = Seq("aaa").toDF("word")
      .select(Bpe.applyMerge(Bpe.toSymbols(col("word")), "a", "a").as("s"))
      .head().getSeq[String](0)
    assert(s1 === Seq("aa", "a", "</w>"))
    // corpus where "lo" dominates: low x3, lower x2 -> top pair (l, o)
    val docs = Seq("low low low lower lower the the the the").toDF("text")
    val top = Bpe.pairCounts(docs, "text", topK = 3).collect()
    assert(top.head.getInt(0) === 1)
    // (l,o) appears 5x weighted; (e,</w>) 4x from "the"; (h,e) 4x; (t,h) 4x
    assert((top.head.getString(1), top.head.getString(2)) === ("l", "o"))
    assert(top.head.getLong(3) === 5L)
    val merges = Bpe.trainMerges(docs, "text", nMerges = 2)
    assert(merges.head._1 === "l" && merges.head._2 === "o" && merges.head._3 === 5L)
    // merge 2 is (lo, w) — "low" appears 5x weighted after merge 1 — so
    // segmentation applies both in training order: "lowest" -> low|e|s|t
    assert((merges(1)._1, merges(1)._2) === ("lo", "w"))
    val seg = Bpe.segment(Seq("lowest").toDF("w"), "w", merges.map(m => (m._1, m._2)))
      .head().getSeq[String](1)
    assert(seg === Seq("low", "e", "s", "t", "</w>"), s"got $seg")
    // merge table is deterministic across runs
    assert(Bpe.trainMerges(docs, "text", 2) === merges)
    // a word collapsing to ONE symbol must not crash pair counting: "a"
    // fully merges after ('a','</w>'); training past that point stops
    // cleanly via the empty-pair-count branch
    val tiny = Seq("a a a").toDF("text")
    val m2 = Bpe.trainMerges(tiny, "text", nMerges = 5)
    assert(m2 === Seq(("a", "</w>", 3L)), s"got $m2")
    val segTiny = Bpe.segment(Seq("a").toDF("w"), "w", m2.map(m => (m._1, m._2)))
      .head().getSeq[String](1)
    assert(segTiny === Seq("a</w>"))
  }

  test("fingerprint ignores case/punctuation/whitespace") {
    val fps = Seq("Hello, World!", "hello   world", "hello worlds")
      .toDF("text").select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("simhash: identical texts equal, near-dups closer than unrelated") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(3L))
    val near = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    val far = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    assert(near < far, s"near=$near far=$far")
  }

  test("minhash estimated jaccard: dup=1.0, near-dup high, unrelated low") {
    val sig = Dedup.minhashSignature(col("text"), numHashes = 64)
    val s = docs.select(col("doc_id"), sig.as("sig")).as("x")
    val pairs = s.as("a").join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.estimatedJaccard(col("a.sig"), col("b.sig")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) === 1.0)
    assert(pairs((0L, 1L)) > 0.5)
    assert(pairs((0L, 2L)) < 0.2)
  }

  test("minhashDedup groups exact+near dups under min id") {
    val groups = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id", "dup_group")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(0L) === 0L)
    assert(groups(3L) === 0L)
    assert(groups(1L) === 0L) // near-dup joins group 0
    assert(groups(2L) === 2L)
  }

  test("stopword probes see words at newline/tab boundaries (multi-line text)") {
    import org.apache.spark.sql.functions.{col => c}
    val df = Seq(
      ("nl", "der\ndie\nund\ndas\nist"), // German, newline-separated
      ("sp", "der die und das ist"))     // same words, space-separated
      .toDF("id", "text")
      .select(c("id"),
        TextAnalysis.langid(c("text")).as("lang"),
        TextAnalysis.stopwordDensity(c("text"), "de").as("de_density"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    // a space-only word-boundary sentinel made every newline-adjacent word
    // invisible: langid fell back to 'en' and density scored 0
    assert(df("sp") === ("de", 1.0))
    assert(df("nl") === ("de", 1.0),
      "newline-separated stopwords must count exactly like space-separated ones")
  }

  test("canonicalizeUrl keeps queries containing a literal '?'") {
    import org.apache.spark.sql.functions.{col => c}
    val r = Seq(
      "https://a.io/s?q=what?&lang=en",
      "https://a.io/s?q=other?&lang=en",
      "https://a.io/p#f?x=1") // '?' only inside the fragment: no query
      .toDF("url").select(Web.canonicalizeUrl(c("url")).as("cu"))
      .as[String].collect().toSeq
    assert(r(0) === "https://a.io/s?lang=en&q=what?")
    assert(r(1) === "https://a.io/s?lang=en&q=other?",
      "distinct multi-'?' queries must not collide on one canonical key")
    assert(r(2) === "https://a.io/p")
  }

  test("domainCap caps the NULL-domain group like any other") {
    val rows = (1 to 10).map(i => (i.toLong, if (i <= 8) null else "ok.io"))
      .toDF("doc_id", "dom")
    val capped = Web.domainCap(rows, "dom", "doc_id", cap = 3)
    assert(capped.filter(col("dom").isNull).count() === 3,
      "an unattributable NULL-domain mass must not bypass the cap")
    assert(capped.filter(col("dom") === "ok.io").count() === 2)
  }

  test("minhashDedup works when idCol is literally 'id' (no ambiguous join)") {
    val byId = Dedup.minhashDedup(
      docs.withColumnRenamed("doc_id", "id"), "id", "text", threshold = 0.5)
      .select("id", "dup_group")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) === 0L && byId(3L) === 0L && byId(1L) === 0L && byId(2L) === 2L)
    val cc = Dedup.minhashDedupCC(
      docs.withColumnRenamed("doc_id", "id"), "id", "text", threshold = 0.5)
      .select("id", "dup_group")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(0L) === 0L && cc(2L) === 2L)
  }

  test("connectedComponents refuses to return non-converged (wrong) labels") {
    // a pure chain of diameter 24: maxIter=3 cannot converge — silent
    // partial labels would split one component (leakageSafeSplit's leak)
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 3).collect())
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain converges to one component
    val comps = Dedup.connectedComponents(chain, maxIter = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.values.toSet === Set(0L))
  }

  test("connectedComponents: transitive closure via min-label propagation") {
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), island 10-11,
    // self-contained pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L && comps(4L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
    assert(comps(20L) === 20L && comps(21L) === 20L)
  }

  test("minhashDedupCC groups transitively where star-clustering cannot") {
    val comps = Dedup.minhashDedupCC(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id", "dup_group")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same clusters as minhashDedup on this corpus, plus isolated docs
    // keep their own id
    assert(comps(0L) === 0L && comps(3L) === 0L && comps(1L) === 0L)
    assert(comps(2L) === 2L)
  }

  test("NearDupIndex: batches dedup against the persisted corpus incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndi-").toString
    val idx = new NearDupIndex(spark, s"$dir/idx")
    val base = "the quick brown fox jumps over the lazy dog again and again in the field"
    // batch 1: two unrelated docs -> no dups, index grows to 2
    val b1 = Seq((1L, base), (2L, "completely different content about spark partitions and shuffles"))
      .toDF("doc_id", "text")
    assert(idx.detectAndAdd(b1, "doc_id", "text").count() === 0)
    assert(idx.indexedCount === 2)
    // batch 2: near-dup of doc 1 + a fresh doc -> one cross-batch match
    val b2 = Seq((10L, base + " tonight"), (11L, "yet another unrelated piece of text entirely"))
      .toDF("doc_id", "text")
    val hits2 = idx.detectAndAdd(b2, "doc_id", "text")
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(hits2 === Set((10L, 1L)))
    assert(idx.indexedCount === 4)
    // batch 3: exact dup of batch-2 doc + intra-batch dup pair
    val b3 = Seq((20L, "yet another unrelated piece of text entirely"),
      (21L, "fresh text nobody has seen before today"),
      (22L, "fresh text nobody has seen before today"))
      .toDF("doc_id", "text")
    val hits3 = idx.detectAndAdd(b3, "doc_id", "text")
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(hits3 === Set((20L, 11L), (22L, 21L)))
    assert(idx.indexedCount === 7)
  }

  test("simhashSignatures (codegen path) agrees with simhash64 expression") {
    val expr = docs.select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr === fast)
  }

  test("simhashCandidatePairs finds the near-dup pair") {
    // maxHamming=7 is the guaranteed-recall cap for the 8x8-bit banding
    val pairs = Dedup.simhashCandidatePairs(docs, "doc_id", "text", maxHamming = 7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("simhashCandidatePairs portable path matches recall contract") {
    val pairs = Dedup.simhashCandidatePairs(docs, "doc_id", "text",
        maxHamming = 5, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every returned pair respects the hamming cap; banding guarantees none
    // with hamming <= 5 are missed (pigeonhole over 6 bands)
    assert(pairs.forall(_._3 <= 5))
    assert(intercept[IllegalArgumentException] {
      Dedup.simhashCandidatePairs(docs, "doc_id", "text", maxHamming = 6, portable = true)
    }.getMessage.contains("hamming <= 5"))
  }

  test("ngramJaccard exact on known strings") {
    val j = Seq(("abcdefg", "abcdefg"), ("abcdefg", "zzzzzzz"))
      .toDF("a", "b")
      .select(Dedup.ngramJaccard(col("a"), col("b"), 5).as("j"))
      .collect().map(_.getDouble(0)).toSeq
    assert(j(0) === 1.0)
    assert(j(1) === 0.0)
  }

  test("annTopK recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annTopK(emb, probes, "vec_id", "embedding", 5,
      nTables = 8, bitsPerTable = 4)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("lshBucketRows: a NULL vector in the FIRST row must not blank the frame") {
    // the dimensionality probe reads one row; a null vector there used to
    // read size() as null and return the empty bucket frame — silently
    // dropping every non-null row's ANN candidates
    val rows = Seq((0L, null.asInstanceOf[Array[Float]]),
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .orderBy(col("vec_id")).coalesce(1) // pin the null row first
    val buckets = Similarity.lshBucketRows(df, "vec_id", "embedding", 4, 4,
      portable = true)
    val ids = buckets.select("id").distinct().as[Long].collect().toSet
    assert(ids === Set(1L, 2L), s"non-null vectors must bucket, got $ids")
    // all-null / empty frames still take the graceful empty return
    assert(Similarity.lshBucketRows(df.filter(col("embedding").isNull),
      "vec_id", "embedding", 4, 4).count() === 0)
  }

  test("ivfTopK recall vs brute force; cells partition the corpus") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 3)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // nProbe/nLists = 3/8 of the corpus searched; near-random embeddings
    // (TESTDATA) make this a meaningful non-trivial bound
    assert(recall >= 0.4, s"recall=$recall")

    // every corpus vector lands in exactly one cell
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    assert(cents.count() === 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    assert(assigned.count() === emb.count())
    assert(assigned.select("id").distinct().count() === emb.count())
    assert(assigned.select("list_id").distinct().count() <= 8)
  }

  test("ivfTopK corpusFilter: pre-filter hybrid search ranks among survivors only") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val pred = col("label").isin(1, 3, 5)
    val filtered = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 3, corpusFilter = Some(pred)).cache()

    // every neighbor satisfies the predicate
    val allowed = emb.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val neighbors = filtered.select("neighbor_id").collect().map(_.getLong(0))
    assert(neighbors.nonEmpty && neighbors.forall(allowed))

    // full k per probe (141/500 survivors share cells at this budget) with
    // dense ranks — the pre-filter guarantee a post-filtered k-list breaks
    val perProbe = filtered.groupBy("probe_id")
      .agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
      .collect()
    assert(perProbe.length === 10)
    perProbe.foreach(r => assert(r.getLong(1) === 5L && r.getInt(2) === 5))

    // pre-filter genuinely re-ranks: the filtered top-5 contains survivors
    // the unfiltered top-5 never surfaced (post-filtering it would lose them)
    val unfiltered = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 3)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val extra = filtered.select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .count(p => !unfiltered(p))
    assert(extra > 0, "filtered top-k should surface survivors the unfiltered top-k ranked out")
    filtered.unpersist()
  }

  test("ivfPqTopK: neighbors come only from probed cells; ADC recall is meaningful") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val got = Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 3, m = 4, codebookSize = 16).collect()
    assert(got.length === 50) // 10 probes x 5
    assert(got.forall(_.getLong(3) >= 0L), "ADC distances are BIGINT sums")

    // cell containment: every returned neighbor's IVF cell is one of its
    // probe's nProbe probed cells — IVFADC never scores outside the
    // probed inverted lists
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val cellOf = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probedCells = Similarity.ivfAssign(probes, "vec_id", "embedding", cents, topN = 3)
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getInt(1)).toSet }
    got.foreach { r =>
      val (p, n) = (r.getLong(0), r.getLong(1))
      assert(probedCells(p).contains(cellOf(n)),
        s"neighbor $n (cell ${cellOf(n)}) outside probe $p's probed cells ${probedCells(p)}")
    }

    // recall: an untrained (iters=0) codebook on uniform-random vectors is
    // PQ's worst case — assert only beats-random there (random-within-
    // probed-cells ≈ k/(0.375·n) ≈ 0.027 baseline), then assert Lloyd
    // training on the residuals actually buys recall: two iterations beat
    // untrained AND beat raw-vector pqTopK (0.08 vs 0.06 measured) even
    // though IVFPQ scores only 3/8 of the corpus
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r0 = recallOf(got)
    assert(r0 >= 0.02, s"untrained recall=$r0 must beat random (~0.01)")
    val r2 = recallOf(Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 3, m = 4, codebookSize = 16, iters = 2)
      .select("probe_id", "neighbor_id").collect())
    assert(r2 > r0, s"trained recall=$r2 should beat untrained $r0")
    assert(r2 >= 0.05, s"trained recall=$r2")
  }

  test("pqTopK: codes cover every (row, subspace); ADC recall is meaningful") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val pq = Similarity.pqTopK(emb, probes, "vec_id", "embedding", k = 5,
      m = 4, codebookSize = 16)
    val got = pq.collect()
    assert(got.length === 50) // 10 probes x 5
    assert(got.forall(r => r.getLong(3) >= 0L), "ADC distances are BIGINT sums")
    // recall against exact L2-ish ranking: an iters=0 codebook on random
    // embeddings is the WEAKEST PQ config — the bound is intentionally
    // loose; production trains sub-codebooks with kmeansAssignments
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.05, s"recall=$recall — ADC must beat random (k/n = 0.01)")
  }

  test("pqTopK training: per-subspace Lloyd iterations cut total ADC self-distortion") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 20)
    // self-ADC: each probe scored against the corpus containing itself;
    // rank-1 distance measures how well codes reconstruct the probe's
    // neighborhood. Summed over probes it must not increase with training
    // (Lloyd: assignment min + mean update both minimize).
    def cost(iters: Int): Long = Similarity.pqTopK(
        emb, probes, "vec_id", "embedding", k = 1,
        m = 4, codebookSize = 16, iters = iters)
      .agg(sum(col("dist"))).head().getLong(0)
    val untrained = cost(0)
    val trained = cost(2)
    assert(trained <= untrained,
      s"training increased distortion: iters0=$untrained iters2=$trained")
  }

  test("sqTopK: 8-bit codes preserve L2 neighbors; codes are one byte/dim") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    // exact float L2 top-5 baseline: ||p-n||^2 = <p,p> + <n,n> - 2<p,n>
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("d"), col("neighbor_id"))
    val exact = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .withColumn("d",
        Similarity.dot(col("pv"), col("pv")) + Similarity.dot(col("nv"), col("nv"))
          - lit(2.0) * Similarity.dot(col("pv"), col("nv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.sqTopK(emb, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 256 levels/dim quantization error is far below neighbor separation
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
    // the compression claim is literal: one byte per dimension
    val (mins, steps) = Similarity.sqDimStats(emb, "embedding")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val lens = Similarity.sqEncode(emb, "vec_id", "embedding", mins, steps)
      .select(length(col("codes"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(lens === Seq(dims))
  }

  test("kmeansAssignments: deterministic, covers corpus, Lloyd updates cut cost") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val rows = Similarity.kmeansAssignments(emb, "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length === emb.count())
    assert(rows.map(_._2).toSet.subsetOf((0 until 8).toSet))
    // bit-for-bit deterministic on re-run (no RNG, no order dependence)
    val again = Similarity.kmeansAssignments(emb, "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSet === again.toSet)
    // Lloyd monotonicity: cost under updated centroids <= under the init
    def cost(iters: Int): Long =
      Similarity.kmeansAssignments(emb, "vec_id", "embedding", k = 8, iters = iters)
        .agg(sum(col("qdist"))).head().getLong(0)
    assert(cost(2) <= cost(0))
  }

  test("AnnIndex: add-once query-many matches one-shot annTopK results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    // index built in two incremental halves
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    assert(idx.indexedCount === emb.count())
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    // identical hash family + scoring => identical results to the
    // one-shot operator over the same corpus
    val oneShot = Similarity.annTopK(emb, probes, "vec_id", "embedding", 5,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
  }

  test("AnnIndex: query file-prunes the clustered buckets table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annprune-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    // two commits -> many tb-clustered files with tight min/max stats
    // (appendClustered files = shuffle partitions; the suite default of 4
    // gives files so wide no probe set could prune them)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
      idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val total = idx.bucketsTable.liveFiles().size
    // replicate query()'s pruning predicate for the same probe set
    val probes = emb.filter(col("vec_id") < 2)
    val keys = Similarity.lshBucketRows(probes, "vec_id", "embedding", 8, 6, portable = true)
      .select((col("tbl").cast("long") * lit(1L << 32) + col("bucket").cast("long")).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val scanned = idx.bucketsTable.prunedFiles(col("tb").isin(keys: _*)).size
    assert(scanned < total,
      s"IN-pruning must skip files: scanned $scanned of $total")
    // and the pruned query is still exactly the one-shot result
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.annTopK(emb, probes, "vec_id", "embedding", 5,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
  }

  test("AnnIndex: ingestToken makes at-least-once replays idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-replay-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    val half = emb.filter(col("vec_id") % 2 === 0)
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    val count = idx.indexedCount
    val bucketRows = idx.bucketsTable.read().count()
    // replay: without the token this would double-insert every row and
    // every later query would emit duplicate rescore rows
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    assert(idx.indexedCount === count)
    assert(idx.bucketsTable.read().count() === bucketRows)
    // queries after the replay equal the one-shot operator over the half
    val probes = emb.filter(col("vec_id") < 3)
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.annTopK(half, probes, "vec_id", "embedding", 3,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("annTopKMultiprobe: recall never below single-probe at equal index cost") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
      k = 5, deterministic = true))
    val single = pairs(Similarity.annTopK(emb, probes, "vec_id", "embedding", 5,
      nTables = 4, bitsPerTable = 6, portable = true))
    val multi = pairs(Similarity.annTopKMultiprobe(emb, probes, "vec_id", "embedding", 5,
      nTables = 4, bitsPerTable = 6, portable = true))
    // candidate superset => recall@k cannot drop
    assert((multi & truth).size >= (single & truth).size,
      s"multiprobe recall ${(multi & truth).size} < single ${(single & truth).size}")
    assert(multi.nonEmpty)
  }

  test("AnnIndex: legacy pre-tb stores still serve and stay flat on new adds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-legacy-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val half = emb.filter(col("vec_id") % 2 === 0)
    // simulate an index written by the pre-tb layout: raw stores without
    // the composite key column
    graft.tables.GraftTable(spark, s"$dir/idx/buckets").append(
      Similarity.lshBucketRows(half, "vec_id", "embedding", 8, 6, portable = true)
        .select(col("id").as("vec_id"), col("tbl"), col("bucket")))
    graft.tables.GraftTable(spark, s"$dir/idx/vectors").append(
      half.select(col("vec_id"), col("embedding").as("vec"),
        Similarity.quantizedDot(col("embedding"), col("embedding")).as("sq")))
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    val probes = emb.filter(col("vec_id") < 3)
    // pre-upgrade rows must NOT be dropped (tb filter would NULL them out)
    val got = idx.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val want = Similarity.annTopK(half, probes, "vec_id", "embedding", 3,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(got === want)
    // a new add keeps the store homogeneous (flat, no tb mixing)
    idx.add(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    assert(!idx.bucketsTable.read().columns.contains("tb"))
    val gotAll = idx.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val wantAll = Similarity.annTopK(emb, probes, "vec_id", "embedding", 3,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(gotAll === wantAll)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("AnnIndex: a purge through another instance re-opens the vector width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-rewidth-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def open() = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    val a = open()
    val b = open()
    // A memoizes the stored width with its own add
    a.add(emb, "vec_id", "embedding")
    // B empties the store: every id tombstoned, then purged
    b.remove(emb.select("vec_id"), "vec_id")
    b.purge()
    assert(a.indexedCount === 0L)
    // A adds a narrower width under fresh ids: the store moved under A,
    // so A must probe the width again instead of rejecting the batch
    val narrow = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    a.add(narrow, "vec_id", "embedding")
    assert(a.indexedCount === emb.count())
    val probes = narrow.filter(col("vec_id") < 1000005L)
    val got = a.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val want = Similarity.annTopK(narrow, probes, "vec_id", "embedding", 3,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(got.nonEmpty && got === want)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("AnnIndex: empty probe frame returns an empty typed result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-empty-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new AnnIndex(spark, s"$dir/idx", portable = true)
    idx.add(emb, "vec_id", "embedding")
    val out = idx.query(emb.filter(col("vec_id") < 0), "vec_id", "embedding", k = 3)
    assert(out.columns.toSeq === Seq("probe_id", "neighbor_id", "rnk", "sim"))
    assert(out.count() === 0)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("AnnIndex: store maintenance bounds files across many adds, query unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-compact-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // aggressive maintenance: compact whenever a store exceeds 4 files
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(maxNumFilesAllowed = 4)
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    // eight adds — unmaintained this would be 8 x files-per-add
    (0 until 8).foreach(i =>
      idx.add(emb.filter(col("vec_id") % 8 === i), "vec_id", "embedding"))
    assert(idx.indexedCount === emb.count())
    val bucketFiles = idx.bucketsTable.liveFiles().size
    assert(bucketFiles <= 4 + spark.sessionState.conf.numShufflePartitions,
      s"maintenance must bound the buckets store, got $bucketFiles files")
    assert(idx.vectorsTable.liveFiles().size <= 4 + spark.sessionState.conf.numShufflePartitions)
    // compaction was clustered: results still match the one-shot operator
    val probes = emb.filter(col("vec_id") < 3)
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.annTopK(emb, probes, "vec_id", "embedding", 5,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("indexes persist: a fresh instance on the same path serves queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-reopen-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    new AnnIndex(spark, s"$dir/ann", portable = true)
      .add(emb, "vec_id", "embedding")
    // simulate a restart: new instance, no shared state
    val reopened = new AnnIndex(spark, s"$dir/ann", portable = true)
    assert(reopened.indexedCount === emb.count())
    assert(reopened.query(emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
      .count() === 9)

    val ndi = new NearDupIndex(spark, s"$dir/ndi")
    ndi.detectAndAdd(Seq((1L, "some unique document text for the reopen test"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val ndiReopened = new NearDupIndex(spark, s"$dir/ndi")
    assert(ndiReopened.indexedCount === 1)
    val hits = ndiReopened.detectAndAdd(
      Seq((2L, "some unique document text for the reopen test"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("id_new", "id_matched").as[(Long, Long)].collect().toSet
    assert(hits === Set((2L, 1L)), "dup detected against the pre-restart corpus")
  }

  test("quantizedCosine tracks cosine") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(20)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val diffs = a.join(b, col("ida") < col("idb"))
      .select(abs(Similarity.cosine(col("va"), col("vb")) -
        Similarity.quantizedCosine(col("va"), col("vb"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diffs < 1e-9)
  }

  test("joinAsOf: strict most-recent-prior semantics") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 09:00:00"), 200L)
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 900L),
      (1L, ts("2024-01-01 10:00:00"), 901L), // equal ts: must NOT match e100 (strict)
      (1L, ts("2024-01-01 11:00:00"), 902L),
      (3L, ts("2024-01-01 08:00:00"), 903L)
    ).toDF("user_id", "ts", "event_id")
    val out = AsOf.joinAsOf(left, right, Seq("user_id"), "ts", "ts",
        Seq("event_id"), "event_id")
      .select("event_id", "asof_event_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(100L) === 900L) // 901 is same-instant -> excluded; 900 is prior
    assert(out(101L) === 902L)
    assert(out(200L) === -1L) // no prior click for user 2
  }

  test("joinAsOf: multi-column payload with nulls stays row-atomic") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 12:00:00"), 10L)).toDF("user_id", "ts", "lid")
    // the matched (most recent prior) right row has price=null; a
    // per-column ignoreNulls carry would fill price from the OLDER row,
    // mixing values from two right rows — the struct carry must not
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(99.0), "old"),
      (1L, ts("2024-01-01 11:00:00"), None: Option[Double], "new"))
      .toDF("user_id", "ts", "price", "tag")
    val r = AsOf.joinAsOf(left, right, Seq("user_id"), "ts", "ts",
        Seq("price", "tag"), "tag")
      .select("asof_price", "asof_tag").head()
    assert(r.isNullAt(0), s"price must be the matched row's NULL, not the older 99.0: $r")
    assert(r.getString(1) === "new")
  }

  test("tfidfTopTerms: rare terms outrank common ones; topK and rank ordering hold") {
    val df = Seq(
      (0L, "alpha alpha alpha shared"),
      (1L, "beta shared shared"),
      (2L, "gamma shared")).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", topK = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getLong(3)))
    // 'shared' appears in all 3 docs -> idf 0 -> score 0; each doc's
    // unique term must rank 1 with a positive score
    val rank1 = r.filter(_._2 == 1).sortBy(_._1)
    assert(rank1.map(_._3).toSeq === Seq("alpha", "beta", "gamma"))
    assert(rank1.forall(_._4 > 0))
    assert(r.filter(_._2 == 2).forall(_._4 == 0L)) // 'shared' rides second at 0
    assert(r.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("mixtureSample: exact quotas, determinism under repartition, unweighted strata drop") {
    val df = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
      .toDF("doc_id", "lang")
    val w = Map("en" -> 600000L, "de" -> 400000L) // 60/40; "xx" unweighted
    val r = TextAnalysis.mixtureSample(df, "doc_id", "lang", w)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    // n_en = n_de = 100; T = min(100e6/600000, 100e6/400000) = 166
    // keep_en = 600000*166 div 1e6 = 99; keep_de = 66
    val byLang = r.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 99, "de" -> 66), s"got $byLang")
    // deterministic under a different physical layout
    val r2 = TextAnalysis.mixtureSample(df.repartition(13), "doc_id", "lang", w)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.toSet === r2.toSet)
  }

  test("mixtureSample: a vanishing weight yields a zero quota, not an error") {
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    // T = min(50e6/999999, 50e6/1) = 50; keep_en = floor(999999*50/1e6) = 49,
    // keep_de = floor(1*50/1e6) = 0 — the de stratum contributes NOTHING
    // (boundary bucket takes 0) rather than erroring or over-sampling
    val r = TextAnalysis.mixtureSample(df, "doc_id", "lang",
        Map("en" -> 999999L, "de" -> 1L))
      .collect().map(x => (x.getLong(0), x.getString(1)))
    val byLang = r.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 49), s"got $byLang")
  }

  test("randomProjection: JL distance preservation on average; deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(60)
    val proj = Similarity.randomProjection(emb, "vec_id", "embedding", inDims = 64, outDims = 16)
    assert(proj.columns.toSeq === ("vec_id" +: (0 until 16).map(i => s"p$i")))
    // deterministic: two runs agree exactly
    val a = proj.orderBy("vec_id").collect().map(_.toSeq)
    val b = Similarity.randomProjection(emb, "vec_id", "embedding", 64, 16)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    // JL: squared distances in projected space scale ~ outDims relative
    // to original micro space ON AVERAGE (each output coord has
    // E[(s·x)^2] = ||x||^2 for +-1 signs, so E[||Sx||^2] = outDims *
    // ||x||^2). Check the mean ratio over pairs lands within 3x.
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x * 1e6).toLong))
      .toMap
    val prows = a.map(s => s.head.asInstanceOf[Long] ->
      s.tail.map(_.asInstanceOf[Long])).toMap
    val ids = rows.keys.toSeq.sorted.take(20)
    val ratios = for {
      x <- ids; y <- ids if x < y
      dOrig = rows(x).zip(rows(y)).map { case (u, v) => val d = (u - v).toDouble; d * d }.sum
      if dOrig > 0
      dProj = prows(x).zip(prows(y)).map { case (u, v) => val d = (u - v).toDouble; d * d }.sum
    } yield dProj / (dOrig * 16.0)
    val mean = ratios.sum / ratios.size
    assert(mean > 1.0 / 3 && mean < 3.0, s"JL mean ratio off: $mean")
  }

  test("centroidOutliers: flags the planted far point, keeps the cluster") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lbl", IntegerType),
      StructField("v", ArrayType(FloatType))))
    // 30 tight points + 1 far outlier in label 0; label 1 all tight
    val rows = (0 until 30).map(i => Row(i.toLong, 0, Array.fill(4)(0.01f * (i % 3)))) ++
      Seq(Row(99L, 0, Array.fill(4)(9.0f))) ++
      (100 until 120).map(i => Row(i.toLong, 1, Array.fill(4)(0.02f * (i % 2))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = Similarity.centroidOutliers(df, "id", "v", "lbl", tailPpm = 50000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(99L), "planted far point must be flagged")
    assert((0 until 30).forall(i => !out(i.toLong)), "tight cluster rows must not be flagged")
    // 5% of 21 rows in label 1 -> floor keeps all but the strict-greater tail
    assert(out.size === 51)
  }

  test("mmrRerank: step-1 is the top hit; later steps trade relevance for diversity") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 2)
    val mmr = Similarity.mmrRerank(emb, probes, "vec_id", "embedding",
      k = 3, poolSize = 10, lambdaPpm = 700000L).collect()
    val top = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
      k = 10, deterministic = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    for (p <- Seq(0L, 1L)) {
      val sel = mmr.filter(_.getLong(0) == p).sortBy(_.getInt(2))
      assert(sel.length === 3)
      assert(sel.map(_.getInt(2)).toSeq === Seq(1, 2, 3))
      // step 1 == the plain top-1
      val top1 = top.filter(t => t._1 == p && t._3 == 1).head
      assert(sel.head.getLong(1) === top1._2)
      assert(sel.head.getDouble(3) === top1._4)
      // every selection comes from the pool, no repeats
      val poolIds = top.filter(_._1 == p).map(_._2).toSet
      val ids = sel.map(_.getLong(1))
      assert(ids.distinct.length === 3 && ids.forall(poolIds))
      // MMR scores at steps 2+ are penalized: strictly below the raw sim
      // of the same doc (pool members here all have positive redundancy)
      val simOf = top.filter(_._1 == p).map(t => t._2 -> t._4).toMap
      sel.tail.foreach { r =>
        assert(r.getDouble(3) < simOf(r.getLong(1)),
          s"probe $p step ${r.getInt(2)}: score not redundancy-penalized")
      }
    }
    // deterministic across runs
    val again = Similarity.mmrRerank(emb, probes, "vec_id", "embedding", 3, 10, 700000L)
      .collect().map(_.toSeq).toSet
    assert(again === mmr.map(_.toSeq).toSet)
  }

  test("semDedup: duplicates point at a lower-id same-cluster row above threshold") {
    val base = (0 until 8).map(_.toDouble / 10).toArray
    val emb = Seq(
      (0L, base.map(_.toFloat)),
      (1L, base.map(x => (x + 0.001).toFloat)),        // near-dup of 0
      (2L, base.map(x => (-x).toFloat)),                // far from everything
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(emb, "vec_id", "embedding", k = 2, iters = 1,
        threshold = 0.99)
      .collect().map(x => (x.getLong(0), x.getInt(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), x.getBoolean(3)))
      .sortBy(_._1)
    assert(r.length === 4)
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId(1L)._4 && byId(1L)._3 === 0L, s"1 must dup onto 0: ${byId(1L)}")
    assert(!byId(0L)._4 && !byId(2L)._4 && !byId(3L)._4)
    // dup rows share a cluster with their representative
    assert(byId(1L)._2 === byId(0L)._2)
  }

  test("hardNegatives: only different-label rows, ranked by similarity") {
    def v(s: Double) = Array.tabulate(4)(i => (s + i * 0.01).toFloat)
    val corpus = Seq(
      (1L, v(1.0), 7),    // same label as probe -> excluded
      (2L, v(1.001), 2),  // different label, nearly identical -> rank 1
      (3L, v(0.9), 2),    // different label, close -> rank 2
      (4L, v(-3.0), 5))   // different label, far -> rank 3
      .toDF("vec_id", "embedding", "label")
    val probes = Seq((100L, v(1.0), 7)).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(corpus, probes, "vec_id", "embedding", "label", k = 3)
      .collect().map(x => (x.getInt(3), x.getLong(1), x.getInt(2))).sortBy(_._1)
    assert(r.map(_._2).toSeq === Seq(2L, 3L, 4L), s"got ${r.toSeq}")
    assert(r.forall(_._3 != 7), "a same-label row leaked into the negatives")
  }

  test("hardNegatives: a null-label probe still mines negatives from labeled rows") {
    def v(s: Double) = Array.tabulate(4)(i => (s + i * 0.01).toFloat)
    val corpus = Seq(
      (1L, v(1.0), java.lang.Integer.valueOf(7)),
      (2L, v(0.9), java.lang.Integer.valueOf(2)),
      (3L, v(0.8), null.asInstanceOf[java.lang.Integer])) // null label: same-as-null, not a negative
      .toDF("vec_id", "embedding", "label")
    val probes = Seq((100L, v(1.0), null.asInstanceOf[java.lang.Integer]))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(corpus, probes, "vec_id", "embedding", "label", k = 5)
      .select("neighbor_id").as[Long].collect().sorted.toSeq
    assert(r === Seq(1L, 2L),
      "null-label probes must mine labeled negatives; null-null is not a negative pair")
  }

  test("annTopK and lshBucketRows tolerate an EMPTY probe frame") {
    def v(s: Double) = Array.tabulate(4)(i => (s + i * 0.01).toFloat)
    val corpus = Seq((1L, v(1.0)), (2L, v(0.5))).toDF("vec_id", "embedding")
    val empty = corpus.limit(0)
    assert(Similarity.lshBucketRows(empty, "vec_id", "embedding", 4, 3).count() === 0)
    assert(Similarity.annTopK(corpus, empty, "vec_id", "embedding", k = 3).count() === 0)
    assert(Similarity.annTopKMultiprobe(corpus, empty, "vec_id", "embedding", k = 3)
      .count() === 0)
  }

  test("knnClassify: majority of the k nearest wins; ties break low") {
    // probes at the origin-ish corner; labeled corpus split into two
    // tight groups, the nearer group (label 7) holding the 3-of-5 majority
    def v(s: Double) = Array.tabulate(4)(i => (s + i * 0.01).toFloat)
    val corpus = Seq(
      (1L, v(1.0), 7), (2L, v(1.01), 7), (3L, v(0.99), 7),
      (4L, v(-5.0), 2), (5L, v(-5.01), 2))
      .toDF("vec_id", "embedding", "label")
    val probes = Seq((100L, v(1.005), 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(corpus, probes, "vec_id", "embedding", "label", k = 5)
      .head()
    assert(r.getLong(0) === 100L)
    assert(r.getInt(1) === 7)
    assert(r.getLong(2) === 3L)
  }

  test("AnnIndex: multiprobe query equals the one-shot multiprobe operator") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annmp-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    // probePerturbations = bitsPerTable reproduces the one-shot expansion
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5,
        probePerturbations = 6)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.annTopKMultiprobe(emb, probes, "vec_id", "embedding", 5,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("AnnIndex: multiprobe recall never below the plain query on the same index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annmp-recall-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    // few tables so single-probe recall has room to be beaten
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 4, bitsPerTable = 6,
      portable = true)
    idx.add(emb, "vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
      k = 5, deterministic = true))
    val single = pairs(idx.query(probes, "vec_id", "embedding", k = 5))
    val multi = pairs(idx.query(probes, "vec_id", "embedding", k = 5,
      probePerturbations = 6))
    // candidate superset => recall@k cannot drop — the knob a production
    // deployment turns instead of rebuilding the stored index
    assert((multi & truth).size >= (single & truth).size,
      s"multiprobe recall ${(multi & truth).size} < single ${(single & truth).size}")
    assert(multi.nonEmpty)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("AnnIndex: oversized probe key sets degrade to the full-scan path, same results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-anndegrade-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // cap the IN-prune at 16 keys: every multi-probe batch overflows it,
    // so the query must take the full-scan broadcast-join path — results
    // must not change, and no thousand-literal isin enters any plan
    implicit val st: graft.conf.GraftSettings =
      graft.conf.GraftSettings.default.copy(annPruneMaxKeys = 16)
    val idx = new AnnIndex(spark, s"$dir/idx", nTables = 8, bitsPerTable = 6,
      portable = true)
    idx.add(emb, "vec_id", "embedding")
    // 100 probes x 8 tables >> 16 keys — the pre-degrade code would plant
    // an ~800-literal IN expression; the degrade path plants none
    val probes = emb.filter(col("vec_id") < 100)
    val fromIndexDf = idx.query(probes, "vec_id", "embedding", k = 3)
    // the degraded plan carries NO probe-key IN set at all (Catalyst
    // renders large isin lists as INSET): plan size stays bounded no
    // matter how large the probe batch grows
    val plan = fromIndexDf.queryExecution.executedPlan.toString
    assert(!plan.contains("INSET"), s"degrade path must not plant an IN set:\n$plan")
    val fromIndex = fromIndexDf
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.annTopK(emb, probes, "vec_id", "embedding", 3,
        nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    // multiprobe composes with the degrade (7x the key set, same fallback)
    val mp = idx.query(emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3,
        probePerturbations = 6)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val mpOneShot = Similarity.annTopKMultiprobe(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", 3, nTables = 8, bitsPerTable = 6, portable = true)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(mp === mpOneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfIndex: train-once incremental adds match one-shot ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = new IvfIndex(spark, s"$dir/idx")
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    assert(idx.indexedCount === emb.count())
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    // a fresh instance on the same path serves identically (codebook and
    // cells both persisted)
    val reopened = new IvfIndex(spark, s"$dir/idx")
    assert(reopened.isTrained)
    val again = reopened.query(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(again === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfIndex: query file-prunes the cell-clustered store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfprune-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new IvfIndex(spark, s"$dir/idx")
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    // many shuffle partitions -> one file per cell range with tight
    // min/max list_id stats (the suite default of 4 packs cells together)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
      idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val total = idx.cellsTable.liveFiles().size
    // replicate query()'s pruning predicate for a 1-probe cell set
    val probes = emb.filter(col("vec_id") < 1)
    val cents = idx.centroidsTable.read().select("list_id", "cvec")
    val lists = Similarity.ivfAssign(probes, "vec_id", "embedding", cents, topN = 3)
      .select("list_id").distinct().as[Int].collect()
    val scanned = idx.cellsTable.prunedFiles(col("list_id").isin(lists.toSeq: _*)).size
    assert(scanned < total,
      s"IN-pruning must skip files: scanned $scanned of $total")
    // and the pruned query is still exactly the one-shot result
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfPqIndex: train-once incremental adds match one-shot ivfPqTopK; reopen; replay; pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqidx-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = new IvfPqIndex(spark, s"$dir/idx", m = 4, codebookSize = 16)
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    // many shuffle partitions -> one file per cell range with tight
    // min/max list_id stats (the suite default of 4 packs cells together)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        ingestToken = Some("b0"))
      idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        ingestToken = Some("b1"))
      // replayed token: no-op, not a double-insert
      idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        ingestToken = Some("b0"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(idx.indexedCount === emb.count())
    assert(idx.codesTable.read().count() === emb.count() * 4,
      "m code rows per vector, exactly once despite the replayed token")
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 3, m = 4, codebookSize = 16)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    // a fresh instance on the same path serves identically (both
    // codebooks and the clustered codes all persisted)
    val reopened = new IvfPqIndex(spark, s"$dir/idx", m = 4, codebookSize = 16)
    assert(reopened.isTrained)
    val again = reopened.query(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(again === oneShot)
    // reopening with a different m fails loudly (the PqIndex guard)
    val wrongM = new IvfPqIndex(spark, s"$dir/idx", m = 8)
    intercept[IllegalArgumentException] {
      wrongM.add(emb.limit(1), "vec_id", "embedding")
    }
    // the cell-clustered codes store file-prunes a 1-probe query's cells
    val total = idx.codesTable.liveFiles().size
    val one = emb.filter(col("vec_id") < 1)
    val cb = idx.coarseTable.read().select("list_id", "cvec")
    val lists = Similarity.ivfAssign(one, "vec_id", "embedding", cb, topN = 3)
      .select("list_id").distinct().as[Int].collect()
    val scanned = idx.codesTable.prunedFiles(col("list_id").isin(lists.toSeq: _*)).size
    assert(scanned < total,
      s"IN-pruning must skip files: scanned $scanned of $total")
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfIndex: attr columns + corpusFilter reproduce one-shot filtered ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-attr-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val pred = col("label").isin(1, 3, 5)
    val idx = new IvfIndex(spark, s"$dir/idx")
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      attrCols = Seq("label"))
    idx.add(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      attrCols = Seq("label"))
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5, nProbe = 3,
        corpusFilter = Some(pred))
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 3, corpusFilter = Some(pred))
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    // an add whose attr set mismatches the store's schema fails loudly
    intercept[Exception] {
      idx.add(emb.limit(1).withColumn("vec_id", col("vec_id") + 100000),
        "vec_id", "embedding") // no attrCols
    }
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfIndex: ingestToken makes at-least-once replays idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-replay-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new IvfIndex(spark, s"$dir/idx")
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    val half = emb.filter(col("vec_id") % 2 === 0)
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    val count = idx.indexedCount
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    assert(idx.indexedCount === count, "replayed token must not double-insert")
    // queries after the replay equal a never-replayed twin (same codebook)
    val clean = new IvfIndex(spark, s"$dir/clean")
    clean.train(emb, "vec_id", "embedding", nLists = 8)
    clean.add(half, "vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 3)
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 3, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val want = clean.query(probes, "vec_id", "embedding", k = 3, nProbe = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === want)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("PqIndex: train-once incremental adds match one-shot pqTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = new PqIndex(spark, s"$dir/idx", m = 4, codebookSize = 16)
    idx.train(emb, "vec_id", "embedding")
    idx.add(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    idx.add(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    assert(idx.indexedCount === emb.count())
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.pqTopK(emb, probes, "vec_id", "embedding", 5,
        m = 4, codebookSize = 16)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === oneShot)
    // a fresh instance on the same path serves identically (codebooks and
    // codes both persisted)
    val reopened = new PqIndex(spark, s"$dir/idx", m = 4, codebookSize = 16)
    assert(reopened.isTrained)
    val again = reopened.query(probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(again === oneShot)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("PqIndex: ingestToken makes at-least-once replays idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-replay-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new PqIndex(spark, s"$dir/idx")
    idx.train(emb, "vec_id", "embedding")
    val half = emb.filter(col("vec_id") % 2 === 0)
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    val count = idx.indexedCount
    idx.add(half, "vec_id", "embedding", ingestToken = Some("b0"))
    assert(idx.indexedCount === count, "replayed token must not double-insert")
    val clean = new PqIndex(spark, s"$dir/clean")
    clean.train(emb, "vec_id", "embedding")
    clean.add(half, "vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 3)
    val fromIndex = idx.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val want = clean.query(probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex === want)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("PqIndex: empty probe frame, dims mismatch and untrained guards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-guards-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new PqIndex(spark, s"$dir/idx")
    intercept[IllegalArgumentException] {
      idx.add(emb, "vec_id", "embedding") // untrained
    }
    idx.train(emb, "vec_id", "embedding")
    intercept[IllegalArgumentException] {
      idx.train(emb, "vec_id", "embedding") // double-train
    }
    idx.add(emb, "vec_id", "embedding")
    intercept[IllegalArgumentException] { // trained at 64 dims, probed at 3
      idx.query(emb.limit(3).select(col("vec_id"),
        array(lit(1f), lit(2f), lit(3f)).as("embedding")),
        "vec_id", "embedding", k = 3)
    }
    val out = idx.query(emb.filter(col("vec_id") < 0), "vec_id", "embedding", k = 3)
    assert(out.columns.toSeq === Seq("probe_id", "neighbor_id", "rnk", "dist"))
    assert(out.count() === 0)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("IvfIndex: empty probe frame and untrained/empty guards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-guards-").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val idx = new IvfIndex(spark, s"$dir/idx")
    intercept[IllegalArgumentException] {
      idx.add(emb, "vec_id", "embedding") // untrained
    }
    idx.train(emb, "vec_id", "embedding", nLists = 8)
    intercept[IllegalArgumentException] {
      idx.train(emb, "vec_id", "embedding", nLists = 8) // double-train
    }
    idx.add(emb, "vec_id", "embedding")
    val out = idx.query(emb.filter(col("vec_id") < 0), "vec_id", "embedding", k = 3)
    assert(out.columns.toSeq === Seq("probe_id", "neighbor_id", "rnk", "sim"))
    assert(out.count() === 0)
    graft.lake.FsUtils.deletePath(spark, s"file://$dir")
  }

  test("exactRerank over a full-width shortlist reproduces brute-force top-k") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").filter(col("vec_id") < 60)
    val probes = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
      k = 5, deterministic = true)
    val wide = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
      k = 60, deterministic = true) // shortlist = everything
    val reranked = Similarity.exactRerank(wide, emb, probes, "vec_id", "embedding", k = 5)
    val a = brute.select("probe_id", "neighbor_id", "rnk").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = reranked.select("probe_id", "neighbor_id", "rnk").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a === b)
  }

  test("tokenBudgetFill: strict best-scoring prefix within the budget, overflow doc excluded") {
    import spark.implicits._
    val pool = Seq(
      (1L, 10, 90L), (2L, 10, 80L), (3L, 10, 70L), (4L, 10, 60L), (5L, 3, 60L))
      .toDF("doc_id", "n_tokens", "score")
    // budget 25: docs 1,2 fit (20); doc 3 would overflow to 30 -> cut there,
    // and NOTHING after the cut sneaks in even if it would fit (strict prefix)
    val got = TextAnalysis.tokenBudgetFill(pool, "doc_id", "n_tokens", "score", 25L)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
    // ties broken by doc_id: 4 (ties 5 on score, lower id... 4 < 5) first
    val tied = TextAnalysis.tokenBudgetFill(pool, "doc_id", "n_tokens", "score", 43L)
      .select("doc_id").as[Long].collect().toSet
    assert(tied === Set(1L, 2L, 3L, 4L, 5L)) // 10+10+10+10+3
  }

  test("epochPlan: whole epochs replicate, fractional admits by hash, unmapped default 1x") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, if (i < 100) "wiki" else "web"))
      .toDF("doc_id", "domain")
    val plan = TextAnalysis.epochPlan(docs, "doc_id", "domain",
      Map("wiki" -> 2500000L)) // 2.5 epochs; web unmapped -> 1
    val perDoc = plan.groupBy("doc_id", "domain").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(perDoc.filter(_._2 == "web").forall(_._3 == 1L))
    val wiki = perDoc.filter(_._2 == "wiki")
    assert(wiki.forall(d => d._3 == 2L || d._3 == 3L))
    val three = wiki.count(_._3 == 3L)
    assert(three > 20 && three < 80, s"fractional admission off: $three/100 at 3 epochs")
    // epochs numbered 1..n
    val eps = plan.filter($"domain" === "wiki").groupBy("doc_id")
      .agg(min("epoch").as("lo"), max("epoch").as("hi")).collect()
    assert(eps.forall(r => r.getInt(1) === 1 && r.getInt(2) >= 2))
    // deterministic: second invocation identical
    val again = TextAnalysis.epochPlan(docs, "doc_id", "domain", Map("wiki" -> 2500000L))
      .groupBy("doc_id", "domain").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again === perDoc.toSet)
  }
}
