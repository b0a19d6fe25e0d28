package graft.perfbench

import graft.conf.GraftSettings
import graft.ext.{IvfIndex, IvfPqIndex, LexIndex, Similarity}
import graft.tables.GraftTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** Read-heavy retrieval serving. Set-up indexes seeded clustered vectors
  * and their documents once (IvfIndex carrying a label, IvfPqIndex,
  * LexIndex) beside a primary corpus table. Each op serves a batch of
  * probes through three legs, each forced: an IVF-PQ shortlist re-ranked by
  * `Similarity.exactRerank`; a label-filtered `IvfIndex.query`; and a
  * `LexIndex.search` shortlist fused with the re-ranked vector shortlist by
  * `Similarity.rrfFuse`. Every `AddEvery`-th op first adds a small batch of
  * vectors and documents everywhere. An item is one probe answered.
  *
  * It commits little, so it shows read-path and index-operator changes
  * and predicts no change from commit-path work. */
final class RetrievalWorkload(ctx: Ctx) extends Workload {
  import RetrievalWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private implicit val settings: GraftSettings = GraftSettings.local(ctx.lake.toString)

  val warmupOps = 1
  val measuredOps: Int = math.max(4, math.round(ctx.seconds * OpsPerSecond).toInt)
  private val totalOps = warmupOps + measuredOps
  private def adds(i: Int): Boolean = i % AddEvery == AddEvery - 1
  private val nAdds = (0 until totalOps).count(adds)

  // ----------------------------------------------------------- generation

  private val rng = new java.util.Random(ctx.seed)
  private val centers = Array.fill(Clusters, Dims)(rng.nextGaussian().toFloat)
  private val topics = Array.tabulate(Clusters)(c => Array.tabulate(TopicWords)(j =>
    Text.Vocab((c * TopicWords + j) % Text.Vocab.size)))

  final case class Doc(id: Long, label: Int, vec: Array[Float], text: String)

  private def doc(id: Long): Doc = {
    val c = rng.nextInt(Clusters)
    val v = Array.tabulate(Dims)(d => centers(c)(d) + (Noise * rng.nextGaussian()).toFloat)
    val n = 12 + rng.nextInt(20)
    val words = Seq.fill(n)(
      if (rng.nextDouble() < 0.5) topics(c)(rng.nextInt(TopicWords)) else Text.Vocab(rng.nextInt(Text.Vocab.size)))
    Doc(id, rng.nextInt(Labels), v, words.mkString(" "))
  }

  /** Corpus rows in id order: the set-up corpus, then each add's batch. */
  private val docs: Vector[Doc] = (0L until (CorpusSize + nAdds * AddSize).toLong).map(doc).toVector
  private val probes: Vector[Vector[Doc]] = (0 until totalOps).map(i =>
    (0 until ProbesPerOp).map(j => doc(ProbeIdBase + i.toLong * ProbesPerOp + j)).toVector).toVector
  private val lookups: Vector[Vector[Seq[Long]]] = (0 until totalOps).map(_ =>
    (0 until LookupsPerRead).map(_ =>
      Seq.fill(KeysPerLookup)(rng.nextInt(CorpusSize).toLong).distinct).toVector).toVector

  val inputBytes: Long =
    (docs ++ probes.flatten).map(d => 8L + 4 + Dims * 4 + d.text.length).sum

  def inputDigest: String = Workload.digest(
    (docs ++ probes.flatten).map(d => (d.id, d.label, d.text, d.vec.toSeq)) ++ lookups.flatten)

  /** How many corpus rows are visible (set-up corpus plus adds so far). */
  private var visible = CorpusSize

  // ----------------------------------------------------------- the lake

  private val corpusPath = ctx.lake.resolve("corpus").toString
  private val corpusTable = GraftTable(spark, corpusPath)
  private val ivf = new IvfIndex(spark, ctx.lake.resolve("ivf").toString)
  private val ivfPq = new IvfPqIndex(spark, ctx.lake.resolve("ivfpq").toString, m = PqM, codebookSize = PqCodebook)
  private val lex = new LexIndex(spark, ctx.lake.resolve("lex").toString)

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(ds.map(d => Row(d.id, d.label, d.text, d.vec.toSeq)).asJava, DocSchema)

  private def addAll(df: DataFrame): Unit = {
    corpusTable.append(df)
    ivf.add(df, "vec_id", "embedding", attrCols = Seq("label"))
    ivfPq.add(df.select("vec_id", "embedding"), "vec_id", "embedding")
    lex.add(df.select("vec_id", "text"), "vec_id", "text")
  }

  def bootstrap(): Unit = {
    val df = frame(docs.take(CorpusSize))
    ivf.train(df, "vec_id", "embedding", NLists)
    ivfPq.train(df, "vec_id", "embedding", NLists)
    addAll(df)
  }

  // ------------------------------------------------------------- serving

  private def simsTo(p: Doc, ids: Iterable[Long]): Seq[(Long, Double)] =
    ids.toSeq.map(id => id -> Exact.cosine(p.vec, docs(id.toInt).vec))

  private def topK(scored: Seq[(Long, Double)], k: Int): Seq[Long] =
    scored.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  private def byProbe(rows: Array[Row]): Map[Long, Seq[Row]] =
    rows.toSeq.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.sortBy(_.getInt(2)) }

  private var recallHits = 0L
  private var recallTotal = 0L

  def op(i: Int): OpOutcome = {
    if (adds(i)) tracer.span("ext.index_add") {
      val from = visible
      addAll(frame(docs.slice(from, from + AddSize)))
      visible += AddSize
    }
    val ps = probes(i)
    val probeDf = frame(ps).select("vec_id", "embedding")
    val queryDf = frame(ps).select("vec_id", "text")

    val (shortlist, reranked) = tracer.span("ext.ivfpq_rerank") {
      val sl = ivfPq.query(probeDf, "vec_id", "embedding", k = Shortlist, nProbe = NProbe)
        .select("probe_id", "neighbor_id").collect()
      val slDf = spark.createDataFrame(sl.toSeq.asJava, CandidateSchema)
      (sl, Similarity.exactRerank(slDf, corpusTable.read(), probeDf, "vec_id", "embedding", k = K)
        .collect())
    }
    val label = i % Labels
    val filtered = tracer.span("ext.ivf_filtered") {
      ivf.query(probeDf, "vec_id", "embedding", k = K, nProbe = NProbe,
        corpusFilter = Some(col("label") === label)).collect()
    }
    // the re-ranked vector shortlist fused with a lexical one
    val (vecRows, lexRows, fused) = tracer.span("ext.hybrid") {
      val vecRows = reranked.map(r => Row(r.getLong(0), r.getLong(1), r.getInt(2)))
      val lexRows = lex.search(queryDf, "vec_id", "text", k = HybridK)
        .select(col("query_id").as("probe_id"), col("doc_id").as("neighbor_id"), col("rnk")).collect()
      val lists = Seq(vecRows, lexRows).map(rs => spark.createDataFrame(rs.toSeq.asJava, RankSchema))
      (vecRows, lexRows, Similarity.rrfFuse(lists, k = K).collect())
    }

    OpOutcome(ps.size, () => {
      val seen = visible
      def check(ok: Boolean, what: => String): Unit =
        if (!ok) throw new IllegalStateException(s"op $i: $what")
      val sl = shortlist.toSeq.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)) }
      val rr = byProbe(reranked)
      val fl = byProbe(filtered)
      val fu = byProbe(fused)
      ps.foreach { p =>
        val cands = sl.getOrElse(p.id, Nil)
        check(cands.forall(_ < seen), s"shortlist of ${p.id} names an id not yet added")
        val want = topK(simsTo(p, cands), K)
        val got = rr.getOrElse(p.id, Nil).map(_.getLong(1))
        check(got == want, s"rerank of probe ${p.id}: got $got, brute force $want")
        val truth = topK(simsTo(p, 0L until seen.toLong), K)
        recallHits += truth.count(cands.contains)
        recallTotal += truth.size

        val f = fl.getOrElse(p.id, Nil)
        check(f.size <= K && f.map(_.getInt(2)) == (1 to f.size),
          s"filtered result of probe ${p.id} is not a ranked top-$K")
        f.foreach { r =>
          val id = r.getLong(1)
          check(id < seen && docs(id.toInt).label == label,
            s"filtered result $id of probe ${p.id} fails label = $label")
        }

        val lists = Seq(vecRows, lexRows).map(rs =>
          rs.toSeq.filter(_.getLong(0) == p.id).map(r => r.getLong(1) -> r.getInt(2)))
        val wantFused = Exact.rrf(lists, K)
        val gotFused = fu.getOrElse(p.id, Nil).map(_.getLong(1))
        check(gotFused == wantFused, s"fused result of probe ${p.id}: got $gotFused, want $wantFused")
      }
    })
  }

  def readUnit(i: Int): OpOutcome = {
    val t = GraftTable(spark, corpusPath)
    val results = lookups(i).map { ks =>
      ks -> t.readWhere(col("vec_id").isin(ks: _*)).select("vec_id", "label", "text").collect()
    }
    OpOutcome(results.map(_._2.length.toLong).sum, () => results.foreach { case (ks, rows) =>
      val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val want = ks.map(k => (k, docs(k.toInt).label, docs(k.toInt).text)).toSet
      if (got != want || rows.length != ks.size) throw new IllegalStateException(
        s"lookup ${ks.mkString(",")} after op $i returned ${rows.length} rows, not the model's")
    })
  }

  def finalCheck(): Unit = {
    val ids = GraftTable(spark, corpusPath).read().select("vec_id").collect().map(_.getLong(0))
    if (ids.length != visible || ids.toSet != (0L until visible.toLong).toSet)
      throw new IllegalStateException(s"corpus holds ${ids.length} rows, model $visible")
  }

  def counts: Map[String, Double] = {
    val t = GraftTable(spark, corpusPath)
    Map(
      "recall_at_k" -> (if (recallTotal > 0) recallHits.toDouble / recallTotal else 0.0),
      "compactions" -> t.commits().count(_.action == "compact").toDouble,
      "checkpoints" -> Lake.checkpoints(Paths.get(corpusPath)).toDouble,
      "live_files" -> t.liveFiles().size.toDouble,
      "log_files" -> Lake.logFiles(Paths.get(corpusPath)).toDouble,
      "corpus_rows" -> visible.toDouble)
  }
}

object RetrievalWorkload {
  // Fixed work. Op count per measured second, calibrated on 4 cores.
  val OpsPerSecond = 0.35
  val Dims = 32
  val Clusters = 24
  val Noise = 0.35
  val Labels = 6
  val TopicWords = 4
  val CorpusSize = 2000
  val NLists = 12
  val NProbe = 3
  val PqM = 8
  val PqCodebook = 32
  val ProbesPerOp = 8
  val K = 5
  val Shortlist = 20
  val HybridK = 10
  val AddEvery = 4
  val AddSize = 40
  val LookupsPerRead = 4
  val KeysPerLookup = 6
  val ProbeIdBase = 10000000L

  val DocSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
  val RankSchema: StructType = StructType(Seq(
    StructField("probe_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rnk", IntegerType, nullable = false)))
  val CandidateSchema: StructType = StructType(Seq(
    StructField("probe_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false)))
}

/** The benchmark's own reference answers, computed off Spark. */
object Exact {
  /** `Similarity`'s deterministic cosine: quantized dot products (each
    * term floored at 1e-12 units) over the quantized norms. */
  def qdot(a: Array[Float], b: Array[Float]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += math.floor(a(i).toDouble * b(i).toDouble * 1e12).toLong; i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double =
    qdot(a, b).toDouble / math.sqrt(qdot(a, a).toDouble * qdot(b, b).toDouble)

  /** Reciprocal-rank fusion as `Similarity.rrfFuse` defines it: each
    * list's `1/(60 + rank)` frozen to micro units, summed, ranked by sum
    * then id. `lists` hold (id, rank) pairs. */
  def rrf(lists: Seq[Seq[(Long, Int)]], k: Int, k0: Int = 60): Seq[Long] =
    lists.flatten.groupBy(_._1).map { case (id, hits) =>
      id -> hits.map { case (_, r) =>
        (BigDecimal(1.0 / (k0 + r)).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
      }.sum
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
}
