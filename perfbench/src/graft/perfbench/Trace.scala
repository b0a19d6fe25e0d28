package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed region of the benchmark: a call into a graft layer, an op, a
  * read unit or a set-up phase. `op` is the op id the span belongs to
  * (inherited from the parent), -1 outside ops. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, var endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Total length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi)`. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * its child spans cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(kids, s.startNs, s.endNs))
    }.toMap
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * it also tags every Spark job submitted inside a span with the span id
  * (a thread-inherited local property), so [[SpanListener]] can charge each
  * job, stage and task to the innermost span open when it ran. `sc` is
  * null until the session has started. */
final class Tracer(val enabled: Boolean, sc: () => SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** `System.nanoTime` reading minus epoch nanoseconds, to place Spark's
    * epoch-millisecond event times on the span clock. */
  val nanoOffset: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[A](name: String, op: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1), System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      tag(s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        tag(stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def tag(spanId: String): Unit = Option(sc()).foreach(_.setLocalProperty(Tracer.SpanKey, spanId))

  /** Epoch milliseconds (from a Spark event) on the span clock. */
  def msToNs(ms: Long): Long = ms * 1000000L + nanoOffset
}

object Tracer {
  val SpanKey = "graft.perfbench.span"
}

/** Per-job record the listener keeps. `span` is the id from the job's local
  * properties, or -1 when the job carried none. */
final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

/** Task totals of one stage. */
final case class StageAgg(var tasks: Int = 0, var taskNs: Long = 0L, var inputRecords: Long = 0L,
    var shuffleWriteBytes: Long = 0L)

final class SpanListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.tasks += 1
    a.taskNs += e.taskInfo.duration * 1000000L
    Option(e.taskMetrics).foreach { m =>
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

object SpanListener {
  /** The span each job is charged to: its tagged span when it has one,
    * otherwise the innermost span whose interval holds the job's start. */
  def assign(jobs: Seq[JobRec], spans: Seq[Span], msToNs: Long => Long): Map[Int, Int] =
    jobs.map { j =>
      val s =
        if (j.span >= 0) j.span
        else {
          val t = msToNs(j.startMs)
          val open = spans.filter(s => s.startNs <= t && t < s.endNs)
          if (open.isEmpty) -1 else open.maxBy(_.startNs).id
        }
      j.jobId -> s
    }.toMap
}

/** Per-layer metrics of a traced run, computed from its spans, the
  * listener's job records and the workload's counts. */
object Trace {
  /** Read units get op ids `ReadOp + i`, apart from the ops' ids `i`. */
  val ReadOp = 1000000

  final case class Inputs(setupOf: String => Double, commitsPerOp: Double, gcPerOp: Double,
      stealShare: Double, lakeRoot: java.nio.file.Path, opP50: Double,
      untracedOpP50: Option[Double], items: Long, readRows: Long)

  /** The per-layer metrics every traced run reports, in output order. */
  val Names: Seq[String] = Seq(
    "setup.session_s", "setup.fixture_s", "setup.warmup_s",
    "cdc.publish_s", "cdc.kafka_to_raw_s", "cdc.raw_to_staged_s", "cdc.staged_to_curated_s",
    "cdc.staged_to_curated_tail_s",
    "tables.commits_per_op", "tables.compactions", "tables.vacuums", "tables.checkpoints",
    "tables.live_files", "tables.log_files", "tables.lookup_s", "tables.rows_read_per_lookup",
    "tables.raw_bytes", "tables.staged_bytes", "tables.curated_bytes", "tables.log_bytes",
    "streaming.ingest_batch_s", "ext.dups_caught_share", "ext.survivor_share",
    "spark.jobs_per_op", "spark.driver_gap_s", "spark.driver_gap_share", "spark.job_busy_s", "spark.input_rows_per_result",
    "spark.tasks_per_op", "spark.core_util", "spark.shuffle_bytes_per_op",
    "jvm.gc_s_per_op", "host.steal_share", "bench.op_self_s", "trace.op_p50_s", "trace.overhead_s")
  /** Reported only by the runs that serve retrieval probes. */
  val RetrievalNames: Seq[String] =
    Seq("ext.ivfpq_rerank_s", "ext.ivf_filtered_s", "ext.hybrid_s", "ext.index_add_s", "ext.recall_at_k")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def layerMetrics(tracer: Tracer, listener: SpanListener, measured: Range, cores: Int,
      counts: Map[String, Double], in: Inputs): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toSeq
    val self = Span.selfNs(spans)
    val ops = measured.toSet
    val byId = spans.map(s => s.id -> s).toMap
    // per-op summed self seconds of the spans named `n`, over the ops that ran one
    def perOp(n: String): Seq[Double] =
      spans.filter(s => s.name == n && ops(s.op)).groupBy(_.op).values
        .map(_.map(s => self(s.id)).sum / 1e9).toSeq
    val opSpans = spans.filter(s => s.name == "op" && ops(s.op))
    val readSpans = spans.filter(s => s.name == "tables.lookup" && ops(s.op - ReadOp))

    val jobs = listener.synchronized(listener.jobs.toVector)
    val stageAgg = listener.synchronized(listener.stages.toMap)
    val jobSpan = SpanListener.assign(jobs, spans, tracer.msToNs)
    val jobsByOp = jobs.groupBy(j => jobSpan.get(j.jobId).flatMap(byId.get).map(_.op).getOrElse(-1))
    final case class OpJobs(jobs: Int, busyNs: Long, wallNs: Long, tasks: Int, taskNs: Long,
        inputRecords: Long, shuffleBytes: Long)
    def opJobs(s: Span): OpJobs = {
      val js = jobsByOp.getOrElse(s.op, Vector.empty)
      val busy = Span.coveredNs(js.map(j => (tracer.msToNs(j.startMs), tracer.msToNs(j.endMs))),
        s.startNs, s.endNs)
      val st = js.flatMap(_.stages).distinct.flatMap(stageAgg.get)
      OpJobs(js.size, busy, s.durNs, st.map(_.tasks).sum, st.map(_.taskNs).sum,
        st.map(_.inputRecords).sum, st.map(_.shuffleWriteBytes).sum)
    }
    val perOpJobs = opSpans.map(opJobs)
    val readJobs = readSpans.map(opJobs)
    val n = math.max(1, perOpJobs.size)
    val busyTotal = perOpJobs.map(_.busyNs).sum

    val root = in.lakeRoot
    val curatedDir = root.resolve("datalake-curated")
    val (allData, allLog) = Lake.splitBytes(root)
    val layerBytes: Seq[(String, Double)] = Seq(
      "tables.raw_bytes" -> Lake.bytes(root.resolve("datalake-raw")).toDouble,
      "tables.staged_bytes" -> Lake.splitBytes(root.resolve("datalake-staged"))._1.toDouble,
      // without medallion layers, every table the workload writes counts as curated
      "tables.curated_bytes" ->
        (if (java.nio.file.Files.exists(curatedDir)) Lake.splitBytes(curatedDir)._1 else allData).toDouble,
      "tables.log_bytes" -> (allLog + Lake.splitBytes(root.resolve("spark-control"))._1).toDouble)

    val values: Map[String, Double] = (Seq(
      "setup.session_s" -> in.setupOf("setup.session"),
      "setup.fixture_s" -> in.setupOf("setup.fixture"),
      "setup.warmup_s" -> in.setupOf("setup.warmup"),
      "cdc.publish_s" -> med(perOp("cdc.publish")),
      "cdc.kafka_to_raw_s" -> med(perOp("cdc.kafka_to_raw")),
      "cdc.raw_to_staged_s" -> med(perOp("cdc.raw_to_staged")),
      "cdc.staged_to_curated_s" -> med(perOp("cdc.staged_to_curated")),
      "cdc.staged_to_curated_tail_s" -> {
        val xs = perOp("cdc.staged_to_curated"); if (xs.isEmpty) 0.0 else Stats.tail(xs)._2
      },
      "tables.commits_per_op" -> in.commitsPerOp,
      "tables.compactions" -> counts.getOrElse("compactions", 0.0),
      "tables.vacuums" -> counts.getOrElse("vacuums", 0.0),
      "tables.checkpoints" -> counts.getOrElse("checkpoints", 0.0),
      "tables.live_files" -> counts.getOrElse("live_files", 0.0),
      "tables.log_files" -> counts.getOrElse("log_files", 0.0),
      "tables.lookup_s" -> med(readSpans.map(_.durNs / 1e9)),
      "tables.rows_read_per_lookup" ->
        readJobs.map(_.inputRecords).sum.toDouble / math.max(1L, in.readRows),
      "ext.ivfpq_rerank_s" -> med(perOp("ext.ivfpq_rerank")),
      "ext.ivf_filtered_s" -> med(perOp("ext.ivf_filtered")),
      "ext.hybrid_s" -> med(perOp("ext.hybrid")),
      "ext.index_add_s" -> med(perOp("ext.index_add")),
      "ext.recall_at_k" -> counts.getOrElse("recall_at_k", 0.0),
      "streaming.ingest_batch_s" -> med(perOp("streaming.ingest_batch")),
      "ext.dups_caught_share" -> counts.getOrElse("dups_caught_share", 0.0),
      "ext.survivor_share" -> counts.getOrElse("survivor_share", 0.0),
      "spark.jobs_per_op" -> perOpJobs.map(_.jobs).sum.toDouble / n,
      "spark.driver_gap_s" -> med(perOpJobs.map(o => (o.wallNs - o.busyNs) / 1e9)),
      "spark.driver_gap_share" -> med(perOpJobs.map(o => (o.wallNs - o.busyNs).toDouble / o.wallNs)),
      "spark.job_busy_s" -> med(perOpJobs.map(_.busyNs / 1e9)),
      "spark.input_rows_per_result" ->
        perOpJobs.map(_.inputRecords).sum.toDouble / math.max(1L, in.items),
      "spark.tasks_per_op" -> perOpJobs.map(_.tasks).sum.toDouble / n,
      "spark.core_util" ->
        (if (busyTotal > 0) perOpJobs.map(_.taskNs).sum.toDouble / (busyTotal.toDouble * cores) else 0.0),
      "spark.shuffle_bytes_per_op" -> perOpJobs.map(_.shuffleBytes).sum.toDouble / n,
      "jvm.gc_s_per_op" -> in.gcPerOp,
      "host.steal_share" -> in.stealShare,
      "bench.op_self_s" -> med(opSpans.map(s => self(s.id) / 1e9)),
      "trace.op_p50_s" -> in.opP50,
      "trace.overhead_s" -> in.untracedOpP50.map(in.opP50 - _).getOrElse(0.0)) ++ layerBytes).toMap

    def unit(name: String): String =
      if (name.endsWith("_s") || name.endsWith("_s_per_op")) "s"
      else if (name.endsWith("_bytes") || name.endsWith("bytes_per_op")) "B"
      else if (name.endsWith("_share") || name == "spark.core_util" || name == "ext.recall_at_k") "ratio"
      else "count"
    val retrieval = spans.exists(_.name == "ext.ivfpq_rerank")
    (Names ++ (if (retrieval) RetrievalNames else Nil)).map(k => (k, values(k), unit(k)))
  }
}
