package graft.perfbench

import graft.ext.Parallelism
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in this JVM:
  *
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  *          [--untraced-op-p50 <s>] }}}
  *
  * Set-up is session start, fixture generation and bootstrap into a fresh
  * lake root, and the untimed warm-up ops. Then a closed loop from this one client runs the workload's
  * fixed measured ops, each followed by one read unit, releasing operator
  * barriers between them outside the clock. The last stdout line is the
  * result JSON: end-to-end metrics untraced, per-layer metrics traced. */
object Main {
  /** Spark's task threads. One of a 4-vCPU host's cores stays free for the
    * driver, JIT compiler and GC threads: with all four running tasks the
    * compiler starves, so warm-up ends later and later the busier the host. */
  val Cores = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: Path,
      untracedOpP50: Option[Double])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("dir")).toAbsolutePath, m.get("untraced-op-p50").map(_.toDouble))
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.eventLog.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val (steal0, total0) = cpuJiffies()
    var spark: SparkSession = null
    val tracer = new Tracer(a.trace, () => Option(spark).map(_.sparkContext).orNull)
    var failed = 0
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }

    var checkS = 0.0
    /** Runs `body` and its check; the check runs after the clock stops.
      * Returns the elapsed seconds and items, or None on failure. */
    def timed(what: String)(body: => OpOutcome): Option[(Double, Long)] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val out = body
        val t1 = System.nanoTime()
        try out.check() finally checkS += (System.nanoTime() - t1) / 1e9
        Some(((t1 - t0) / 1e9, out.items))
      } catch { case e: Throwable => fail(what, e); None }
    }

    // ------------------------------------------------------------ set-up
    val lake = a.dir.resolve("lake")
    var wl: Workload = null
    val setup0 = System.nanoTime()
    tracer.span("setup") {
      tracer.span("setup.session") { spark = session(cores, a.dir) }
      tracer.span("setup.fixture") {
        wl = Workload(a.workload, Ctx(spark, lake, a.seed, a.seconds, tracer))
        wl.bootstrap()
      }
      tracer.span("setup.warmup") {
        for (i <- 0 until wl.warmupOps) {
          Parallelism.releaseAll(spark)
          timed(s"warm-up op $i")(tracer.span("op", i)(wl.op(i)))
          Parallelism.releaseAll(spark)
          timed(s"warm-up read $i")(tracer.span("tables.lookup", Trace.ReadOp + i)(wl.readUnit(i)))
        }
      }
    }
    val setupS = (System.nanoTime() - setup0) / 1e9

    // ----------------------------------------------------------- measured
    val listener = new SpanListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val measured = wl.warmupOps until wl.warmupOps + wl.measuredOps
    val opS = ArrayBuffer.empty[Double]
    val readS = ArrayBuffer.empty[Double]
    var items = 0L
    var readRows = 0L
    val commits0 = Lake.commitFiles(lake)
    val gc0 = gcNs()
    for (i <- measured) {
      Parallelism.releaseAll(spark)
      timed(s"op $i")(tracer.span("op", i)(wl.op(i))).foreach { case (dt, n) => opS += dt; items += n }
      Parallelism.releaseAll(spark)
      timed(s"read $i")(tracer.span("tables.lookup", Trace.ReadOp + i)(wl.readUnit(i)))
        .foreach { case (dt, n) => readS += dt; readRows += n }
    }
    val gcPerOp = (gcNs() - gc0) / 1e9 / measured.size
    val end0 = System.nanoTime()
    val commitsPerOp = (Lake.commitFiles(lake) - commits0).toDouble / measured.size
    attempted += 1
    try wl.finalCheck() catch { case e: Throwable => fail("final check", e) }
    val counts = try wl.counts catch { case e: Throwable => fail("counts", e); Map.empty[String, Double] }
    val versions = Lake.versions(lake)
    val (dataBytes, logBytes) = Lake.splitBytes(lake)
    val lakeBytes = dataBytes + logBytes
    Parallelism.releaseAll(spark)
    // the first collection enqueues dead broadcasts and shuffles for Spark's
    // ContextCleaner; the pause lets it drop them before the measured one
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (a.trace) org.apache.spark.ListenerDrain(spark.sparkContext)
    val endS = (System.nanoTime() - end0) / 1e9
    val (steal1, total1) = cpuJiffies()
    val stealShare = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0

    val (tailP, tailV) = if (opS.nonEmpty) Stats.tail(opS.toSeq) else (0, 0.0)
    val opP50 = if (opS.nonEmpty) Stats.median(opS.toSeq) else 0.0
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", if (opS.sum > 0) items / opS.sum else 0.0, "1/s"),
      ("op_p50_s", opP50, "s"),
      ("op_tail_s", tailV, "s"),
      ("read_p50_s", if (readS.nonEmpty) Stats.median(readS.toSeq) else 0.0, "s"),
      ("bytes_per_input_byte", lakeBytes.toDouble / wl.inputBytes, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))

    val metrics =
      if (!a.trace) e2e
      else Trace.layerMetrics(tracer, listener, measured, cores, counts, Trace.Inputs(
        setupOf = n => tracer.spans.find(_.name == n).map(_.durNs / 1e9).getOrElse(0.0),
        commitsPerOp = commitsPerOp, gcPerOp = gcPerOp, stealShare = stealShare,
        lakeRoot = lake, opP50 = opP50, untracedOpP50 = a.untracedOpP50,
        items = items, readRows = readRows))

    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "warmup_ops" -> wl.warmupOps.toString, "measured_ops" -> wl.measuredOps.toString,
      "read_units" -> readS.size.toString,
      "op_tail_percentile" -> tailP.toString,
      "op_tail_samples" -> opS.size.toString,
      "op_s" -> opS.map(Json.num).mkString("[", ",", "]"),
      "read_s" -> readS.map(Json.num).mkString("[", ",", "]"),
      "check_s" -> Json.num(checkS), "run_end_s" -> Json.num(endS),
      "items" -> items.toString, "input_bytes" -> wl.inputBytes.toString,
      "lake_bytes" -> lakeBytes.toString,
      "counts" -> Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "final_versions" -> Json.obj(versions.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "controls" -> Json.obj(Seq(
        "master" -> Json.str(s"local[$cores]"),
        "spark.sql.shuffle.partitions" -> cores.toString,
        "heap" -> Json.str(s"-Xms=-Xmx=${Runtime.getRuntime.maxMemory / 1048576}m"),
        "ui_and_event_log" -> Json.str("off"),
        "fresh_lake_root" -> "true",
        "release_all_between_ops" -> "true",
        "read_unit" -> Json.str("fixed batch of readWhere key lookups"))),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]")))
    println(Json.obj(Seq("detail" -> detail)))

    Parallelism.releaseAll(spark)
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
