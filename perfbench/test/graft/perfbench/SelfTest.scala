package graft.perfbench

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own code: the tail rule, span self-time
  * arithmetic, the listener's job-to-span assignment, and that a seed fixes
  * both the inputs and the final table versions.
  *
  * {{{ python3 perfbench/run.py --self-test }}} */
object SelfTest {
  private val results = ArrayBuffer.empty[(String, Option[String])]
  /** BENCHMARK.json's run_seconds: the determinism test runs the benchmark's op count. */
  private val RunSeconds = 12

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    results += name -> r
    println(s"${if (r.isEmpty) "ok  " else "FAIL"} $name${r.map(" -- " + _).getOrElse("")}")
  }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def span(id: Int, parent: Int, s: Long, e: Long, name: String = "s", op: Int = -1) =
    Span(id, name, parent, op, s, e)

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.sliding(2).collectFirst { case Array("--dir", d) => d }
      .getOrElse(throw new IllegalArgumentException("--dir is required"))).toAbsolutePath

    test("tail: 100 samples -> p90 with ten samples beyond") {
      val xs = (1 to 100).map(_.toDouble)
      val (p, v) = Stats.tail(xs)
      eq(p, 90)
      eq(xs.count(_ > v), 10)
    }
    test("tail: 40 samples -> p76; 30 -> p68") {
      eq(Stats.tail((1 to 40).map(_.toDouble))._1, 76)
      eq(Stats.tail((1 to 30).map(_.toDouble))._1, 68)
    }
    test("tail: the highest percentile that still leaves ten beyond") {
      for (n <- 20 to 400) {
        val xs = (1 to n).map(_.toDouble)
        val (p, v) = Stats.tail(xs)
        if (xs.count(_ > v) < 10) throw new AssertionError(s"n=$n: p$p leaves fewer than ten beyond")
        if (p < 99 && xs.count(_ > Stats.quantile(xs, (p + 1) / 100.0)) >= 10)
          throw new AssertionError(s"n=$n: p${p + 1} also leaves ten beyond")
      }
    }
    test("tail: under twenty samples falls back to the median") {
      val xs = (1 to 12).map(_.toDouble)
      eq(Stats.tail(xs), (50, Stats.median(xs)))
    }

    test("self time: duration minus the union of child intervals") {
      // parent [0,100) with children [10,30), [20,40) (overlapping) and [60,70)
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 40), span(3, 0, 60, 70),
        span(4, 1, 12, 18))
      val self = Span.selfNs(spans)
      eq(self(0), 100L - 30 - 10)
      eq(self(1), 20L - 6)
      eq(self(2), 20L)
      eq(self(4), 6L)
    }
    test("self time: a child running past its parent is clipped") {
      eq(Span.coveredNs(Seq((90L, 120L), (-5L, 5L)), 0, 100), 15L)
    }

    test("listener fallback: an untagged job goes to the innermost open span") {
      val spans = Seq(span(0, -1, 0, 1000), span(1, 0, 100, 500), span(2, 1, 200, 300))
      val jobs = Seq(JobRec(7, -1, 250, 260, Nil), JobRec(8, -1, 400, 410, Nil), JobRec(9, -1, 600, 610, Nil),
        JobRec(10, 0, 250, 260, Nil))
      eq(SpanListener.assign(jobs, spans, identity), Map(7 -> 2, 8 -> 1, 9 -> 0, 10 -> 0))
    }

    val spark = Main.session(2, dir)
    try {
      test("listener: a Spark job is charged to the span that encloses it") {
        val listener = new SpanListener
        spark.sparkContext.addSparkListener(listener)
        val tracer = new Tracer(true, () => spark.sparkContext)
        tracer.span("outer", 1) {
          tracer.span("inner")(spark.range(100).count())
          spark.range(10).collect()
        }
        spark.range(5).count()
        org.apache.spark.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val byId = tracer.spans.map(s => s.id -> s.name).toMap
        val names = SpanListener.assign(listener.jobs.toSeq, tracer.spans.toSeq, tracer.msToNs)
          .toSeq.sortBy(_._1).map { case (_, s) => byId.getOrElse(s, "-") }
        if (names.isEmpty || names.head != "inner" || !names.contains("outer"))
          throw new AssertionError(s"job spans in order: $names")
        if (names.last != "-") throw new AssertionError(s"job after every span closed went to ${names.last}")
        if (!tracer.spans.filter(_.name == "inner").forall(_.op == 1))
          throw new AssertionError("inner span did not inherit its op id")
      }

      test("cdc_medallion: one seed, identical inputs, versions and maintenance counts") {
        def run(rep: Int, seed: Long): (String, Map[String, Long], Map[String, Double]) = {
          val lake = dir.resolve(s"det-$rep")
          val wl = Workload("cdc_medallion", Ctx(spark, lake, seed, RunSeconds,
            new Tracer(false, () => spark.sparkContext)))
          wl.bootstrap()
          for (i <- 0 until wl.warmupOps + wl.measuredOps) {
            wl.op(i).check()
            wl.readUnit(i).check()
          }
          wl.finalCheck()
          val out = (wl.inputDigest, Lake.versions(lake), wl.counts)
          graft.ext.Parallelism.releaseAll(spark)
          Lake.delete(lake)
          out
        }
        val a = run(0, 7)
        val b = run(1, 7)
        eq(b._1, a._1)
        eq(b._2, a._2)
        eq(b._3, a._3)
        for (c <- Seq("compactions", "vacuums", "checkpoints"))
          if (a._3(c) < 2) throw new AssertionError(s"only ${a._3(c)} $c in a run")
        val other = Workload("cdc_medallion", Ctx(spark, dir.resolve("det-x"), 8, RunSeconds,
          new Tracer(false, () => spark.sparkContext)))
        if (other.inputDigest == a._1) throw new AssertionError("seeds 7 and 8 gave the same inputs")
      }
    } finally spark.stop()

    val failed = results.count(_._2.nonEmpty)
    println(s"${results.size - failed} passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
