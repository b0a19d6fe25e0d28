package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpecBase
import graft.conf.GraftSettings

/** Deterministic barrier cleanup ([[Parallelism.release]] /
  * [[Parallelism.releaseAll]] / [[Parallelism.scoped]]): a long-lived
  * session running operator calls back-to-back must hold a BOUNDED block
  * footprint when it releases at its safe points, instead of leaking each
  * call's localCheckpoint blocks until ContextCleaner runs after some
  * arbitrary GC. */
class ParallelismSpec extends SparkSpecBase {
  import spark.implicits._

  private implicit val settings: GraftSettings = GraftSettings.default

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("releaseAll frees every unscoped barrier; weak refs keep no new leak") {
    Parallelism.releaseAll(spark) // clean slate (other suites share the JVM)
    val before = persistentCount
    // a long session: N sequential operator calls, each materializing
    // barriers internally (minhash dedup checkpoints signatures + CC labels)
    val docs = (1 to 60).map(i => (i.toLong, s"some text body number $i with words"))
      .toDF("doc_id", "text")
    (1 to 5).foreach { _ =>
      val out = Dedup.minhashDedup(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4)
      out.count()
    }
    assert(persistentCount > before, "operators should have registered barriers")
    Parallelism.releaseAll(spark)
    assert(persistentCount <= before,
      s"releaseAll left ${persistentCount - before} barrier RDDs registered")
  }

  test("scoped frees a batch's barriers on exit, including on failure") {
    Parallelism.releaseAll(spark)
    val base = persistentCount
    Parallelism.scoped {
      val m = Parallelism.materialize(Seq(1, 2, 3).toDF("x"))
      assert(m.count() === 3)
      assert(persistentCount > base, "barrier should be live inside the scope")
    }
    assert(persistentCount === base, "scope exit must free its barriers")
    // exceptional exit still releases
    intercept[RuntimeException] {
      Parallelism.scoped {
        Parallelism.materialize(Seq(4, 5).toDF("x")).count()
        throw new RuntimeException("boom")
      }
    }
    assert(persistentCount === base, "exceptional scope exit must free too")
    // scoped registration is thread-local: the scope must not free the
    // global queue's barriers (another stream's live frames)
    val outside = Parallelism.materialize(Seq(9).toDF("x"))
    Parallelism.scoped { Parallelism.materialize(Seq(10).toDF("x")).count() }
    assert(outside.count() === 1, "scope freed an unrelated live barrier")
    Parallelism.releaseAll(spark)
  }

  test("release frees one frame's storage; non-barrier frames are untouched") {
    Parallelism.releaseAll(spark)
    val base = persistentCount
    val m = Parallelism.checkpointTracked(Seq(1, 2).toDF("x"))
    assert(persistentCount === base + 1)
    Parallelism.release(m)
    assert(persistentCount === base)
    // release on a derived (non-barrier-rooted) frame must not clobber a
    // user cache it merely references
    val cached = Seq(1, 2, 3).toDF("y").persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    Parallelism.release(cached.filter(col("y") > 1)) // derived: no-op
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "release on a derived frame must not free the underlying cache")
    cached.unpersist(blocking = true)
    Parallelism.releaseAll(spark)
  }

  test("persist-mode barriers register and release deterministically") {
    Parallelism.releaseAll(spark)
    val persistMode: GraftSettings =
      GraftSettings.default.copy(barrierMode = "persist")
    val base = persistentCount
    val m = Parallelism.materialize(Seq((1, "a"), (2, "b")).toDF("id", "v"))(persistMode)
    assert(m.count() === 2)
    assert(persistentCount > base, "persist barrier should register storage")
    Parallelism.releaseAll(spark)
    assert(persistentCount <= base,
      "releaseAll must uncache persist-mode barriers")
  }

  test("widen contract: never narrows, clamps to defaultParallelism, costFactor scales") {
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-widen-").toString
    (1 to 2000).map(i => (i, s"row $i of the widen contract")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    assert(df.inputFiles.length === 1)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val key = "spark.graft.widen.bytesPerTask"
    def widened(perTask: String, costFactor: Int = 1) = {
      spark.conf.set(key, perTask)
      try Parallelism.widen(df, costFactor) finally spark.conf.unset(key)
    }
    def width(perTask: String, costFactor: Int = 1): Int =
      widened(perTask, costFactor).rdd.getNumPartitions
    // a width at or below the file count leaves the frame untouched
    assert(widened(bytes.toString) eq df)
    assert(widened(Long.MaxValue.toString) eq df)
    // the width follows bytes / perTask, scaled by costFactor, clamped
    val half = ((bytes + 1) / 2).toString
    assert(width(half) === math.min(2, target))
    assert(width(half, costFactor = 2) === math.min(4, target))
    assert(width("1") === target)
    // below-1 values clamp to 1 instead of dividing by zero
    assert(width("0") === target)
    assert(width("-5") === target)
    // a malformed value names the key
    val e = intercept[IllegalArgumentException](widened("64k"))
    assert(e.getMessage.contains(key))
  }
}
