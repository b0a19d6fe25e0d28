package graft.ext

import org.apache.spark.sql.DataFrame

/** Guards for explode-amplification stages.
  *
  * A stage's parallelism is fixed by its INPUT's partitioning, but an
  * explode-heavy pipeline (per-shingle hashing, per-dimension projections)
  * does work proportional to the POST-explode volume: a corpus that
  * arrives as one small parquet file (one row group = one unsplittable
  * partition) serializes the whole hot stage onto one core; `plans/r21/`
  * shows each such sf0.1 scan gain a RoundRobin Exchange. On a cluster
  * inputs arrive as many files, so the repartition is a no-op (guarded below);
  * locally it spreads the narrow pre-explode rows across all cores.
  *
  * CLUSTER FAULT-TOLERANCE NOTE — barriers. Operators in this package
  * materialize multi-consumer frames through [[materialize]]
  * (tokenize-once, band-rows-once, etc. — each site comments why),
  * switched by `settings.barrierMode`. The default (`localCheckpoint`)
  * stores blocks on EXECUTORS with no lineage fallback: on a real
  * cluster, losing an executor mid-job kills the query instead of
  * recomputing, unlike `cache()` (recompute) or reliable `checkpoint()`
  * (HDFS-backed, slower). That trade is right for batch-with-retry
  * pipelines (the driver reruns the job; blocks are ContextCleaner-freed
  * with the frame); jobs that must survive executor loss WITHIN a run
  * set `barrierMode = persist` (MEMORY_AND_DISK + lineage, ~2x the
  * materialization cost) — a settings flip, no code edits. */
private[graft] object Parallelism {

  /** Bytes of (compressed, pre-explode) INPUT a widened task should own.
    * Sized for explode-amplified per-row work (shingle hashing,
    * per-dimension projections, multi-regex passes), so that per-task
    * overhead stays noise while a modest input still fans out; the
    * per-site amplification is an estimate, not a committed measurement.
    * Committed evidence: at 32 cores the one-file sf0.1 scans of
    * d02/d13/d32 widen to 10 tasks (32 with `bytesPerTask=1`, `plans/r21/`),
    * and the same-binary bench A/B in `plans/r20/` ran 184 s vs 221 s.
    * Overridable via `spark.graft.widen.bytesPerTask` (session or
    * SparkConf); values below 1 clamp to 1, a non-integer fails naming it. */
  private val WidenBytesPerTaskKey = "spark.graft.widen.bytesPerTask"
  private val WidenBytesPerTaskDefault = 64L * 1024

  /** Repartition `df` for its post-explode work when its scan would
    * otherwise run on far too few partitions — SIZE-ADAPTIVE (guide §2):
    * the width is derived from the input's estimated bytes, clamped to
    * the session's default parallelism, never from the core count alone.
    * A constant `repartition(defaultParallelism)` was the r19 bench's
    * dominant fixed cost: at local sf the same tiny frame fanned into 32
    * one-ms tasks per job across dozens of jobs per query (and 32-block
    * barriers), while at 8 cores the identical query ran 2-3x faster —
    * parallelism must follow data, not machine shape. On a cluster the
    * clamp keeps the old behavior for any real input (bytes/perTask far
    * exceeds defaultParallelism long before 100 TB).
    *
    * Width is estimated from `inputFiles` (the already-listed file index —
    * a logical-plan inspection), NOT from `df.rdd.getNumPartitions`: the
    * latter forces full physical planning of the subtree at operator-
    * construction time, per invocation. A file-backed frame with at least
    * half as many files as cores is left alone (the scan is already wide);
    * a derived frame (no input files) has necessarily crossed a shuffle
    * already and is at `spark.sql.shuffle.partitions`, so it is left
    * alone. An unknown size estimate degrades to the full clamp (the old
    * behavior), never to a serialized stage. */
  def widen(df: DataFrame, costFactor: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files == 0 || files * 2 >= target) return df
    val perTask = spark.conf.getOption(WidenBytesPerTaskKey)
      .orElse(spark.sparkContext.getConf.getOption(WidenBytesPerTaskKey))
      .map(v => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$WidenBytesPerTaskKey must be a whole number of bytes, got '$v'")).max(1L))
      .getOrElse(WidenBytesPerTaskDefault)
    // relation stats: the summed on-disk file size for a parquet scan — a
    // driver-side plan inspection, no job. BigInt: the unknown-size
    // default is ~Long.MaxValue and must clamp, not overflow. `costFactor`
    // scales the estimate for operators whose per-byte work exceeds the
    // default amplification assumption (minhash runs numHashes digests per
    // shingle — r20 measured the un-scaled width 1.5-1.9x slower there).
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = ((bytes * math.max(1, costFactor) + (perTask - 1)) / perTask)
      .min(BigInt(target)).max(BigInt(1)).toInt
    if (want <= files) df else df.repartition(want)
  }

  /** Broadcast-hint `df` only when its optimizer size estimate fits
    * `thresholdBytes` — the probe side of an index join is usually a small
    * batch (broadcast = stored side never shuffles), but a bulk backfill
    * above the threshold degrades to a shuffle join (AQE picks) instead
    * of OOMing the driver. Same gate as GraftTable.updateKeysPlan. */
  def maybeBroadcast(df: DataFrame, thresholdBytes: Long): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(thresholdBytes)) org.apache.spark.sql.functions.broadcast(df) else df
  }

  // ---------------------------------------------------------------------
  // Deterministic barrier cleanup.
  //
  // localCheckpoint blocks die only when a GC cycle lets ContextCleaner
  // process the RDD's weak reference — so a long-lived SESSION running
  // hundreds of operator calls accumulates tens of GiB of dead blocks
  // until an arbitrary (historically: mid-query) major GC. Every barrier
  // this object creates is therefore REGISTERED for release at a caller-
  // defined point: per ingest batch ([[scoped]]), per bench query
  // ([[releaseAll]]), per DML command ([[release]]). Registration holds
  // only WEAK references — a caller that never releases gets exactly the
  // old ContextCleaner-after-GC behavior, never a new leak.
  // ---------------------------------------------------------------------

  /** One registered barrier: a weak ref to the thing holding storage
    * (checkpointed RDD / persisted frame) plus its release action. The
    * ref doubles as the GC signal: a cleared entry means ContextCleaner
    * already handled (or will handle) it, so registries can self-prune. */
  private final class Tracked(target: AnyRef, release: AnyRef => Unit) {
    private val ref = new java.lang.ref.WeakReference(target)
    def dead: Boolean = ref.get() == null
    def free(): Unit = { val t = ref.get(); if (t != null) release(t) }
  }

  private val globalPending =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      java.util.concurrent.ConcurrentLinkedQueue[Tracked]]()
  // registration counter driving the self-prune cadence below:
  // ConcurrentLinkedQueue.size() is O(n), so probing it per registration
  // would cost a long-running unscoped caller O(n²) cumulative — an O(1)
  // counter checked against a fixed cadence keeps track() constant-time
  private val globalTracked = new java.util.concurrent.atomic.AtomicInteger(0)
  // null = no active scope on this thread (register globally)
  private val scopeLocal = new ThreadLocal[java.util.ArrayDeque[Tracked]]

  private def track(sc: org.apache.spark.SparkContext, t: Tracked): Unit = {
    val scope = scopeLocal.get
    if (scope != null) { scope.add(t); () }
    else {
      val q = globalPending.computeIfAbsent(sc,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Tracked]())
      q.add(t)
      // self-prune: a long-running caller that never drains (a CDC stream
      // outside any scope) must not grow the registry without bound —
      // entries whose weak ref cleared are already ContextCleaner's
      // problem, so dropping them frees nothing early. Every 512
      // registrations, not every size() probe (O(1) per track).
      if (globalTracked.incrementAndGet() % 512 == 0) q.removeIf(_.dead)
    }
  }

  /** Register a barrier frame's storage for deterministic release: the
    * checkpointed RDD behind a [[materialize]]d frame's `LogicalRDD`
    * root, or the CacheManager entry of a persist-mode frame. Weak refs
    * only — if ContextCleaner already freed it, release is a no-op. */
  private def registerBarrier(m: DataFrame): Unit = {
    val sc = m.sparkSession.sparkContext
    m.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        track(sc, new Tracked(l.rdd,
          _.asInstanceOf[org.apache.spark.rdd.RDD[_]].unpersist(blocking = false)))
      case _ =>
        track(sc, new Tracked(m,
          _.asInstanceOf[DataFrame].unpersist(blocking = false)))
    }
  }

  /** Tracked `.localCheckpoint(true)`: for results that must outlive a
    * DELETED input (a scratch index dir, a dropped temp table) — persist
    * would keep lineage pointing at the dead files, so these sites pin
    * executor blocks regardless of `barrierMode`. Registered for
    * [[release]]/[[releaseAll]] like every other barrier. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(true)
    registerBarrier(m)
    m
  }

  /** Eagerly materialize a multi-consumer frame per
    * `settings.barrierMode` (see the class note above for the trade):
    * `localCheckpoint` — executor blocks, no lineage, fastest;
    * `persist` — MEMORY_AND_DISK with lineage, survives executor loss,
    * ~2x the materialization cost. Either way the barrier is registered
    * for deterministic cleanup at the caller's next release point. */
  def materialize(df: DataFrame)(implicit settings: graft.conf.GraftSettings): DataFrame =
    settings.barrierMode match {
      case "localCheckpoint" => checkpointTracked(df)
      case "persist" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager, like localCheckpoint(true): a barrier, not a hint
        registerBarrier(p)
        p
      case other =>
        throw new IllegalArgumentException(
          s"unknown barrierMode '$other' (expected localCheckpoint | persist)")
    }

  /** [[materialize]] for ITERATIVE operators replacing a frame per round
    * (k-means centroids, CC labels, MMR selections, BPE vocab): the
    * superseded barrier is released eagerly — a 10k-iteration trainer
    * would otherwise pin thousands of dead frames' storage and evict
    * useful blocks. `previous` must not be consumed again afterwards. */
  def rematerialize(next: DataFrame, previous: DataFrame)(
      implicit settings: graft.conf.GraftSettings): DataFrame = {
    val m = materialize(next)
    release(previous)
    m
  }

  /** Free the storage behind ONE frame returned by [[materialize]] /
    * [[checkpointTracked]] the moment its last consumer ran (a DML
    * command's source, an iterative round's superseded frame). Matches
    * the frame's plan ROOT only — a derived frame whose plan merely
    * CONTAINS someone else's barrier is left alone (its own unpersist is
    * a CacheManager no-op when nothing was cached). The frame must not
    * be consumed again. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }

  /** Run `body` with every barrier it materializes ON THIS THREAD freed
    * on exit (normal or exceptional) — the per-batch release point for
    * ingest pipelines. Scopes nest; frames must not escape the scope.
    * Thread-scoped registration is what makes this safe under concurrent
    * streams sharing one context: stream A's release can never free
    * stream B's live barriers. */
  def scoped[A](body: => A): A = {
    val prev = scopeLocal.get
    val mine = new java.util.ArrayDeque[Tracked]
    scopeLocal.set(mine)
    try body finally {
      scopeLocal.set(prev)
      mine.forEach(t => t.free())
    }
  }

  /** Free every UNSCOPED barrier materialized on `spark`'s context since
    * the last drain — the single-threaded harness release point (the
    * bench calls it after each query's clock stops). Safe only where the
    * caller owns all in-flight work on the context. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val q = globalPending.remove(spark.sparkContext)
    if (q != null) q.forEach(t => t.free())
    // hygiene: drop queues owned by stopped contexts (test suites)
    globalPending.keySet.removeIf(_.isStopped)
  }
}
