package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomicity seam for commit-version claims — the piece of the commit
  * protocol that is STORAGE-SPECIFIC (Delta's pluggable LogStore).
  *
  * [[GraftTable]]'s protocol needs exactly one primitive from storage:
  * "atomically become the only writer allowed to publish version file
  * `name`". On local filesystems and HDFS an O_EXCL create provides it
  * ([[HadoopOExclLogStore]], the default). On S3-class object stores
  * O_EXCL does not exist — an S3 implementation must supply the same
  * contract through a conditional PUT (`If-None-Match: *` on S3 today,
  * the precondition header on GCS/Azure) or an external arbiter (a
  * DynamoDB conditional write, Delta's S3DynamoDBLogStore) keyed by
  * `(logDir, name)`. Everything else in the protocol (write-temp,
  * rename-to-publish, existence re-check under the claim, loser-retries)
  * is storage-agnostic and stays in [[GraftLog.writeCommit]].
  *
  * CONTRACT (what any implementation must guarantee):
  *  - `tryClaim(logDir, name)` returns true for AT MOST ONE concurrent
  *    caller per `(logDir, name)` until that winner calls `release` —
  *    across processes, not just threads;
  *  - `release` makes the claim available again (the version file's own
  *    existence check under the claim handles the finished-writer case);
  *  - a crashed winner must not deadlock the table forever: claims carry
  *    a LEASE — [[claimAgeMs]] exposes how long the outstanding claim has
  *    been held, [[breakClaim]] clears one believed expired, and
  *    [[stillHeld]] lets the winner re-verify its own claim is still in
  *    force immediately before publishing. [[GraftLog.writeCommit]]
  *    composes these: a contender that finds the claim older than
  *    `spark.graft.logStore.claimTtlMs` breaks it and re-claims (no FSCK
  *    needed), and every winner re-verifies before its publish rename so
  *    a slow-but-alive writer whose lease was broken ABORTS instead of
  *    overwriting the usurper's commit. A store that cannot observe claim
  *    age keeps the defaults (never break, always held) and falls back to
  *    operator-driven FSCK recovery.
  *
  * Selected per session via `spark.graft.logStore.class` (a fully
  * qualified class name with a no-arg constructor), mirroring Delta's
  * `spark.delta.logStore.class`. Misconfiguration fails loudly at first
  * commit, never silently degrades to non-atomic claims.
  */
trait LogStore {
  /** Atomically claim exclusive right to publish `name` under `logDir`;
    * true iff this caller won the claim. */
  def tryClaim(fs: FileSystem, logDir: Path, name: String): Boolean

  /** Release a claim previously won by [[tryClaim]]. */
  def release(fs: FileSystem, logDir: Path, name: String): Unit

  /** How long the CURRENT claim on `(logDir, name)` has been outstanding,
    * if this store can observe it; `None` when no claim is visible or the
    * store has no lease support (→ claims are never broken). */
  def claimAgeMs(fs: FileSystem, logDir: Path, name: String): Option[Long] = None

  /** Opaque identity of the CURRENT claim (the default store's per-winner
    * token) — read by a breaker BEFORE it measures [[claimAgeMs]] so the
    * break is scoped to the claim actually observed expired. `None` when
    * no claim is visible or the store cannot identify claims. */
  def claimWitness(fs: FileSystem, logDir: Path, name: String): Option[String] = None

  /** Forcibly clear a claim believed expired. `witness` is what the
    * breaker read via [[claimWitness]] when it observed the expiry: a
    * store that can compare identities MUST refuse to break a claim whose
    * identity has since changed — otherwise two contenders that both saw
    * a crashed writer's stale claim can break EACH OTHER's fresh
    * re-claims and both end up holding the version. Safe to race: at most
    * one subsequent [[tryClaim]] wins regardless of how many breakers
    * ran. */
  def breakClaim(fs: FileSystem, logDir: Path, name: String,
      witness: Option[String]): Unit = ()

  /** Atomically publish `tmp` as `dst`, returning false when `dst`
    * already exists — atomic even against a concurrent publisher. The
    * last line of defense under the lease protocol: if a dual-holder
    * window ever opens (two breakers racing a third slow writer), the
    * second publisher must FAIL, not silently replace the first's commit.
    * HDFS `rename` already has no-overwrite semantics; POSIX rename
    * OVERWRITES, so on `file:` schemes the default hard-links (link(2)
    * fails with EEXIST atomically) and unlinks the temp. */
  def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        hardLink(d, t)
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // a local-looking mount without hard-link support (some FUSE/NFS):
        // the exists-then-rename fallback is check-then-act (POSIX rename
        // overwrites), so a dual-holder window on this mount could LOSE A
        // COMMIT. That risk must be an operator's conscious choice, not a
        // silent default: refuse with the arbiter-store guidance unless
        // spark.graft.logStore.allowNonAtomicPublish=true, in which case
        // degrade WITH a warning (the claim protocol still serializes
        // healthy writers; only the last-line no-overwrite guard is lost)
        case _: UnsupportedOperationException =>
          LogStore.requireDegradeOptIn(dst)
          LogStore.warnPublishDegrade(dst)
          !fs.exists(dst) && fs.rename(tmp, dst)
        case _: java.nio.file.FileSystemException if !fs.exists(dst) =>
          LogStore.requireDegradeOptIn(dst)
          LogStore.warnPublishDegrade(dst)
          fs.rename(tmp, dst)
      }
    } else fs.rename(tmp, dst)

  /** Test seam for the `file:` publish fast path: NIO `link(2)` — atomic
    * no-overwrite (EEXIST). Overridden by specs to simulate a mount
    * without hard-link support. */
  protected def hardLink(link: java.nio.file.Path,
      existing: java.nio.file.Path): Unit =
    java.nio.file.Files.createLink(link, existing)

  /** Whether the claim THIS caller won via [[tryClaim]] is still in force
    * (not broken, not usurped). Consulted by the winner immediately before
    * its publish rename; defaults to true for stores without lease
    * support. */
  def stillHeld(fs: FileSystem, logDir: Path, name: String): Boolean = true
}

/** Default [[LogStore]]: an O_EXCL file create of `.name.claim` — NIO
  * `createFile` (true O_CREAT|O_EXCL) on `file:` schemes, because
  * Hadoop's LOCAL `create(path, false)` is only a check-then-act;
  * HDFS-class filesystems keep `FileSystem.create(path, false)` (atomic
  * at the namenode). NOT safe on S3A (create-no-overwrite is
  * check-then-put there): deploy an arbiter-backed store for S3.
  *
  * Lease support: the marker's mtime is the lease clock and its CONTENT
  * is a per-winner token (written right after the exclusive create), so
  * [[stillHeld]] detects both a broken claim (marker gone) and a
  * broken-then-reclaimed one (marker holds a FOREIGN token), and
  * [[release]] never deletes a usurper's marker. */
class HadoopOExclLogStore extends LogStore {
  // token per (logDir, name) claim won by THIS process — ConcurrentHashMap
  // because one cached store instance serves every table/thread in the JVM
  private val tokens =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def key(logDir: Path, name: String) = s"$logDir/$name"
  private def marker(logDir: Path, name: String) =
    new Path(logDir, s".$name.claim")

  override def tryClaim(fs: FileSystem, logDir: Path, name: String): Boolean =
    try {
      val m = marker(logDir, name)
      if (fs.getScheme == "file") {
        // Hadoop's LOCAL create(path, overwrite=false) is CHECK-THEN-ACT
        // (an exists probe + a plain FileOutputStream — no O_EXCL), so two
        // threads/processes could both "win"; with the pre-publish
        // stillHeld re-verify, dual winners then abort each other and a
        // contended version thrashes instead of progressing. NIO's
        // createFile IS O_CREAT|O_EXCL — atomic against processes too.
        val p = java.nio.file.Paths.get(m.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.createFile(p) // atomic; throws if present
        val token = java.util.UUID.randomUUID().toString
        java.nio.file.Files.write(p, token.getBytes("UTF-8"))
        tokens.put(key(logDir, name), token)
        true
      } else {
        // HDFS-class stores: namenode create(overwrite=false) is atomic
        val out = fs.create(m, false)
        val token = java.util.UUID.randomUUID().toString
        try out.write(token.getBytes("UTF-8")) finally out.close()
        tokens.put(key(logDir, name), token)
        true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  private def readToken(fs: FileSystem, logDir: Path, name: String): Option[String] =
    try {
      val in = fs.open(marker(logDir, name))
      try {
        // loop to EOF: a single read() may legally return fewer bytes than
        // the token holds, and a truncated token would make the rightful
        // winner's stillHeld false (spurious abort) or leak the marker in
        // release (version blocked for the whole TTL)
        val acc = new java.io.ByteArrayOutputStream(64)
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n > 0) { acc.write(buf, 0, n); n = in.read(buf) }
        Some(new String(acc.toByteArray, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  override def release(fs: FileSystem, logDir: Path, name: String): Unit = {
    val mine = tokens.remove(key(logDir, name))
    // delete only OUR marker: if the lease was broken and re-claimed, the
    // marker on disk carries the usurper's token — leave it alone
    if (mine != null && readToken(fs, logDir, name).forall(_ == mine))
      fs.delete(marker(logDir, name), false)
  }

  override def claimAgeMs(fs: FileSystem, logDir: Path, name: String): Option[Long] =
    try Some(System.currentTimeMillis() -
      fs.getFileStatus(marker(logDir, name)).getModificationTime)
    catch { case _: java.io.IOException => None }

  override def claimWitness(fs: FileSystem, logDir: Path, name: String): Option[String] =
    readToken(fs, logDir, name)

  override def breakClaim(fs: FileSystem, logDir: Path, name: String,
      witness: Option[String]): Unit = {
    // break ONLY the claim the breaker observed expired: if the marker now
    // carries a different token, a faster contender already broke and
    // re-claimed — deleting ITS fresh marker would mint a second holder.
    // (A None/None match is a harmless delete of a marker already gone.)
    val current = readToken(fs, logDir, name)
    if (current == witness) fs.delete(marker(logDir, name), false)
    ()
  }

  override def stillHeld(fs: FileSystem, logDir: Path, name: String): Boolean =
    tokens.get(key(logDir, name)) match {
      case null => false
      case mine => readToken(fs, logDir, name).contains(mine)
    }
}

object LogStore {
  val ConfKey = "spark.graft.logStore.class"

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[LogStore])

  /** Last publish-degrade warning emitted (test observability — asserting
    * on a live log4j appender is brittle; the message text IS the
    * contract). */
  @volatile private[tables] var lastPublishDegradeWarning: String = _

  /** A post-publish release failed (store unreachable): the commit's
    * outcome stands; the orphaned claim recovers via the TTL break. */
  private[tables] def warnReleaseFailed(logDir: Path, name: String,
      e: Throwable): Unit =
    log.warn(s"LogStore.release failed for $logDir/$name after the commit " +
      s"outcome was decided (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
      "the stale claim will recover via the claim TTL; the commit itself " +
      "is unaffected")

  /** Opt-in for the hard-link-unsupported publish fallback (FUSE/NFS
    * `file:` mounts): exists+rename is check-then-act, so a dual-holder
    * window could overwrite a published commit — losing one writer's
    * commit silently. Default REFUSES; the operator flips this only after
    * accepting that window (or, better, backs the log with an arbiter
    * store). */
  val AllowNonAtomicPublishKey = "spark.graft.logStore.allowNonAtomicPublish"

  private[tables] def requireDegradeOptIn(dst: Path): Unit = {
    val allowed = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .exists(_.conf.get(AllowNonAtomicPublishKey, "false").toBoolean)
    if (!allowed)
      throw new IllegalStateException(
        s"cannot publish $dst atomically: this file: mount refused hard " +
          "links (FUSE/NFS?), and the exists+rename fallback could " +
          "OVERWRITE a concurrent commit (lost-commit window). Back this " +
          s"table's log with an arbiter store ($ConfKey=" +
          s"${classOf[JdbcArbiterLogStore].getName}) or consciously accept " +
          s"the window with $AllowNonAtomicPublishKey=true")
  }

  private[tables] def warnPublishDegrade(dst: Path): Unit = {
    val msg = s"LogStore.publish degraded to a non-atomic exists+rename for " +
      s"$dst: this file: mount refused hard links (FUSE/NFS?), so the " +
      "atomic no-overwrite guarantee is lost on this store — a dual-holder " +
      "window could overwrite a commit. Back this table's log with an " +
      s"arbiter store (e.g. $ConfKey=${classOf[JdbcArbiterLogStore].getName})."
    lastPublishDegradeWarning = msg
    log.warn(msg)
  }

  /** Claim lease TTL in ms (default 10 min — claims are held for
    * milliseconds in healthy commits, so age past this is decisively a
    * crashed writer). `<= 0` disables lease-breaking entirely. */
  val ClaimTtlKey = "spark.graft.logStore.claimTtlMs"
  val DefaultClaimTtlMs: Long = 10L * 60 * 1000

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()

  /** The session's configured store (defaults to
    * [[HadoopOExclLogStore]]), instantiated once per class name. */
  def forSession(spark: SparkSession): LogStore = {
    val cls = spark.conf.get(ConfKey, classOf[HadoopOExclLogStore].getName)
    cache.computeIfAbsent(cls, c =>
      Class.forName(c).getDeclaredConstructor().newInstance() match {
        case s: LogStore => s
        case other => throw new IllegalArgumentException(
          s"$ConfKey=$c is not a graft.tables.LogStore: ${other.getClass}")
      })
  }
}
