package graft.tables

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.hadoop.fs.{FileSystem, Path}

/** A DEPLOYABLE arbiter [[LogStore]] for object stores: claims are
  * conditional INSERTs into one small relational table, keyed by
  * `(logDir, name)`, with the lease recorded as columns — the same shape
  * as Delta's S3DynamoDBLogStore, expressed over plain JDBC so any
  * conditional-write-capable service a deployment already runs (Postgres,
  * MySQL, Aurora, CockroachDB — or embedded Derby in tests) can arbitrate
  * commits on storage that has no atomic create (S3's create-no-overwrite
  * is check-then-put on S3A).
  *
  * Why a PRIMARY-KEY insert is the right primitive: exactly one concurrent
  * INSERT of the same key can commit — the database's uniqueness guarantee
  * IS the "at most one winner per (logDir, name)" clause of the
  * [[LogStore]] contract, across processes and hosts, with no clock
  * involved. The lease columns make crashed-writer recovery observable:
  * `claimed_at_ms` is the claim clock ([[claimAgeMs]]) and `token` the
  * claim identity ([[claimWitness]]/[[stillHeld]]), so the inline
  * TTL-break/re-verify protocol in [[GraftLog.writeCommit]] works
  * unchanged — and [[breakClaim]]'s conditional DELETE (`WHERE token = ?`)
  * is witness-scoped in SQL itself, so racing breakers cannot delete each
  * other's fresh re-claims.
  *
  * Configuration rides the HADOOP conf (reachable from the `fs` handle
  * every call already carries — set via `spark.hadoop.*` like any
  * filesystem credential):
  *  - `graft.logStore.arbiter.jdbc.url`       (required, e.g.
  *    `jdbc:postgresql://host/db` or `jdbc:derby:/path/db;create=true`)
  *  - `graft.logStore.arbiter.jdbc.user` / `.password` (optional)
  *  - `graft.logStore.arbiter.jdbc.table`     (default `graft_log_claims`)
  *
  * The claims table is created on first use when absent (portable DDL; a
  * locked-down deployment can pre-create it):
  * {{{
  *   CREATE TABLE graft_log_claims(
  *     claim_key     VARCHAR(80)   NOT NULL PRIMARY KEY, -- sha-256 of logDir/name
  *     log_dir       VARCHAR(2048) NOT NULL,
  *     name          VARCHAR(256)  NOT NULL,
  *     token         VARCHAR(64)   NOT NULL,
  *     claimed_at_ms BIGINT        NOT NULL              -- epoch ms (see Clocks)
  *   )
  * }}}
  * The key is a digest, not the raw pair: composite VARCHAR primary keys
  * hit index-length limits on some engines (Derby, MySQL utf8mb4) long
  * before a real lake path does; the raw pair is kept as plain columns for
  * operators. The table stays tiny — one row per IN-FLIGHT claim, deleted
  * at release — so it never needs maintenance.
  *
  * `publish` is inherited: once claims serialize writers, the temp-rename
  * publish (plus the winner's pre-publish [[stillHeld]] re-verify) is the
  * same on every store; S3A's rename-as-copy is fine under an exclusive
  * claim. Clocks: on engines that can express "epoch milliseconds now"
  * in SQL (Postgres/CockroachDB `EXTRACT(EPOCH ...)`, MySQL/MariaDB
  * `UNIX_TIMESTAMP(...)` — see [[JdbcArbiterLogStore.dbNowMsExpr]]), BOTH
  * sides of the lease age come from the ARBITER DATABASE's clock — the
  * claim INSERT stores the database's epoch ms and the age SELECT reads
  * `dbNow - claimed_at_ms` in the same statement — so claim hosts need
  * no time sync and no timezone agreement (epoch ms is
  * timezone-independent by construction; naive TIMESTAMP columns are NOT,
  * which is why the column is a BIGINT). On engines without a portable
  * epoch expression (embedded Derby, unknown dialects) the stored value
  * falls back to the CLIENT's `System.currentTimeMillis()` — exact for
  * embedded Derby (client IS the server JVM) and bounded by the 10-min
  * TTL dwarfing sane cluster skew elsewhere, with witness-scoped breaks
  * bounding the damage either way.
  */
class JdbcArbiterLogStore extends LogStore {
  import JdbcArbiterLogStore._

  // token per claim won by THIS process (same lifecycle as the O_EXCL
  // store's map): identity for stillHeld/release
  private val tokens =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def tryClaim(fs: FileSystem, logDir: Path, name: String): Boolean = {
    val cfg = Config(fs)
    val token = java.util.UUID.randomUUID().toString
    val won = withConn(cfg) { c =>
      // claimed_at_ms is the DATABASE's clock where the dialect can say
      // "epoch ms now" in SQL (timezone-independent by construction);
      // client-clock parameter fallback elsewhere — see the class doc
      val nowExpr = dbNowMsExpr(cfg, c).getOrElse("?")
      val st = c.prepareStatement(
        s"INSERT INTO ${cfg.table}(claim_key, log_dir, name, token, claimed_at_ms) " +
          s"VALUES (?, ?, ?, ?, $nowExpr)")
      try {
        st.setString(1, claimKey(logDir, name))
        st.setString(2, logDir.toString.take(2048))
        st.setString(3, name.take(256))
        st.setString(4, token)
        if (nowExpr == "?") st.setLong(5, System.currentTimeMillis())
        st.executeUpdate()
        true
      } catch {
        // SQLState class 23 = integrity violation (duplicate key) on
        // Derby/Postgres/MySQL alike: someone else holds the claim
        case e: SQLException if Option(e.getSQLState).exists(_.startsWith("23")) =>
          false
      } finally st.close()
    }
    if (won) tokens.put(key(logDir, name), token)
    won
  }

  override def release(fs: FileSystem, logDir: Path, name: String): Unit = {
    val mine = tokens.remove(key(logDir, name))
    // conditional DELETE: never remove a usurper's re-claim
    if (mine != null) deleteIfToken(Config(fs), logDir, name, mine)
  }

  override def claimAgeMs(fs: FileSystem, logDir: Path, name: String): Option[Long] =
    selectClaim(Config(fs), logDir, name).map(_._2)

  override def claimWitness(fs: FileSystem, logDir: Path, name: String): Option[String] =
    selectClaim(Config(fs), logDir, name).map(_._1)

  override def breakClaim(fs: FileSystem, logDir: Path, name: String,
      witness: Option[String]): Unit =
    // witness-scoped IN SQL: the DELETE commits only if the row still
    // carries the exact token the breaker observed expired
    witness.foreach(w => deleteIfToken(Config(fs), logDir, name, w))

  override def stillHeld(fs: FileSystem, logDir: Path, name: String): Boolean =
    tokens.get(key(logDir, name)) match {
      case null => false
      case mine => selectClaim(Config(fs), logDir, name).exists(_._1 == mine)
    }

  private def key(logDir: Path, name: String) = s"$logDir/$name"

  /** The current claim's (token, ageMs). On epoch-capable dialects BOTH
    * sides of the age come from the arbiter database's clock, read in one
    * statement as plain BIGINT epoch ms — the contender's clock and BOTH
    * sessions' timezones never participate (a naive-TIMESTAMP scheme
    * would silently mix the writer session's and reader session's
    * timezone renderings and corrupt the age by whole hours). Fallback
    * dialects compare the stored client epoch against this client's
    * clock — the r17 semantics the TTL was sized for. */
  private def selectClaim(cfg: Config, logDir: Path,
      name: String): Option[(String, Long)] =
    withConn(cfg) { c =>
      val nowExpr = dbNowMsExpr(cfg, c).getOrElse("?")
      val st = c.prepareStatement(
        s"SELECT token, $nowExpr - claimed_at_ms FROM ${cfg.table} " +
          "WHERE claim_key = ?")
      try {
        var i = 0
        if (nowExpr == "?") { i = 1; st.setLong(1, System.currentTimeMillis()) }
        st.setString(i + 1, claimKey(logDir, name))
        val rs = st.executeQuery()
        try if (rs.next()) Some((rs.getString(1), math.max(0L, rs.getLong(2))))
        else None
        finally rs.close()
      } finally st.close()
    }

  private def deleteIfToken(cfg: Config, logDir: Path, name: String,
      token: String): Unit =
    withConn(cfg) { c =>
      val st = c.prepareStatement(
        s"DELETE FROM ${cfg.table} WHERE claim_key = ? AND token = ?")
      try {
        st.setString(1, claimKey(logDir, name))
        st.setString(2, token)
        st.executeUpdate()
        ()
      } finally st.close()
    }
}

object JdbcArbiterLogStore {
  val UrlKey = "graft.logStore.arbiter.jdbc.url"
  val UserKey = "graft.logStore.arbiter.jdbc.user"
  val PasswordKey = "graft.logStore.arbiter.jdbc.password"
  val TableKey = "graft.logStore.arbiter.jdbc.table"
  val DefaultTable = "graft_log_claims"

  private[tables] final case class Config(url: String, user: Option[String],
      password: Option[String], table: String)
  private[tables] object Config {
    def apply(fs: FileSystem): Config = {
      // the fs handle's conf first (per-filesystem overrides), BUT a
      // cached FileSystem carries a conf SNAPSHOT from whenever it was
      // first constructed — fall back to the live session's Hadoop conf
      // (where `spark.hadoop.*` lands), since the claim protocol runs
      // driver-side only
      def get(k: String): Option[String] =
        Option(fs.getConf.get(k)).filter(_.nonEmpty).orElse(
          org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .flatMap(s => Option(s.sparkContext.hadoopConfiguration.get(k)))
            .filter(_.nonEmpty))
      val url = get(UrlKey).getOrElse(
        throw new IllegalStateException(
          s"JdbcArbiterLogStore requires $UrlKey in the Hadoop configuration " +
            "(set spark.hadoop." + UrlKey + "=jdbc:...) — refusing to commit " +
            "without an arbiter rather than degrading to non-atomic claims"))
      val table = get(TableKey).getOrElse(DefaultTable)
      require(table.matches("[A-Za-z0-9_.]+"),
        s"$TableKey must be a plain identifier, got '$table'")
      Config(url, get(UserKey), get(PasswordKey), table)
    }
  }

  /** SQL expression for "the DATABASE's clock as epoch milliseconds", per
    * dialect, or None when the dialect has no portable one (→ the caller
    * binds the CLIENT's clock as a parameter instead). Epoch ms — not a
    * naive TIMESTAMP — because epoch is timezone-independent by
    * construction: a TIMESTAMP-without-time-zone column stores the WRITER
    * session's wall rendering and is re-interpreted in the READER
    * session's timezone, so two hosts with different session zones would
    * read a seconds-old claim as hours old (spurious lease breaks) or a
    * crashed claim as forever fresh. Memoized per database URL — the
    * dialect is a property of the database, not the connection, so the
    * memo never holds references to healed/closed connections and hits
    * are stable across reconnects (the product-name probe is a driver
    * call, paid once per URL). */
  private val nowExprCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private[tables] def dbNowMsExpr(cfg: Config, c: Connection): Option[String] = {
    val hit = nowExprCache.get(cfg.url)
    if (hit != null) return hit
    val product =
      try c.getMetaData.getDatabaseProductName
      catch {
        // A probe that THREW tells us nothing about the dialect — and a
        // client-clock fallback here would be WORSE than failing: a claim
        // STORED under the client's clock but AGED against the database's
        // (by a later healthy call) corrupts the lease by the full
        // client-DB skew. So propagate — [[withConn]] evicts the dead
        // connection and the commit fails loudly (the store's outage
        // contract); the next call re-probes on a healed connection.
        // Never cached, so one transient drop can't downgrade the JVM to
        // client-clock leases; genuine fallback dialects (embedded Derby,
        // unknown engines) answer the probe fine and fall back
        // CONSISTENTLY on every call.
        case e: SQLException =>
          throw new SQLException(
            s"cannot determine the arbiter dialect for the lease clock " +
              s"(${cfg.url}): the DatabaseMetaData probe failed — refusing " +
              "a client-clock fallback that could mix clock domains on a " +
              "stored claim", e)
      }
    val p = Option(product).getOrElse("").toLowerCase(java.util.Locale.ROOT)
    val expr =
      if (p.contains("postgres") || p.contains("cockroach"))
        // timestamptz -> epoch directly; EXTRACT(EPOCH ...) never consults
        // the session TimeZone
        Some("CAST(EXTRACT(EPOCH FROM CURRENT_TIMESTAMP) * 1000 AS BIGINT)")
      else if (p.contains("mysql") || p.contains("mariadb"))
        // argless UNIX_TIMESTAMP() reads the server's epoch DIRECTLY — no
        // wall-clock rendering ever round-trips through the session time
        // zone, so the value is unambiguous even during the DST fall-back
        // hour (UNIX_TIMESTAMP(NOW(3)) re-inverts a rendering that is
        // ambiguous for one hour a year — a claim's stored epoch or the
        // age read could be off by a whole hour, exceeding the TTL and
        // enabling a spurious lease break). Second precision is ample for
        // a 10-minute TTL.
        Some("CAST(UNIX_TIMESTAMP() * 1000 AS SIGNED)")
      else None // embedded Derby (client IS the server JVM) + unknown dialects
    // URLs are config values (a handful per JVM); bound defensively anyway
    // against pathological per-test URL churn
    if (nowExprCache.size > 64) nowExprCache.clear()
    nowExprCache.put(cfg.url, expr)
    expr
  }

  /** Key digest: composite VARCHAR PKs hit per-engine index-length limits
    * (Derby ~half a page; MySQL utf8mb4 767 bytes) long before real lake
    * URIs do — a fixed-width sha-256 hex never does, and the raw pair
    * stays in plain columns for operators. */
  private def claimKey(logDir: Path, name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$logDir/$name".getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  // one connection per FULL config (url+user+table — keying on url alone
  // would silently reuse whichever credentials connected first when two
  // confs share a database), shared across tables/threads in the JVM
  // (claims are per-commit, milliseconds apart — a pool would be
  // ceremony); every statement runs under the connection's monitor
  // because JDBC connections are not safely concurrent
  private val conns =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[String], String), Connection]()

  private def withConn[A](cfg: Config)(body: Connection => A): A = {
    val key = (cfg.url, cfg.user, cfg.table)
    val c = conns.compute(key, (_, cached) =>
      if (cached != null && !cached.isClosed) cached else open(cfg))
    c.synchronized {
      // a dropped connection (db restart) heals on the next call: close,
      // evict, and let the caller's retry loop re-claim
      try body(c)
      catch {
        case e: SQLException if c.isClosed || !c.isValid(2) =>
          conns.remove(key, c)
          try c.close() catch { case _: SQLException => () }
          throw e
      }
    }
  }

  private def open(cfg: Config): Connection = {
    // embedded Derby (tests/single-node) does not ServiceLoader-register
    // on every classpath layout; real server drivers (Postgres/MySQL) do
    try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    catch { case _: ClassNotFoundException => () }
    val c = (cfg.user, cfg.password) match {
      case (Some(u), Some(p)) => DriverManager.getConnection(cfg.url, u, p)
      case _ => DriverManager.getConnection(cfg.url)
    }
    c.setAutoCommit(true)
    ensureTable(c, cfg.table)
    c
  }

  private def ensureTable(c: Connection, table: String): Unit = {
    // existence probe FIRST (standard DatabaseMetaData, engine-agnostic):
    // the steady state — table already there — takes no DDL at all, so no
    // per-engine duplicate-SQLState taxonomy decides whether a reconnect
    // works. getTables matching is case-sensitive per-engine; probe the
    // common foldings. Two traps in the raw API this probe must dodge:
    //  - '_' in the default name is a single-char PATTERN WILDCARD, so an
    //    unescaped probe matches near-names (graft-log-claims etc.) and
    //    suppresses the CREATE — every later claim INSERT then fails;
    //  - null catalog/schema patterns scan EVERY schema, so a same-named
    //    table in ANOTHER schema (common in shared Postgres) would count
    //    as "exists" while the unqualified INSERT targets the CURRENT
    //    schema, which has no table. Scope to the connection's current
    //    catalog/schema (or the name's own schema qualifier).
    val md = c.getMetaData
    val parts = table.split('.')
    val bare = parts.last
    val schemaRaw: Option[String] =
      if (parts.length > 1) Some(parts(parts.length - 2))
      else Option(
        // getSchema is JDBC 4.1; a pre-4.1 driver may not implement it —
        // fall back to the unscoped-but-escaped probe rather than fail
        try c.getSchema
        catch { case _: SQLException | _: AbstractMethodError => null })
    val catalog = try c.getCatalog catch { case _: SQLException => null }
    // escape with the ENGINE'S OWN escape string; an engine that reports
    // none (embedded Derby returns "") cannot escape — probe unescaped
    // there ('_' stays a wildcard, but the schema scoping above already
    // confines any near-name false positive to the one schema the INSERT
    // targets, and inventing an escape the engine ignores matches NOTHING,
    // which re-CREATEs an existing table on every reconnect)
    val esc = Option(md.getSearchStringEscape).getOrElse("")
    def escaped(n: String): String =
      if (esc.isEmpty) n
      else n.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    def existsScoped(fold: String => String): Boolean = {
      val rs = md.getTables(catalog, schemaRaw.map(s => escaped(fold(s))).orNull,
        escaped(fold(bare)), Array("TABLE"))
      try rs.next() finally rs.close()
    }
    def tableExists: Boolean =
      existsScoped(identity) ||
        existsScoped(_.toUpperCase(java.util.Locale.ROOT)) ||
        existsScoped(_.toLowerCase(java.util.Locale.ROOT))
    if (tableExists) return
    val st = c.createStatement()
    try st.executeUpdate(
      s"""CREATE TABLE $table(
         |  claim_key     VARCHAR(80)   NOT NULL PRIMARY KEY,
         |  log_dir       VARCHAR(2048) NOT NULL,
         |  name          VARCHAR(256)  NOT NULL,
         |  token         VARCHAR(64)   NOT NULL,
         |  claimed_at_ms BIGINT        NOT NULL
         |)""".stripMargin)
    catch {
      // CONCURRENT-CREATION race only (two JVMs bootstrapping at once):
      // duplicate-object states — Derby X0Y32, Postgres 42P07, MySQL
      // 42S01, plus the generic 42000/42101 some engines report. A
      // permission failure on a genuinely MISSING table still surfaces,
      // because the probe above said it does not exist... unless the
      // race created it between probe and CREATE, which is exactly this
      // guard. Re-probe to disambiguate: swallowed only if present now.
      case _: SQLException if tableExists => ()
    } finally st.close()
  }
}
