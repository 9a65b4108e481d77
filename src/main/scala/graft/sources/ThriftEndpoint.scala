package graft.sources

import org.apache.spark.sql.SparkSession

/** In-process network JDBC endpoint: the session's catalog served over
  * a HiveServer2 thrift socket. The driver JVM becomes the "database
  * server"; any JVM — including this app's own executors under a
  * `local-cluster` master — connects as a network client with the
  * stock hive-jdbc driver.
  *
  * Why it exists: the catalog's JDBC fixtures default to embedded
  * in-memory Derby, which is by definition a single-process database —
  * under a multi-JVM master, Spark's executor-side JDBC connections
  * would each boot a PRIVATE empty Derby (Spark's own JDBCSuite has the
  * same constraint). Serving the session catalog over thrift reproduces
  * the production topology instead (executors → network endpoint), so
  * the same queries complete under `local-cluster` and the multi-JVM
  * verify board closes to the full row count. The catalog's JDBC rows
  * (io_jdbc_roundtrip, pl_graphql_ingest) reach it through
  * `jdbcFixtureEndpoint` under `SPARK_GRAFT_MASTER=local-cluster[...]`
  * and run a partitioned `JdbcIO.read` from the executor JVMs.
  *
  * Startup is lazy and once-per-JVM (the server lives until the JVM
  * exits; HiveThriftServer2 has no public stop). Port:
  * `SPARK_GRAFT_THRIFT_PORT`, default 10124.
  */
object ThriftEndpoint {

  @volatile private var startedUrl: Option[String] = None

  /** [[ensure]] + a caller-scoped database: fixture tables written by
    * different scale factors (sf0.01 verify vs sf0.1 bench) must not
    * share one `graft_jdbc_fx.customers` — the Derby branch of
    * `jdbcFixtureEndpoint` encodes that isolation in the memory-db name,
    * and this is the thrift twin. The db location carries the
    * applicationId (same staleness reasoning as [[ensure]]'s base db);
    * the returned url's path segment makes it the connection's current
    * database, so callers keep using unqualified table names. */
  def ensureDb(spark: SparkSession, db: String): String = synchronized {
    val base = ensure(spark)
    val safe = db.replaceAll("[^A-Za-z0-9_]", "_")
    val loc = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_jdbc_fx_${safe}_${spark.sparkContext.applicationId}"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $safe LOCATION '$loc'")
    base.substring(0, base.lastIndexOf('/') + 1) + safe
  }

  /** Start (once) and return the endpoint's JDBC url. */
  def ensure(spark: SparkSession): String = synchronized {
    startedUrl.getOrElse {
      // The port must be FREE before start: HiveThriftServer2's bind
      // failure doesn't propagate here, so with a stale server from
      // another JVM still listening, the readiness probe below would
      // reach the FOREIGN endpoint and the fixture would silently run
      // against the wrong catalog. An explicitly requested port that's
      // taken is a hard error; the default falls back to an ephemeral
      // free port (each app serves its own endpoint — the url returned
      // is what consumers dial, so the number itself is arbitrary).
      def free(p: Int): Boolean =
        try { new java.net.ServerSocket(p).close(); true }
        catch { case _: java.io.IOException => false }
      val port = sys.env.get("SPARK_GRAFT_THRIFT_PORT").map(_.toInt) match {
        case Some(p) =>
          require(free(p), s"SPARK_GRAFT_THRIFT_PORT=$p is already bound " +
            "by another process — a stale endpoint there would serve the " +
            "wrong catalog")
          p
        case None =>
          if (free(10124)) 10124
          else { val s = new java.net.ServerSocket(0)
                 try s.getLocalPort finally s.close() }
      }
      SparkSqlDialect.register()
      // HiveConf picks hive.* system properties up at construction time
      System.setProperty("hive.server2.thrift.port", port.toString)
      org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
        .startWithContext(spark.sqlContext)
      // Serve an APP-SCOPED database: managed-table locations under the
      // shared warehouse dir outlive the JVM while the metastore does
      // not, so a `default`-database fixture table re-created by the
      // next run dies with LOCATION_ALREADY_EXISTS. A database whose
      // location carries the applicationId gives every run a fresh
      // namespace; the url's path segment makes it the connection's
      // current database, so unqualified fixture table names resolve
      // there. Created BEFORE the readiness probe (on our own session —
      // independent of server state) because the probe verifies it.
      val db = "graft_jdbc_fx"
      val loc = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_jdbc_fx_${spark.sparkContext.applicationId}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      // Identity-checking readiness probe: the free(port) check above is
      // check-then-bind — another process can take the port before
      // HiveThriftServer2 binds, and a bare socket connect would then
      // "validate" the FOREIGN listener (exactly the wrong-catalog
      // failure the free-check exists to prevent). So the probe is a
      // real hive-jdbc session that must see OUR catalog: DESCRIBE
      // DATABASE EXTENDED graft_jdbc_fx has to report the app-scoped
      // location above. A foreign listener either rejects the protocol,
      // lacks the database, or reports a different applicationId in the
      // location — all land in the retry/fail path, never silent reuse.
      val url = s"jdbc:hive2://localhost:$port/$db"
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      def servesOurCatalog(): Boolean = {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val rs = conn.createStatement()
            .executeQuery(s"DESCRIBE DATABASE EXTENDED $db")
          val seen = Iterator.continually(rs)
            .takeWhile(_.next()).map(r => (1 to 2).map(i =>
              Option(r.getString(i)).getOrElse("")).mkString(" "))
            .mkString("\n")
          seen.contains(spark.sparkContext.applicationId)
        } finally conn.close()
      }
      var up = false
      var tries = 0
      while (!up && tries < 60) {
        try up = servesOurCatalog()
        catch { case _: Throwable => }
        if (!up) { Thread.sleep(500); tries += 1 }
      }
      require(up, s"thrift endpoint :$port did not come up serving THIS " +
        s"app's catalog (database $db at $loc) — either startup failed or " +
        "a foreign process won the port race")
      startedUrl = Some(url)
      url
    }
  }

  /** Connection properties for hive-jdbc clients of [[ensure]]'s url. */
  def clientProps(): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.hive.jdbc.HiveDriver")
    p
  }
}
