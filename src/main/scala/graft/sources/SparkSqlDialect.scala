package graft.sources

import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** JdbcDialect for Spark SQL thrift endpoints (`jdbc:hive2://…`).
  *
  * Spark's generic dialect quotes identifiers with double quotes and
  * maps StringType to TEXT — both rejected by a Spark SQL / HiveServer2
  * endpoint (double quotes parse as string literals, TEXT is not a
  * type). This dialect backtick-quotes and emits STRING, which is all
  * the partitioned-scan machinery needs: JDBCRDD's generated
  * `SELECT …columns… WHERE lower <= key AND key < upper AND pushed`
  * range queries then parse natively on the remote Spark.
  *
  * Registered by [[register]] (idempotent). Used by the catalog's JDBC
  * rows under a `local-cluster` master ([[ThriftEndpoint]]), where a
  * thrift server backed by the
  * driver's session catalog is the network database and executors in
  * separate JVMs issue the partition scans — the production JDBC-source
  * topology (executors → network endpoint) without an external RDBMS.
  */
object SparkSqlDialect extends JdbcDialect {

  override def canHandle(url: String): Boolean =
    url.startsWith("jdbc:hive2:")

  override def quoteIdentifier(colName: String): String =
    s"`${colName.replace("`", "``")}`"

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("STRING", java.sql.Types.VARCHAR))
    // numeric/date defaults (BIGINT, DOUBLE, DATE, …) are valid Spark SQL
    case _ => None
  }

  def register(): Unit = JdbcDialects.registerDialect(this)
}
