package org.apache.spark.sql.jdbc.graftshim

import java.sql.Types

import org.apache.spark.sql.jdbc.{DerbyDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's Derby dialect with one change: a NULL string binds as
  * `Types.VARCHAR` instead of `Types.CLOB`. Derby rejects
  * `setNull(CLOB)` for a VARCHAR column, so with the stock dialect any
  * NULL string failed an append into a typed (VARCHAR) target; Derby
  * accepts `setNull(VARCHAR)` for both VARCHAR and CLOB columns. The
  * column DDL Spark emits for strings stays `CLOB`, so tables the JDBC
  * writer creates are unchanged. Subclassing (rather than registering a
  * second Derby dialect next to the stock one, which Spark would merge
  * into an `AggregatedDialect` that drops most Derby overrides) keeps
  * every other Derby behaviour. `DerbyDialect` is package-private,
  * hence this shim package. */
private[jdbc] class DerbyVarcharNulls extends DerbyDialect {
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("CLOB", Types.VARCHAR))
    case _ => super.getJDBCType(dt)
  }
}

object DerbyVarcharNulls {
  /** Replace the stock Derby dialect. Idempotent: evaluated once per JVM. */
  lazy val register: Unit = {
    JdbcDialects.unregisterDialect(JdbcDialects.get("jdbc:derby:"))
    JdbcDialects.registerDialect(new DerbyVarcharNulls)
  }
}
