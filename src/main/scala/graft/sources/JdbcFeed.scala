package graft.sources


import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.graftshim.DerbyVarcharNulls

/** JDBC lookup + distributed batch append — the "database feeder" half.
  *
  * Reference behaviour replaced:
  *   - `select phone from recruits_log where wave = N` fetched entirely
  *     to the driver (feeder.py:127-143) → a pushdown JDBC read: the
  *     predicate ships to the database, rows land distributed.
  *   - one INSERT per pandas row on the driver (feeder.py:156-243) →
  *     `df.write.jdbc` batch append: executors write partitions
  *     concurrently with JDBC batching.
  *
  *   - one `UPDATE ... WHERE id = %s` per spreadsheet row on the driver
  *     (add_q5010.py:20-46) → [[updateKeyed]]: executors run BATCHED
  *     prepared-statement updates, one commit per batch.
  *
  * Executed for real in JdbcFeedSpec and `q_jdbc_roundtrip` against an
  * embedded Derby database (the JDBC driver on this classpath); against
  * a networked database only the URL changes.
  *
  * PostgreSQL dialect note (the reference's actual target,
  * feeder.py:230-243 via psycopg2): everything here is plain
  * JDBC + ANSI SQL, so switching means only `url=jdbc:postgresql://…`
  * plus the driver jar — Spark's JdbcDialects then maps types
  * (Postgres TEXT/SMALLINT vs Derby VARCHAR/SMALLINT) automatically.
  * The one statement that IS dialect-specific is [[mergeKeyed]]'s
  * upsert: ANSI `MERGE INTO` (Derby, SQL Server, Oracle, DB2,
  * Postgres ≥ 15) vs Postgres's idiomatic
  * `INSERT … ON CONFLICT … DO UPDATE` — dispatched by
  * [[MergeDialect.forUrl]] on the JDBC URL.
  * JdbcFeedSpec pins the exact SQL both dialects generate AND executes
  * both live: the ANSI arm on embedded Derby, the Postgres arm on
  * DuckDB (which accepts the identical INSERT … ON CONFLICT form) —
  * no Postgres server runs in this sandbox, but the shipped statement
  * has run against a live engine.
  */
object JdbcFeed {

  // NULL strings bind as VARCHAR on Derby, so typed VARCHAR targets
  // accept them (see DerbyVarcharNulls)
  DerbyVarcharNulls.register

  /** Upsert-statement dialect for [[mergeKeyed]]. Both forms consume
    * the same staging table and require the staging to be key-unique
    * (a duplicate staging key is "row affected twice" on Postgres and
    * nondeterministic-match territory under ANSI MERGE — dedupe
    * upstream, the feeder's anti-join already does). */
  sealed trait MergeDialect {
    /** The one-statement upsert from `staging` into `table`. `sq`
      * quotes a staging column reference (Spark's JDBC writer creates
      * staging columns case-sensitively quoted). */
    def upsertSql(table: String, staging: String, key: String,
                  valueCols: Seq[String], sq: String => String): String
  }

  object MergeDialect {
    /** ANSI/SQL:2003 MERGE — Derby (executed live in-sandbox),
      * SQL Server, Oracle, DB2, Postgres 15+. */
    case object AnsiMerge extends MergeDialect {
      override def upsertSql(table: String, staging: String, key: String,
                             valueCols: Seq[String], sq: String => String): String = {
        val setClause = valueCols.map(c => s"$c = ${sq(c)}").mkString(", ")
        val insertCols = (key +: valueCols).mkString(", ")
        val insertVals = (key +: valueCols).map(sq).mkString(", ")
        s"MERGE INTO $table t USING $staging s ON t.$key = ${sq(key)} " +
          s"WHEN MATCHED THEN UPDATE SET $setClause " +
          s"WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"
      }
    }

    /** PostgreSQL `INSERT … ON CONFLICT (key) DO UPDATE` — the
      * reference's actual engine below version 15 (psycopg2,
      * feeder.py:230-243). Requires a unique index/constraint on the
      * key column; updated values come from the EXCLUDED pseudo-row. */
    case object PostgresOnConflict extends MergeDialect {
      override def upsertSql(table: String, staging: String, key: String,
                             valueCols: Seq[String], sq: String => String): String = {
        val insertCols = (key +: valueCols).mkString(", ")
        val selectVals = (key +: valueCols).map(sq).mkString(", ")
        val setClause = valueCols.map(c => s"$c = EXCLUDED.$c").mkString(", ")
        s"INSERT INTO $table ($insertCols) SELECT $selectVals FROM $staging s " +
          s"ON CONFLICT ($key) DO UPDATE SET $setClause"
      }
    }

    /** URL dispatch: `jdbc:postgresql:` → ON CONFLICT; anything else
      * gets the ANSI statement. */
    def forUrl(url: String): MergeDialect =
      if (url.startsWith("jdbc:postgresql:")) PostgresOnConflict else AnsiMerge
  }

  /** Derived-table string that ships the wave predicate INTO the
    * database (feeder.py:136's `where wave = N`, but evaluated by the
    * DB instead of filtering after a full-table fetch). */
  def pushdownTable(table: String, keyCol: String, waveCol: String, wave: Int): String =
    // alias must not start with '_' — SQL-standard engines (Derby) reject
    // leading-underscore identifiers unquoted
    s"(select $keyCol from $table where $waveCol = $wave) as feeder_keys"

  /** The existing-keys lookup with the wave predicate pushed down into
    * the database as a subquery (dbtable = derived table). */
  def existingKeysReader(spark: SparkSession, url: String, table: String,
                         keyCol: String, waveCol: String, wave: Int): DataFrameReader =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", pushdownTable(table, keyCol, waveCol, wave))

  /** Partition the prepared batch so `numWriters` tasks append
    * concurrently; pair with [[appendOptions]] (which carries the JDBC
    * batch size) to `.save()` against a live database. The one place a
    * JDBC write picks its writer partitioning: [[append]] and
    * [[mergeKeyed]]'s staging load both go through it. */
  def prepareAppend(batch: DataFrame, numWriters: Int): DataFrame =
    batch.repartition(numWriters)

  def appendOptions(url: String, table: String, batchSize: Int = 1000,
                    isolation: String = "READ_COMMITTED"): Map[String, String] = Map(
    "url" -> url,
    "dbtable" -> table,
    "batchsize" -> batchSize.toString,
    "isolationLevel" -> isolation,
  )

  /** Execute the append (requires a JDBC driver on the classpath). */
  def append(batch: DataFrame, url: String, table: String,
             numWriters: Int = 8, batchSize: Int = 1000): Unit =
    prepareAppend(batch, numWriters)
      .write.format("jdbc")
      .options(appendOptions(url, table, batchSize))
      .mode(SaveMode.Append)
      .save()

  /** Dialect-shaped UPSERT — the production form of the reference's
    * UPDATE-by-id loop (add_q5010.py:20-46): stage-then-merge.
    * Executors bulk-load the upsert batch into a session-scoped
    * staging table (Spark's JDBC writer: `numWriters` concurrent
    * batched inserts — the distributed leg), then ONE set-based upsert
    * statement runs inside the database — the DB's own join machinery
    * applies the whole batch, no per-row round-trips at all. The
    * statement is dialect-dispatched ([[MergeDialect.forUrl]]): ANSI `MERGE INTO … WHEN MATCHED UPDATE /
    * WHEN NOT MATCHED INSERT` for Derby/warehouses, Postgres's
    * `INSERT … ON CONFLICT (key) DO UPDATE` for the reference's own
    * engine. The staging table is dropped afterwards (and on failure).
    *
    * Contract: at most ONE source row per key — ANSI MERGE raises a
    * cardinality violation on duplicate source keys (collapse with
    * `Upsert.latestPerKey` first, the same rule updateKeyed documents).
    * `createTypes` forwards to the writer's `createTableColumnTypes`
    * (Derby's default Spark mapping puts strings in CLOB, which can't
    * feed a VARCHAR target column — pass e.g. "status VARCHAR(8)").
    *
    * vs [[updateKeyed]]: updateKeyed streams prepared UPDATE batches
    * from executors (no staging DDL, update-only); mergeKeyed pays one
    * staging table for insert-or-update semantics and a single
    * transactional apply. At 100 TB-feed scale both are bounded by the
    * database, not Spark — the staging load is the only Spark-side
    * work and it parallelizes like any JDBC append. */
  def mergeKeyed(upserts: DataFrame, url: String, table: String,
                 key: String, valueCols: Seq[String],
                 numWriters: Int = 8, batchSize: Int = 500,
                 createTypes: Option[String] = None): Unit = {
    require(valueCols.nonEmpty, "mergeKeyed needs at least one value column")
    val d = MergeDialect.forUrl(url)
    // unquoted identifier: letters/digits only, unique per call so
    // concurrent merges into the same target never share a stage
    val staging = s"${table}_stage_${java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)}"
    val writer = prepareAppend(upserts.select((key +: valueCols).map(col): _*), numWriters)
      .write.format("jdbc")
      .options(appendOptions(url, staging, batchSize))
      .mode(SaveMode.Overwrite)
    createTypes.fold(writer)(t => writer.option("createTableColumnTypes", t))
      .save()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        // Spark's JDBC writer QUOTES column names when creating the
        // staging table, making them case-sensitive — staging refs must
        // quote the exact DataFrame column names; target refs stay as
        // the caller wrote them (their table, their casing rules)
        def sq(c: String) = "s.\"" + c + "\""
        st.executeUpdate(d.upsertSql(table, staging, key, valueCols, sq))
        conn.commit()
      } finally {
        try { st.executeUpdate(s"DROP TABLE $staging"); conn.commit() }
        catch { case _: java.sql.SQLException => () } // stage may not exist on early failure
        st.close()
      }
    } finally conn.close()
  }

  /** [[updateKeyed]]'s input: the value columns then the key, hash
    * partitioned on the key into `numWriters` partitions and sorted by
    * key within each. */
  def prepareUpdate(updates: DataFrame, key: String, valueCols: Seq[String],
                    numWriters: Int): DataFrame =
    updates.select((valueCols :+ key).map(col): _*)
      .repartition(numWriters, col(key))
      .sortWithinPartitions(key)

  /** Distributed keyed UPDATE — the reference's one-UPDATE-per-row driver
    * loop (add_q5010.py:33-40) re-expressed so EXECUTORS apply the
    * updates: each partition opens one connection and runs a prepared
    * `UPDATE table SET c1=?,... WHERE key=?` in JDBC batches, COMMITTING
    * PER BATCH — so a mid-partition task failure leaves earlier batches
    * durable and the Spark retry re-applies the partition. Updates must
    * therefore be idempotent (SET to absolute values, the reference's
    * shape), NOT read-modify-write increments. Rows of one key meet in
    * one partition but in no defined order, so callers needing
    * last-write-wins must collapse duplicate keys FIRST
    * (`Upsert.latestPerKey` semantics) — exactly the contract
    * `q_upsert_q5010` proves on the DataFrame side. Per-batch
    * commits stay: a retried partition re-applies the same absolute
    * values, so staging the whole load (as [[mergeKeyed]] does) would buy
    * no correctness here.
    *
    * Scale shape ([[prepareUpdate]]): updates HASH-partition on the key
    * across `numWriters` connections and sort by key within each
    * partition. Writers hold disjoint key sets, and each takes its row
    * locks in ascending key order, so no lock-wait cycle can form between
    * them. Hash partitioning needs no sampling job, so the input is read
    * once (a range repartition samples it first — one more read of a
    * paged feed). The database sees `numWriters` concurrent batched
    * statements, not 10k serial round-trips; the throughput knob is
    * (numWriters, batchSize) — the same two the reference hardcodes to
    * (1, 1). Lock hold time stays bounded by `batchSize` however large a
    * partition is.
    *
    * The target table needs an index on `key` — without one every UPDATE
    * is a locking full scan and concurrent writers deadlock regardless of
    * partitioning (observed live on Derby; true of any RDBMS at any
    * scale). Against an indexed table, hash-partitioned writers do not
    * deadlock: JdbcFeedSpec runs 4 of them over interleaved keys.
    */
  def updateKeyed(updates: DataFrame, url: String, table: String,
                  key: String, valueCols: Seq[String],
                  numWriters: Int = 8, batchSize: Int = 500): Unit = {
    require(valueCols.nonEmpty, "updateKeyed needs at least one value column")
    val sql = s"UPDATE $table SET ${valueCols.map(c => s"$c = ?").mkString(", ")} " +
      s"WHERE $key = ?"
    prepareUpdate(updates, key, valueCols, numWriters)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val ps = conn.prepareStatement(sql)
            try {
              var pending = 0
              rows.foreach { r =>
                var i = 0
                while (i <= valueCols.length) { ps.setObject(i + 1, r.get(i)); i += 1 }
                ps.addBatch()
                pending += 1
                if (pending >= batchSize) { ps.executeBatch(); conn.commit(); pending = 0 }
              }
              if (pending > 0) { ps.executeBatch(); conn.commit() }
            } finally ps.close()
          } finally conn.close()
        }
      }
  }
}
