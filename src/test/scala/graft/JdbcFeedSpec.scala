package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sources.JdbcFeed

/** LIVE JDBC round-trip against embedded Derby (the driver ships in
  * /opt/spark/jars) — the first place `JdbcFeed.append` / `updateKeyed`
  * actually open a connection. In-memory Derby is visible to every task
  * in local mode (one JVM); a cluster points the same code at a
  * networked URL.
  */
class JdbcFeedSpec extends GraftSuite {
  import spark.implicits._

  // keep derby.log out of the repo checkout
  System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))

  private def freshDb(name: String): String = {
    val url = s"jdbc:derby:memory:spec_$name"
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE feed (id BIGINT, status VARCHAR(8), amount DOUBLE)")
      // updateKeyed's contract: keyed updates need an index on the key
      // (an unindexed UPDATE is a locking full scan → writer deadlock)
      st.executeUpdate("CREATE INDEX feed_id ON feed(id)")
    } finally conn.close()
    url
  }

  private def readBack(url: String) =
    spark.read.format("jdbc").option("url", url).option("dbtable", "feed").load()

  test("append executes a real distributed batch INSERT") {
    val url = freshDb("append")
    val batch = (1L to 100L).map(i => (i, s"s${i % 3}", i * 1.5)).toDF("id", "status", "amount")
    // batchSize smaller than the row count per writer proves multi-batch
    // execution; numWriters=4 proves concurrent connections work
    JdbcFeed.append(batch, url, "feed", numWriters = 4, batchSize = 16)
    val back = readBack(url)
    assert(back.count() == 100)
    // values round-trip bit-exact (BIGINT / VARCHAR / DOUBLE)
    val r42 = back.filter(col("ID") === 42L).collect().head
    assert(r42.getString(1) == "s0" && r42.getDouble(2) == 63.0)
  }

  test("append honors the batchsize and isolation options") {
    // appendOptions carries the knobs; a bogus isolation level must fail
    // loudly at execution (proving the option reaches the writer), and a
    // legal one must succeed
    val url = freshDb("options")
    val batch = (1L to 10L).map(i => (i, "s", 1.0)).toDF("id", "status", "amount")
    val opts = JdbcFeed.appendOptions(url, "feed", batchSize = 7, isolation = "READ_COMMITTED")
    assert(opts("batchsize") == "7" && opts("isolationLevel") == "READ_COMMITTED")
    batch.write.format("jdbc").options(opts)
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(readBack(url).count() == 10)
    intercept[Exception] {
      batch.write.format("jdbc")
        .options(JdbcFeed.appendOptions(url, "feed", isolation = "NOT_A_LEVEL"))
        .mode(org.apache.spark.sql.SaveMode.Append).save()
    }
  }

  test("updateKeyed applies batched keyed updates from executors") {
    val url = freshDb("update")
    val batch = (1L to 50L).map(i => (i, "old", i.toDouble)).toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 2, batchSize = 16)
    // update every third row; batchSize 4 forces multiple executeBatch
    // calls per partition
    val fixes = (1L to 50L).filter(_ % 3 == 0)
      .map(i => (i, "new", -i.toDouble)).toDF("id", "status", "amount")
    JdbcFeed.updateKeyed(fixes, url, "feed", "id", Seq("status", "amount"),
      numWriters = 3, batchSize = 4)
    val back = readBack(url).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(back.length == 50)
    back.foreach { case (id, status, amount) =>
      if (id % 3 == 0) assert(status == "new" && amount == -id.toDouble, s"id=$id")
      else assert(status == "old" && amount == id.toDouble, s"id=$id")
    }
  }

  test("updateKeyed with no matching key is a no-op on the table") {
    val url = freshDb("noop")
    val batch = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 1)
    JdbcFeed.updateKeyed(Seq((99L, "z")).toDF("id", "status"),
      url, "feed", "id", Seq("status"))
    assert(readBack(url).filter(col("STATUS").isin("a", "b")).count() == 2)
  }

  test("updateKeyed: 4 hash-partitioned writers over interleaved keys never deadlock") {
    // Derby answers a lock-wait cycle with SQLState 40001 within its
    // deadlock timeout, so a writer layout that can deadlock fails here
    // instead of hanging
    val url = freshDb("concurrent")
    val n = 800
    val batch = (1L to n.toLong).map(i => (i, "r0", 0.0)).toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 4, batchSize = 64)
    // a multiplicative permutation spreads consecutive keys over every
    // input partition, so each writer's keys interleave across the table
    val order = (0 until n).map(i => (i.toLong * 7919L) % n + 1L)
    (1 to 20).foreach { round =>
      val fixes = order.map(i => (i, s"r$round", i * round.toDouble))
        .toDF("id", "status", "amount").repartition(6)
      JdbcFeed.updateKeyed(fixes, url, "feed", "id", Seq("status", "amount"),
        numWriters = 4, batchSize = 8)
      val back = readBack(url).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(back.length == n, s"round $round")
      back.foreach { case (id, status, amount) =>
        assert(status == s"r$round" && amount == id * round.toDouble,
          s"round $round id=$id: ($status, $amount)")
      }
    }
  }

  test("prepareUpdate: hash partitioning on the key plus a sort, no range partitioning") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val updates = (1L to 10L).map(i => (i, "s", 1.0)).toDF("id", "status", "amount")
    val plan = JdbcFeed.prepareUpdate(updates, "id", Seq("status", "amount"), 3)
      .queryExecution.sparkPlan
    val parts = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(parts.collect { case h: HashPartitioning
      if h.numPartitions == 3 && h.expressions.flatMap(_.references.map(_.name)) == Seq("id") => h
    }.size == 1, s"expected one hash exchange on id into 3 partitions:\n$plan")
    assert(!parts.exists(_.isInstanceOf[RangePartitioning]), s"range partitioning:\n$plan")
    val sorts = plan.collect { case s: SortExec => s }
    assert(sorts.size == 1 && !sorts.head.global &&
      sorts.head.sortOrder.flatMap(_.references.map(_.name)) == Seq("id"),
      s"expected one per-partition sort on id:\n$plan")
  }

  test("mergeKeyed upserts: both MERGE arms apply, staging table is dropped") {
    val url = freshDb("merge")
    val batch = (1L to 40L).map(i => (i, "old", i.toDouble)).toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 2, batchSize = 16)
    // ids 30..50: 30..40 exist (UPDATE arm), 41..50 are new (INSERT arm)
    val upserts = (30L to 50L).map(i => (i, "merged", i * 10.0))
      .toDF("id", "status", "amount")
    JdbcFeed.mergeKeyed(upserts, url, "feed", "id", Seq("status", "amount"),
      numWriters = 3, batchSize = 8,
      createTypes = Some("status VARCHAR(8)"))
    val back = readBack(url).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(back.length == 50, s"expected 50 rows after upsert, got ${back.length}")
    back.foreach { case (id, status, amount) =>
      if (id >= 30) assert(status == "merged" && amount == id * 10.0, s"id=$id")
      else assert(status == "old" && amount == id.toDouble, s"id=$id")
    }
    // the staging table must not survive
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%STAGE%", null)
      assert(!rs.next(), "staging table leaked")
    } finally conn.close()
  }

  test("append binds NULL strings into a pre-created VARCHAR column") {
    // Spark's stock Derby dialect binds a NULL string as CLOB, which a
    // VARCHAR column rejects; JdbcFeed's dialect binds it as VARCHAR
    val url = freshDb("nullappend")
    val batch = (1L to 30L).map(i => (i, if (i % 3 == 0) null else s"s$i", i * 1.0))
      .toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 3, batchSize = 4)
    val back = readBack(url).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    assert(back.length == 30)
    back.foreach { case (id, status) =>
      assert(status == (if (id % 3 == 0) None else Some(s"s$id")), s"id=$id")
    }
  }

  test("mergeKeyed with a VARCHAR createTypes stages and applies NULL strings") {
    val url = freshDb("nullmerge")
    val batch = (1L to 20L).map(i => (i, "old", i.toDouble)).toDF("id", "status", "amount")
    JdbcFeed.append(batch, url, "feed", numWriters = 2, batchSize = 16)
    // 11..20 exist (UPDATE arm, half to NULL), 21..25 are new (INSERT arm)
    val upserts = (11L to 25L)
      .map(i => (i, if (i % 2 == 0) null else "merged", i * 10.0))
      .toDF("id", "status", "amount")
    JdbcFeed.mergeKeyed(upserts, url, "feed", "id", Seq("status", "amount"),
      numWriters = 3, batchSize = 8,
      createTypes = Some("status VARCHAR(8)"))
    val back = readBack(url).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).sortBy(_._1)
    assert(back.length == 25)
    back.foreach { case (id, status, amount) =>
      if (id <= 10) assert(status.contains("old") && amount == id.toDouble, s"id=$id")
      else assert(status == (if (id % 2 == 0) None else Some("merged")) &&
        amount == id * 10.0, s"id=$id")
    }
  }

  test("MergeDialect: exact SQL per dialect; URL dispatch picks the right one") {
    import graft.sources.JdbcFeed.MergeDialect
    def sq(c: String) = "s.\"" + c + "\""
    // ANSI MERGE — what Derby executes live in the test above
    assert(MergeDialect.AnsiMerge.upsertSql(
      "feed", "feed_stage_ab12", "id", Seq("status", "amount"), sq) ==
      """MERGE INTO feed t USING feed_stage_ab12 s ON t.id = s."id" """ +
        """WHEN MATCHED THEN UPDATE SET status = s."status", amount = s."amount" """ +
        """WHEN NOT MATCHED THEN INSERT (id, status, amount) """ +
        """VALUES (s."id", s."status", s."amount")""")
    // Postgres < 15 — the reference's actual engine (psycopg2,
    // feeder.py:230-243): INSERT … ON CONFLICT … DO UPDATE off the same
    // staging table, values via the EXCLUDED pseudo-row. No Postgres
    // server runs in-sandbox, so the generated statement IS the contract.
    assert(MergeDialect.PostgresOnConflict.upsertSql(
      "feed", "feed_stage_ab12", "id", Seq("status", "amount"), sq) ==
      """INSERT INTO feed (id, status, amount) """ +
        """SELECT s."id", s."status", s."amount" FROM feed_stage_ab12 s """ +
        """ON CONFLICT (id) DO UPDATE SET status = EXCLUDED.status, """ +
        """amount = EXCLUDED.amount""")
    assert(MergeDialect.forUrl("jdbc:postgresql://db:5432/cati") ==
      MergeDialect.PostgresOnConflict)
    assert(MergeDialect.forUrl("jdbc:derby:memory:x") == MergeDialect.AnsiMerge)
    assert(MergeDialect.forUrl("jdbc:sqlserver://h") == MergeDialect.AnsiMerge)
  }

  test("PostgresOnConflict executes LIVE on DuckDB: both merge arms " +
    "through the shipped INSERT … ON CONFLICT statement") {
    // The Postgres arm is the statement that ships for the reference's
    // actual target engine (psycopg2, feeder.py:230-243). No Postgres
    // server runs in this sandbox, but DuckDB speaks the identical
    // INSERT … ON CONFLICT (key) DO UPDATE SET … = EXCLUDED.… form and
    // its JDBC driver sits in the local artifact cache — so the exact
    // string the dialect generates is executed on a live engine here,
    // proving both arms (insert + conflict-update), not just a pin.
    val conn = DuckDbJdbc.connect()
    try {
      val st = conn.createStatement()
      // ON CONFLICT requires a unique constraint on the merge key —
      // same requirement the reference's recruits_log table satisfies
      st.executeUpdate(
        "CREATE TABLE feed (id BIGINT PRIMARY KEY, status VARCHAR, amount DOUBLE)")
      st.executeUpdate("INSERT INTO feed VALUES (1, 'old', 10.0), (2, 'keep', 20.0)")
      st.executeUpdate(
        "CREATE TABLE feed_stage_ab12 (id BIGINT, status VARCHAR, amount DOUBLE)")
      st.executeUpdate(
        "INSERT INTO feed_stage_ab12 VALUES (1, 'new', 11.0), (3, 'ins', 30.0)")
      def sq(c: String) = "s.\"" + c + "\""
      st.executeUpdate(JdbcFeed.MergeDialect.PostgresOnConflict.upsertSql(
        "feed", "feed_stage_ab12", "id", Seq("status", "amount"), sq))
      val rs = st.executeQuery("SELECT id, status, amount FROM feed ORDER BY id")
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toList
      // conflict arm updated id 1, id 2 untouched, insert arm added id 3
      assert(rows == List((1L, "new", 11.0), (2L, "keep", 20.0), (3L, "ins", 30.0)))
    } finally conn.close()
  }

  test("existingKeysReader pushes the wave predicate into the database") {
    val url = s"jdbc:derby:memory:spec_pushdown"
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE recruits_log (phone BIGINT, wave INT)")
      st.executeUpdate("INSERT INTO recruits_log VALUES (111, 1), (222, 1), (333, 2)")
    } finally conn.close()
    val keys = JdbcFeed.existingKeysReader(spark, url, "recruits_log", "phone", "wave", 1)
      .load().collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(111L, 222L))
  }
}
