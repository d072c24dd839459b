package graft

import org.apache.spark.sql.functions._
import graft.operators.DateRepair

class DateRepairSpec extends GraftSuite {
  import spark.implicits._

  test("bumpMonth does string surgery and does NOT wrap past 12 (reference parity)") {
    val out = Seq("2020-01-15 10:00:00", "2020-09-30 00:00:00", "2020-12-31 23:59:59")
      .toDF("d").select(DateRepair.bumpMonth(col("d")).as("b")).as[String].collect()
    assert(out.toSeq == Seq(
      "2020-02-15 10:00:00", "2020-10-30 00:00:00", "2020-13-31 23:59:59"))
  }

  test("repair: null recruit filled from interview date; flagged group month-bumped") {
    // grp A: first row recruit month (1) != iv month (2) → flagged, all bumped
    // grp B: months agree → untouched; null filled from iv date
    val df = Seq(
      ("A", 1, "2020-02-10 09:00:00", "2020-01-10 08:00:00"),
      ("A", 2, "2020-02-11 09:00:00", "2020-01-11 08:00:00"),
      ("B", 1, "2020-05-01 12:00:00", "2020-05-01 11:00:00"),
      ("B", 2, "2020-05-02 12:00:00", null),
    ).toDF("grp", "ord", "iv_raw", "recruit")
      .withColumn("iv", to_timestamp(col("iv_raw")))
    val out = DateRepair.repair(df, "grp", "ord", "recruit", "iv")
      .orderBy("grp", "ord").select("recruit").as[String].collect()
    assert(out.toSeq == Seq(
      "2020-02-10 08:00:00", // bumped 01 → 02
      "2020-02-11 08:00:00",
      "2020-05-01 11:00:00", // untouched
      "2020-05-02 12:00:00", // filled from iv
    ))
  }

  test("repair of an all-null group fills every row (no flag)") {
    val df = Seq(("C", 1, "2021-07-04 10:30:00", null: String))
      .toDF("grp", "ord", "iv_raw", "recruit")
      .withColumn("iv", to_timestamp(col("iv_raw")))
    val out = DateRepair.repair(df, "grp", "ord", "recruit", "iv")
      .select("recruit").as[String].collect()
    assert(out.toSeq == Seq("2021-07-04 10:30:00"))
  }

  test("repair keeps NULL-group rows: filled from the interview date, never bumped") {
    // the NULL group's first row would flag a bump (recruit month 1 vs iv
    // month 2), but a NULL key names no file, so nothing decides it
    val df = Seq(
      (Some("A"), 1, "2020-02-10 09:00:00", "2020-01-10 08:00:00"),
      (None, 1, "2020-02-12 09:00:00", "2020-01-12 08:00:00"),
      (None, 2, "2020-02-13 09:00:00", null),
    ).toDF("grp", "ord", "iv_raw", "recruit")
      .withColumn("iv", to_timestamp(col("iv_raw")))
    val out = DateRepair.repair(df, "grp", "ord", "recruit", "iv")
      .orderBy(col("grp").asc_nulls_last, col("ord"))
      .select("grp", "recruit").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)))
    assert(out.toSeq == Seq(
      (Some("A"), "2020-02-10 08:00:00"), // bumped 01 → 02
      (None, "2020-01-12 08:00:00"),      // kept as is
      (None, "2020-02-13 09:00:00"),      // filled from iv
    ))
  }

  test("repair output: the group column first, then the input columns in order") {
    val df = Seq((1, "g", "2020-02-10 09:00:00", "2020-01-10 08:00:00"))
      .toDF("ord", "grp", "iv_raw", "recruit")
      .withColumn("iv", to_timestamp(col("iv_raw")))
    val out = DateRepair.repair(df, "grp", "ord", "recruit", "iv")
    assert(out.columns.toSeq == Seq("grp", "ord", "iv_raw", "recruit", "iv"))
    assert(out.schema("recruit").dataType == df.schema("recruit").dataType)
  }

  test("plan shape: one Window over the group, no Join (the input is read once)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val df = Seq(("A", 1, "2020-02-10 09:00:00", "2020-01-10 08:00:00"))
      .toDF("grp", "ord", "iv_raw", "recruit")
      .withColumn("iv", to_timestamp(col("iv_raw")))
    val plan = DateRepair.repair(df, "grp", "ord", "recruit", "iv")
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, s"repair joins:\n$plan")
    val windows = plan.collect { case w: Window => w }
    assert(windows.size == 1, s"expected exactly one Window:\n$plan")
    assert(windows.head.partitionSpec.flatMap(_.references.map(_.name)) ==
      Seq("grp"), s"window not partitioned by the group:\n$plan")
  }
}
