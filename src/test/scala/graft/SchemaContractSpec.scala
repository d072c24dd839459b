package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guard against driver testdata drift: every table's column names and
  * the dtypes the queries assume, asserted loudly at sf0.001. Round 6
  * lost 57 operators SILENTLY when `events.ts` changed encoding
  * (TIMESTAMP(NANOS) → timestamp[us]) — this spec turns the next such
  * change into one obvious red test instead of a wall of analysis
  * errors scattered across the suite. */
class SchemaContractSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def fields(name: String): Map[String, DataType] =
    spark.read.parquet(s"$dir/$name.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap

  /** naive-µs parquet timestamps arrive as NTZ; a tz-annotated file
    * would arrive as TimestampType — both are fine for the date math
    * the queries do under the pinned UTC session. */
  private def isTimestampLike(t: DataType): Boolean =
    t == TimestampNTZType || t == TimestampType

  test("events: ts must be an encoding the adaptive loader handles") {
    val f = fields("events")
    assert(Set("event_id", "ts", "user_id", "event_type", "value", "props")
      .subsetOf(f.keySet), s"events columns drifted: ${f.keySet}")
    assert(f("event_id") == LongType && f("user_id") == LongType)
    assert(f("event_type") == StringType && f("props") == StringType)
    assert(f("value") == DoubleType)
    assert(isTimestampLike(f("ts")) || f("ts") == LongType,
      s"events.ts arrived as ${f("ts")} — neither a timestamp nor legacy " +
        "ns-as-long; the events loader (graft.queries.Common.events) must learn this encoding")
    // and the loader must normalize whatever the file had to TimestampType
    assert(eventsTable(dir).schema("ts").dataType == TimestampType,
      "events loader no longer yields TimestampType — downstream time math breaks")
  }

  test("TPC-H-ish tables carry the keys and dtypes the queries assume") {
    val li = fields("lineitem")
    assert(li("l_orderkey") == LongType && li("l_partkey") == LongType &&
      li("l_suppkey") == LongType && li("l_linenumber") == IntegerType)
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .foreach(c => assert(li(c) == DoubleType, s"lineitem.$c: ${li(c)}"))
    assert(li("l_returnflag") == StringType && li("l_linestatus") == StringType)
    assert(isTimestampLike(li("l_shipdate")) || li("l_shipdate") == DateType,
      s"l_shipdate: ${li("l_shipdate")}")

    val o = fields("orders")
    assert(o("o_orderkey") == LongType && o("o_custkey") == LongType)
    assert(o("o_orderstatus") == StringType && o("o_totalprice") == DoubleType)
    assert(isTimestampLike(o("o_orderdate")) || o("o_orderdate") == DateType,
      s"o_orderdate: ${o("o_orderdate")}")

    val c = fields("customer")
    assert(c("c_custkey") == LongType && c("c_name") == StringType &&
      c("c_nationkey") == IntegerType && c("c_acctbal") == DoubleType)

    assert(fields("nation")("n_nationkey") == IntegerType)
    assert(fields("region")("r_regionkey") == IntegerType)
    assert(fields("supplier")("s_suppkey") == LongType)
    assert(fields("part")("p_partkey") == LongType)
  }

  test("documents and embeddings carry the corpus/vector dtypes") {
    val d = fields("documents")
    assert(d("doc_id") == LongType && d("text") == StringType &&
      d("lang") == StringType && d("source") == StringType &&
      d("n_chars") == LongType, s"documents drifted: $d")
    val e = fields("embeddings")
    assert(e("vec_id") == LongType && e("label") == IntegerType)
    assert(e("embedding") == ArrayType(FloatType, containsNull = true) ||
      e("embedding") == ArrayType(FloatType, containsNull = false),
      s"embedding: ${e("embedding")}")
  }
}
