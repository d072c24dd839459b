package graft

import org.apache.spark.sql.functions._

import graft.operators.FixedPoint

/** Property coverage for the fixed-point SQL fragments
  * (operators/FixedPoint.scala): each fragment must equal BigInteger
  * reference semantics (truncate-toward-zero on magnitudes, sign
  * re-applied) for every sign/magnitude combination — evaluated by
  * Spark with `duck = false`, and live on DuckDB with `duck = true`,
  * the form the oracle text uses. */
class FixedPointSpec extends GraftSuite {
  import spark.implicits._

  private type Frag = (String, String, Boolean) => String

  // |num|·scale div |den|, sign of num·den re-applied — the sign-split
  // definition both engines implement identically
  private def refDiv(scale: Long)(num: Long, den: Long): Long = {
    val mag = (BigInt(num).abs * scale / BigInt(den).abs).toLong
    if ((num >= 0) == (den >= 0)) mag else -mag
  }

  // nearest integer to num/den, ties away from zero
  private def refRound(num: Long, den: Long): Long = {
    val mag = ((2 * BigInt(num).abs + den) / (2 * BigInt(den))).toLong
    if (num >= 0) mag else -mag
  }

  private val posDenGrid = for {
    n <- Seq(-1000001L, -999999L, -7L, -1L, 0L, 1L, 7L, 999999L, 1000001L)
    d <- Seq(1L, 2L, 3L, 7L, 1000L, 999983L)
  } yield (n, d)

  private val anyDenGrid = for {
    n <- Seq(-1000001L, -7L, -1L, 0L, 1L, 7L, 1000001L)
    d <- Seq(-999983L, -7L, -1L, 1L, 7L, 999983L)
  } yield (n, d)

  private case class Division(name: String, domain: String, frag: Frag,
                              ref: (Long, Long) => Long, grid: Seq[(Long, Long)])

  private val divisions = Seq(
    Division("sdiv", "for any numerator sign (den > 0)", FixedPoint.sdiv, refDiv(1L), posDenGrid),
    Division("sdivPpm", "for any numerator sign (den > 0)", FixedPoint.sdivPpm,
      refDiv(1000000L), posDenGrid),
    Division("sdivPpm2", "for any operand signs", FixedPoint.sdivPpm2,
      refDiv(1000000L), anyDenGrid),
    Division("sdivRound", "for any numerator sign (den > 0)", FixedPoint.sdivRound,
      refRound, posDenGrid))

  private val lnXs = Seq(1L, 2L, 3L, 10L, 999983L, 1000000L, 123456789L)
  private def refLnQ(scale: Long)(x: Long): Long =
    math.floor(math.log(x.toDouble) * scale).toLong

  divisions.foreach { case Division(name, domain, frag, ref, grid) =>
    test(s"$name matches reference semantics $domain") {
      val got = grid.toDF("n", "d")
        .withColumn("q", expr(frag("n", "d", false)))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      grid.foreach { case (n, d) =>
        assert(got((n, d)) == ref(n, d), s"$name($n, $d) = ${got((n, d))}, want ${ref(n, d)}")
      }
    }
  }

  test("lnQ quantizes exactly-representable inputs to a stable BIGINT") {
    Seq(1000000L, 1000000000L).foreach { scale =>
      val got = lnXs.toDF("x")
        .withColumn("q", expr(FixedPoint.lnQ("x", scale)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      lnXs.foreach { x =>
        assert(got(x) == refLnQ(scale)(x), s"lnQ($x, $scale) = ${got(x)}")
      }
    }
  }

  test("duck=true emits DuckDB's // operator, duck=false Spark's div") {
    divisions.foreach { case Division(name, _, frag, _, _) =>
      assert(frag("a", "b", true).contains("//"), name)
      assert(!frag("a", "b", false).contains("//"), name)
      assert(frag("a", "b", false).contains(" div "), name)
    }
  }

  /** Evaluates `sqlOf(columns)` on DuckDB over `rows` (BIGINT columns
    * named by `cols`) and returns each row's inputs with the result. */
  private def onDuck(cols: Seq[String], rows: Seq[Seq[Long]])(sqlOf: String): Seq[(Seq[Long], Long)] = {
    val values = rows.map(_.mkString("(", ", ", ")")).mkString(", ")
    val casts = cols.map(c => s"CAST(${c}0 AS BIGINT) AS $c").mkString(", ")
    val sql = s"SELECT ${cols.mkString(", ")}, CAST($sqlOf AS BIGINT) AS q FROM" +
      s" (SELECT $casts FROM (VALUES $values) t(${cols.map(_ + "0").mkString(", ")}))"
    val conn = DuckDbJdbc.connect()
    try {
      val rs = conn.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (cols.indices.map(i => r.getLong(i + 1)), r.getLong(cols.size + 1)))
        .toList
    } finally conn.close()
  }

  divisions.foreach { case Division(name, domain, frag, ref, grid) =>
    test(s"$name with duck=true matches reference semantics $domain live on DuckDB") {
      val got = onDuck(Seq("n", "d"), grid.map { case (n, d) => Seq(n, d) })(frag("n", "d", true))
      assert(got.size == grid.size)
      got.foreach { case (Seq(n, d), q) =>
        assert(q == ref(n, d), s"duck $name($n, $d) = $q, want ${ref(n, d)}")
      }
    }
  }

  test("lnQ matches the same quantization live on DuckDB") {
    Seq(1000000L, 1000000000L).foreach { scale =>
      val got = onDuck(Seq("x"), lnXs.map(Seq(_)))(FixedPoint.lnQ("x", scale))
      assert(got.size == lnXs.size)
      got.foreach { case (Seq(x), q) =>
        assert(q == refLnQ(scale)(x), s"duck lnQ($x, $scale) = $q")
      }
    }
  }
}
