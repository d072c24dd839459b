package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every engine-exact division and quantized log in the registry comes
  * from operators.FixedPoint, whose fragments FixedPointSpec checks on
  * both engines. A copy written inline in a query file is tested by
  * nothing, and can drift from the one the other engine runs; this scan
  * of the query sources fails on one. */
class FixedPointRatchetSpec extends AnyFunSuite {

  private lazy val sources: List[(String, String)] =
    Using.resource(Files.walk(Paths.get("src/main/scala/graft/queries")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))

  // an ELSE arm that negates a parenthesized expression: `ELSE -(…`,
  // `ELSE -CAST(…`, across margin pipes and string concatenation
  private val negatedElse = """ELSE[\s|"+]*-[\s|]*(?:CAST[\s|]*)?\(""".r
  private val integerDivision = """\bdiv\b|//""".r

  private def line(src: String, at: Int): Int = src.substring(0, at).count(_ == '\n') + 1

  /** Sign-split divisions: a negated ELSE arm that divides before its
    * CASE ends. */
  private def signSplits(src: String): Seq[Int] =
    negatedElse.findAllMatchIn(src).filter { m =>
      val end = src.indexOf("END", m.end)
      integerDivision.findFirstIn(src.substring(m.end, if (end < 0) src.length else end)).nonEmpty
    }.map(m => line(src, m.start)).toSeq

  private def quantizedLogs(src: String): Seq[Int] =
    """floor\(ln\(""".r.findAllMatchIn(src).map(m => line(src, m.start)).toSeq

  test("the scan finds each inline form FixedPoint replaces") {
    assert(signSplits("CASE WHEN x >= 0 THEN x div d ELSE -((-x) div d) END").size == 1)
    assert(signSplits(
      """|    CASE WHEN w >= 0 THEN CAST(w // n AS BIGINT)
         |      ELSE -CAST((-w) // n AS BIGINT) END""".stripMargin).size == 1)
    assert(signSplits("CASE WHEN (a >= 0) = (b >= 0) THEN (abs(a) * 1000000) // abs(b)" +
      " ELSE -((abs(a) * 1000000) // abs(b)) END").size == 1)
    assert(signSplits("CASE WHEN a - b >= 0 THEN ((a - b) * 1000000) div d" +
      " ELSE -(((b - a) * 1000000) div d) END").size == 1)
    assert(quantizedLogs("CAST(floor(ln(c) * 1e6) AS BIGINT)").size == 1)
    // a plain negation or a division outside a negated arm is not one
    assert(signSplits("CASE WHEN q > 0 THEN q ELSE -q END").isEmpty)
    assert(signSplits("CASE WHEN d > 0 THEN n div d ELSE -(n) END").isEmpty)
  }

  test("no query file writes a sign-split division or quantized log inline") {
    assert(sources.exists(_._1.endsWith("Stats.scala")), "scan found no query sources")
    val found = sources.flatMap { case (p, src) =>
      signSplits(src).map(l => s"$p:$l sign-split division") ++
        quantizedLogs(src).map(l => s"$p:$l floor(ln(")
    }
    assert(found.isEmpty,
      "use FixedPoint.sdiv / sdivPpm / sdivPpm2 / sdivRound / lnQ instead of:\n" +
        found.mkString("\n"))
  }
}
