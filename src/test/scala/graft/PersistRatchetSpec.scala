package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** A DataFrame is persisted only when two separate executions read it:
  * a driver action and the returned plan, the two passes of
  * `PrefixSum.orderedScan`, loop rounds or checkpoints, or a map-side
  * subtree with no exchange to reuse (`ScalePolicy`). Within one plan,
  * Spark's exchange reuse already runs a shared aggregate once
  * (`ExchangeReuseSpec`), and a persist there only adds jobs and a
  * cached RDD the caller cannot release. This scan of the main sources
  * fails when the number of `.persist(` sites rises above today's. */
class PersistRatchetSpec extends AnyFunSuite {

  private val ceiling = 113

  private lazy val sites: List[String] =
    Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .flatMap { p =>
        new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex.collect {
          case (l, i) if l.contains(".persist(") => s"$p:${i + 1}"
        }
      }

  test(s"src/main has at most $ceiling .persist( sites") {
    assert(sites.exists(_.contains("graft/queries/")), "scan found no query sources")
    assert(sites.size <= ceiling,
      s"${sites.size} .persist( sites, ceiling $ceiling. Persist a DataFrame only when " +
        "two separate executions read it (a driver action and the returned plan, the " +
        "two passes of PrefixSum.orderedScan, loop rounds or checkpoints, or a map-side " +
        "subtree with no exchange to reuse); within one plan Spark's exchange reuse " +
        "computes a shared aggregate once.\n" + sites.mkString("\n"))
  }
}
