package graft

import org.apache.spark.sql.functions._

/** q_paged_sink / PagedFeedBatchWrite: the DSv2 write path's commit
  * protocol — dense key-ordered page numbering, the _PAGES manifest,
  * no temporary leakage, and lossless write→read round-trips. */
class PagedSinkSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def freshDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_sink_$tag").toFile
    d.deleteOnExit()
    d
  }

  test("commit renames temporaries into dense key-ordered pages + manifest") {
    val out = freshDir("commit")
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    df.write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val files = out.listFiles().map(_.getName).sorted
    val pages = files.filter(f => f.startsWith("page-") && f.endsWith(".tsv"))
    assert(pages.length == 4, s"expected 4 pages, got ${files.mkString(",")}")
    assert(pages.toSeq == (0 until 4).map(i => f"page-$i%05d.tsv"))
    assert(!files.exists(_.endsWith(".inprogress")), "temporary leaked")
    // manifest counts match reality
    val manifest = scala.io.Source.fromFile(new java.io.File(out, "_PAGES"))
    val lines = try manifest.getLines().toSeq finally manifest.close()
    assert(lines.contains("pages=4"))
    val total = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(lines.contains(s"rows=$total"))
    // pages are key-ordered across the numbering (range partitioning):
    // every page's first key exceeds the previous page's last key
    def keyOf(line: String): Long = line.split("\t")(0).toLong
    val spans = pages.map { p =>
      val src = scala.io.Source.fromFile(new java.io.File(out, p))
      val ls = try src.getLines().toSeq finally src.close()
      (keyOf(ls.head), keyOf(ls.last))
    }
    assert(spans.toSeq.sliding(2).forall {
      case Seq((_, lastA), (firstB, _)) => firstB > lastA
      case _ => true
    }, s"pages not key-ordered: ${spans.mkString(",")}")
  }

  test("write then read through the DSv2 reader is lossless") {
    val out = freshDir("roundtrip")
    val src = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    src.repartitionByRange(3, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val back = spark.read.format("graft-paged")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
      .option("dir", out.getAbsolutePath).load()
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, "round-trip lost or mutated rows")
    // and the read side's zone pruning works on SINK-written pages
    val pruned = back.filter(col("o_orderkey") <= 100L)
    assert(pruned.count() ==
      src.filter(col("o_orderkey") <= 100L).count())
  }

  test("empty partitions produce no page but numbering stays dense") {
    val out = freshDir("empty")
    import spark.implicits._
    // 10 partitions, 3 occupied → exactly 3 dense pages
    val df = Seq((1L, "a"), (2L, "b"), (30L, "c"))
      .toDF("k", "v").repartitionByRange(10, col("k"))
    df.write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val pages = out.listFiles().map(_.getName)
      .filter(f => f.startsWith("page-") && f.endsWith(".tsv")).sorted
    assert(pages.length <= 3 && pages.nonEmpty)
    assert(pages.toSeq == pages.indices.map(i => f"page-$i%05d.tsv"),
      s"numbering not dense: ${pages.mkString(",")}")
    val back = spark.read.format("graft-paged")
      .schema("k BIGINT, v STRING")
      .option("dir", out.getAbsolutePath).load()
    assert(back.count() == 3)
  }

  test("hostile strings (tabs, newlines, CR, backslash, literal \\N) round-trip") {
    val out = freshDir("hostile")
    import spark.implicits._
    val hostile = Seq(
      (1L, "plain"),
      (2L, "tab\there"),
      (3L, "new\nline"),
      (4L, "cr\rhere"),
      (5L, "back\\slash"),
      (6L, "\\N"), // literal backslash-N string, NOT null
      (7L, "mix\t\\\n\r\\N end"),
      (8L, null.asInstanceOf[String])) // the real NULL
    hostile.toDF("k", "s")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val back = spark.read.format("graft-paged")
      .schema("k BIGINT, s STRING")
      .option("dir", out.getAbsolutePath).load()
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(back == hostile.toSet,
      s"escaping lost data: ${back.toSeq.sortBy(_._1).mkString(" | ")}")
    // line framing intact: every physical line has exactly one tab
    val raw = out.listFiles().filter(_.getName.endsWith(".tsv")).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().toArray finally s.close()
    }
    assert(raw.length == hostile.length, "string broke line framing")
    assert(raw.forall(_.count(_ == '\t') == 1), "string broke field framing")
  }

  test("second append keeps the _PAGES manifest cumulative and consistent") {
    val out = freshDir("append2")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v").coalesce(1)
      .write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val manifest = scala.io.Source.fromFile(new java.io.File(out, "_PAGES"))
    val lines = try manifest.getLines().toSeq finally manifest.close()
    assert(lines.contains("pages=2"), s"manifest: $lines")
    assert(lines.contains("rows=5"),
      s"manifest rows not cumulative across appends: $lines")
    val back = spark.read.format("graft-paged").schema("k BIGINT, v STRING")
      .option("dir", out.getAbsolutePath).load()
    assert(back.count() == 5)
  }

  test("a DataFrame keeps the pages it was first planned with; load() again re-lists") {
    val out = freshDir("relist")
    import spark.implicits._
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("k", "v").coalesce(1)
        .write.format("graft-paged").option("dir", out.getAbsolutePath)
        .mode("append").save()
    def load() = spark.read.format("graft-paged").schema("k BIGINT, v STRING")
      .option("dir", out.getAbsolutePath).load()
    append(Seq((1L, "a"), (2L, "b")))
    val df = load()
    assert(df.count() == 2)
    append(Seq((3L, "c"), (4L, "d"), (5L, "e")))
    // re-executing the same DataFrame: the listing taken at its first
    // plan stands, as with Spark's file sources
    assert(df.count() == 2)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a fresh load() lists again and sees the appended page
    val again = load()
    assert(again.count() == 5)
    assert(PagedFeedSpec.plannedPages(again) == 2)
  }

  test("commit cleanup spares a concurrent write's temporaries") {
    val out = freshDir("concurrent")
    out.mkdirs()
    // simulate another in-flight append's temp (different writeId)
    val foreign = new java.io.File(out, ".page-00000-99-deadbeef.inprogress")
    val w = new java.io.FileWriter(foreign); w.write("42\tx\n"); w.close()
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    assert(foreign.exists(),
      "commit deleted a foreign write's in-progress temporary")
    // and none of OUR temporaries leaked
    val leaked = out.listFiles().map(_.getName)
      .filter(n => n.endsWith(".inprogress") && n != foreign.getName)
    assert(leaked.isEmpty, s"own temporaries leaked: ${leaked.mkString(",")}")
  }

  test("null round-trip through the sink's \\N encoding") {
    val out = freshDir("nulls")
    import spark.implicits._
    val df = Seq((1L, Some("x"), Some(2.5)), (2L, None, None))
      .toDF("k", "s", "d")
    df.write.format("graft-paged").option("dir", out.getAbsolutePath)
      .mode("append").save()
    val back = spark.read.format("graft-paged")
      .schema("k BIGINT, s STRING, d DOUBLE")
      .option("dir", out.getAbsolutePath).load()
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(back == Set((1L, "x", 2.5), (2L, null, null)))
  }
}
