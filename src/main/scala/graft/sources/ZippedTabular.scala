package graft.sources

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** Zipped-tabular extraction → DataFrame.
  *
  * The reference downloads a zip archive and reads the first entry as an
  * XLSX into pandas (feeder.py:118-122, add_q5010.py:44-49). Spark-side:
  * the `binaryFile` source distributes whole archives to executors, and
  * each task stream-decodes its archive's first entry — ingest of 10k
  * result archives is a 10k-task map with no driver involvement.
  *
  * Both payload codecs are real and dependency-free:
  *   - CSV: RFC 4180 quoting (embedded commas/quotes/newlines).
  *   - XLSX: a spreadsheet is a zip of XML — `decodeXlsx` stream-parses
  *     the first worksheet plus sharedStrings with stdlib
  *     `javax.xml.stream` (shared, inline, and value cells; numbers kept
  *     as strings). No Apache POI needed for the reference's flat
  *     export shape.
  */
object ZippedTabular {

  /** First zip entry's bytes. */
  def firstEntry(archive: Array[Byte]): Array[Byte] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(archive))
    try {
      val e = zin.getNextEntry
      require(e != null, "empty zip archive")
      zin.readAllBytes()
    } finally zin.close()
  }

  // --- CSV (RFC 4180) -------------------------------------------------------

  /** One CSV field, quoted only when it has to be (an empty string is
    * quoted so a trailing empty field survives the round-trip). */
  def csvField(s: String): String =
    if (s == null) ""
    else if (s.isEmpty) "\"\""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Char-level RFC 4180 rows: quoted fields may contain commas, escaped
    * quotes ("" → "), and embedded newlines. */
  private[sources] def parseCsvRows(s: String): Vector[Array[String]] = {
    val rows = Vector.newBuilder[Array[String]]
    var cells = Vector.newBuilder[String]
    var nCells = 0
    val field = new StringBuilder
    var inQuotes = false
    var started = false // distinguishes a quoted-empty field from no field
    var i = 0
    def endField(): Unit = { cells += field.toString; nCells += 1; field.clear(); started = false }
    def endRow(): Unit = {
      endField()
      rows += cells.result().toArray
      cells = Vector.newBuilder[String]; nCells = 0
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { field.append('"'); i += 1 }
          else inQuotes = false
        } else field.append(c)
      } else c match {
        case '"' if field.isEmpty => inQuotes = true; started = true
        case ','  => endField()
        case '\r' => if (i + 1 >= s.length || s.charAt(i + 1) != '\n') endRow()
        case '\n' => endRow()
        case _    => field.append(c); started = true
      }
      i += 1
    }
    if (started || field.nonEmpty || nCells > 0) endRow()
    rows.result()
  }

  /** Parse a headered CSV payload into (header, rows). */
  def parseCsv(bytes: Array[Byte]): (Array[String], Iterator[Array[String]]) = {
    val rows = parseCsvRows(new String(bytes, StandardCharsets.UTF_8))
    if (rows.isEmpty) (Array.empty, Iterator.empty)
    else (rows.head, rows.iterator.drop(1))
  }

  // --- XLSX -----------------------------------------------------------------

  /** Per-thread factory: XMLInputFactory is documented not thread-safe
    * (it caches reader state), and decode runs concurrently across
    * executor task threads under local[32] — a shared instance can race. */
  private val xmlFactory: ThreadLocal[XMLInputFactory] =
    ThreadLocal.withInitial { () =>
      val f = XMLInputFactory.newInstance()
      // untrusted archive content: no DTDs, no external entities
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }

  /** sharedStrings.xml → string table: one entry per <si>, concatenating
    * its <t> runs (plain and rich-text items both land here). */
  private[sources] def parseSharedStrings(bytes: Array[Byte]): Array[String] = {
    val out = Vector.newBuilder[String]
    val r = xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(bytes))
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "si" => cur = new StringBuilder
          case "t"  => inT = true
          case _    =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inT && cur != null) cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "si" => out += cur.toString; cur = null
          case "t"  => inT = false
          case _    =>
        }
        case _ =>
      }
    }
    r.close()
    out.result().toArray
  }

  /** numFmtIds whose BUILT-IN format is a date/time (ECMA-376 §18.8.30:
    * 14-22 dates/times, 27-36 + 50-58 locale era dates, 45-47 elapsed
    * times). Custom ids (≥ 164) resolve via [[isDateFormatCode]]. */
  private val BuiltinDateFmtIds: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** The built-in subset whose format carries a TIME component (18-21
    * times, 22 datetime, 45-47 elapsed) — a midnight serial under one
    * of these must decode as 'T00:00', not a bare date (see
    * [[excelSerialToIso]]). */
  private val BuiltinTimeFmtIds: Set[Int] = ((18 to 22) ++ (45 to 47)).toSet

  /** Is a CUSTOM format code a date/time format? The POI-style test:
    * strip quoted runs, [bracketed] sections, escaped and
    * underscore/star-padded chars, then look for any y/m/d/h/s token.
    * ("#,##0.00" → no; "yyyy-mm-dd;@" → yes.) */
  private[graft] def isDateFormatCode(code: String): Boolean = {
    val stripped = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("[\\\\_*].", "")
    stripped.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
  }

  /** Does a CUSTOM date format code carry a TIME component? h/s tokens
    * are unambiguous time markers ('m' alone could be month); a
    * date-only code like "yyyy-mm-dd;@" has neither. Same quoted-run /
    * bracket / escape stripping as [[isDateFormatCode]]. */
  private[graft] def hasTimeTokens(code: String): Boolean = {
    val stripped = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("[\\\\_*].", "")
    stripped.exists(c => "hsHS".indexOf(c) >= 0)
  }

  /** xl/styles.xml → per-cellXfs-index date-style flags (0 = not a
    * date style, 1 = date-only format, 2 = format with a time
    * component): customs from <numFmts>, then one flag per
    * <cellXfs><xf numFmtId=…> in declaration order (the order the
    * sheet's `s` attribute indexes). The 1-vs-2 split decides whether
    * a midnight serial decodes as '2024-06-02' or '2024-06-02T00:00'
    * — the serial value alone cannot tell (frac = 0 either way). */
  private[graft] def parseStyles(bytes: Array[Byte]): Array[Int] = {
    val custom = collection.mutable.Map.empty[Int, String]
    val xfIds = Vector.newBuilder[Int]
    var inCellXfs = false
    val r = xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(bytes))
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "numFmt" =>
              val id = Option(r.getAttributeValue(null, "numFmtId"))
              val code = Option(r.getAttributeValue(null, "formatCode"))
              for (i <- id; c <- code) custom(i.toInt) = c
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfIds += Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(0)
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "cellXfs") inCellXfs = false
          case _ =>
        }
      }
    } finally r.close()
    xfIds.result().map { id =>
      val isDate = BuiltinDateFmtIds.contains(id) ||
        custom.get(id).exists(isDateFormatCode)
      if (!isDate) 0
      else if (BuiltinTimeFmtIds.contains(id) ||
        custom.get(id).exists(hasTimeTokens)) 2
      else 1
    }.toArray
  }

  /** Excel 1900-system serial → ISO-8601 date or date-time string.
    * Serials ≥ 61 count from 1899-12-30 (absorbing the fictitious
    * 1900-02-29 the 1900 system carries, Lotus-bug-compatible); 0-60
    * count from 1899-12-31 so serial 1 = 1900-01-01. The day fraction
    * rounds to the nearest millisecond — spreadsheet writers store
    * times as binary day fractions, so second boundaries arrive as
    * …:59.999999996-style noise. */
  private[graft] def excelSerialToIso(raw: String, hasTime: Boolean = false): String = {
    val v = BigDecimal(raw.trim)
    val days = v.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    val frac = (v - BigDecimal(days)).toDouble
    val base = java.time.LocalDate.of(1899, 12, if (days >= 61) 30 else 31)
    val date = base.plusDays(days)
    val millis = math.round(frac * 86400000.0)
    // A zero day-fraction is ambiguous on its own: under a date-only
    // style it IS the date; under a datetime style it's midnight, and
    // the t="d" path for the same value writes '…T00:00' — the caller
    // passes the STYLE's verdict (hasTimeTokens on the format code) so
    // both forms decode identically and an all-midnight column still
    // infers as timestamp.
    if (millis == 0L) { if (hasTime) date.atStartOfDay.toString else date.toString }
    else if (millis == 86400000L) {
      val d1 = date.plusDays(1); if (hasTime) d1.atStartOfDay.toString else d1.toString
    }
    else date.atStartOfDay.plusNanos(millis * 1000000L).toString
  }

  /** "BC7" → 0-based column index 54 (sheet cell references). */
  private[sources] def colIndexOf(ref: String): Int = {
    var i = 0; var idx = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      idx = idx * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    idx - 1
  }

  /** One decoded sheet cell: resolved text plus the OOXML cell-type tag —
    * 'n' numeric (the t-less default), 's' string (shared, inline, or
    * formula-string), 'b' boolean, 'd' ISO-8601 date. The tag is what
    * dtype inference works from (pd.read_excel's shape, feeder.py:121). */
  final case class XlsxCell(value: String, kind: Char)

  /** One worksheet's rows as dense typed-cell arrays (sparse cells
    * gap-fill with null via the `r` cell references). t="s" resolves the
    * shared-string table, t="inlineStr" reads <is><t>, everything else
    * takes the raw <v> text with its type tag preserved. Style-based
    * date cells — t-less numeric whose `s` style index is a date format
    * (the form real exporters write) — resolve via `dateStyles` (from
    * [[parseStyles]]): the 1900-system serial converts to ISO text and
    * the cell tags 'd', identical to the in-spec t="d" form. A serial
    * that fails to parse falls back to a plain numeric cell. */
  private[sources] def parseSheetCells(bytes: Array[Byte], shared: Array[String],
                                       dateStyles: Array[Int] = Array.empty): Vector[Array[XlsxCell]] = {
    val rows = Vector.newBuilder[Array[XlsxCell]]
    val r = xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(bytes))
    var cells: collection.mutable.ArrayBuffer[XlsxCell] = null
    var cellType: String = null
    var cellStyle = -1
    var cellCol = -1
    var buf: StringBuilder = null
    var inV = false
    var inIsT = false
    def put(col: Int, v: XlsxCell): Unit = {
      val c = if (col >= 0) col else cells.length
      while (cells.length <= c) cells += null
      cells(c) = v
    }
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" => cells = collection.mutable.ArrayBuffer.empty[XlsxCell]
          case "c" =>
            cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
            cellStyle = Option(r.getAttributeValue(null, "s"))
              .flatMap(_.toIntOption).getOrElse(-1)
            cellCol = Option(r.getAttributeValue(null, "r")).map(colIndexOf).getOrElse(-1)
          case "v" => inV = true; buf = new StringBuilder
          case "t" => inIsT = true; if (buf == null) buf = new StringBuilder
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if ((inV || inIsT) && buf != null) buf.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "row" => rows += cells.toArray; cells = null
          case "c" =>
            if (buf != null) {
              val raw = buf.toString
              val cell = cellType match {
                case "s"                     => XlsxCell(shared(raw.trim.toInt), 's')
                case "inlineStr" | "str"     => XlsxCell(raw, 's')
                case "b"                     => XlsxCell(raw, 'b')
                case "d"                     => XlsxCell(raw, 'd')
                case _ if cellStyle >= 0 && cellStyle < dateStyles.length &&
                  dateStyles(cellStyle) > 0 =>
                  try XlsxCell(excelSerialToIso(raw, dateStyles(cellStyle) == 2), 'd')
                  catch { case _: NumberFormatException => XlsxCell(raw, 'n') }
                case _                       => XlsxCell(raw, 'n')
              }
              put(cellCol, cell)
            }
            buf = null; cellType = null; cellStyle = -1; cellCol = -1
          case "v" => inV = false
          case "t" => inIsT = false
          case _ =>
        }
        case _ =>
      }
    }
    r.close()
    rows.result()
  }

  /** Decode an XLSX payload (itself a zip of XML) into (header, rows):
    * first worksheet, first row as header — the reference's
    * `pd.read_excel` shape (feeder.py:118-122). */
  /** Ordering key for worksheet entries: sheet number when the name is
    * the conventional sheetN.xml (so sheet2 < sheet10), then the name —
    * zip entry order is arbitrary, so the "first sheet" must not depend
    * on it. Fallback only: the workbook-declared order wins when
    * xl/workbook.xml is present (see [[workbookParts]]). */
  private[sources] def sheetOrderKey(name: String): (Long, String) = {
    val m = "([0-9]+)\\.xml$".r.findFirstMatchIn(name)
    (m.map(_.group(1).toLong).getOrElse(Long.MaxValue), name)
  }

  /** The r:id of the FIRST <sheet> declared in xl/workbook.xml — the
    * authoritative "first sheet" (what a spreadsheet app shows as the
    * leftmost tab; pd.read_excel's sheet 0). Filename order is only a
    * heuristic: a workbook whose tabs were reordered keeps its original
    * sheetN.xml names. */
  private[sources] def firstDeclaredSheetId(workbookXml: Array[Byte]): Option[String] = {
    val r = xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(workbookXml))
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          // the relationship id rides in the r: namespace; match by
          // local name so unprefixed/odd-prefixed producers decode too
          var i = 0
          while (i < r.getAttributeCount) {
            if (r.getAttributeLocalName(i) == "id") return Some(r.getAttributeValue(i))
            i += 1
          }
          return None
        }
      }
      None
    } finally r.close()
  }

  /** Relationship id → archive path ("rId3" → "xl/worksheets/sheet3.xml")
    * from xl/_rels/workbook.xml.rels. */
  private[sources] def sheetRelTargets(relsXml: Array[Byte]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    val r = xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(relsXml))
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
          var id: String = null; var target: String = null
          var i = 0
          while (i < r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "Id" => id = r.getAttributeValue(i)
              case "Target" => target = r.getAttributeValue(i)
              case _ =>
            }
            i += 1
          }
          if (id != null && target != null) {
            // targets are relative to xl/ unless absolute
            val path = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
            out += id -> path
          }
        }
      }
    } finally r.close()
    out.result()
  }

  /** First worksheet + shared strings out of the workbook archive. "First"
    * resolves by the workbook's own declaration when present (workbook.xml
    * sheet order + the .rels id→path map — survives tab reordering); a
    * stripped-down archive without those parts falls back to conventional
    * sheetN.xml filename order. Two streaming passes over the in-memory
    * archive: pass 1 reads only the SMALL parts (workbook.xml, rels,
    * sharedStrings) plus sheet NAMES, pass 2 extracts only the chosen
    * sheet — memory stays one-sheet-bounded however many sheets the
    * workbook holds. */
  private def workbookParts(bytes: Array[Byte]): (Array[String], Array[Byte], Array[Int]) = {
    var shared: Array[String] = Array.empty
    var dateStyles: Array[Int] = Array.empty
    var workbook: Array[Byte] = null
    var rels: Array[Byte] = null
    val sheetNames = Vector.newBuilder[String]
    val zin1 = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin1.getNextEntry
      while (e != null) {
        e.getName match {
          case "xl/sharedStrings.xml" => shared = parseSharedStrings(zin1.readAllBytes())
          case "xl/styles.xml" => dateStyles = parseStyles(zin1.readAllBytes())
          case "xl/workbook.xml" => workbook = zin1.readAllBytes()
          case "xl/_rels/workbook.xml.rels" => rels = zin1.readAllBytes()
          case n if n.startsWith("xl/worksheets/") && n.endsWith(".xml") =>
            sheetNames += n
          case _ =>
        }
        e = zin1.getNextEntry
      }
    } finally zin1.close()
    val names = sheetNames.result()
    require(names.nonEmpty, "no xl/worksheets/*.xml in xlsx payload")
    val declared = for {
      wb <- Option(workbook)
      rl <- Option(rels)
      rid <- firstDeclaredSheetId(wb)
      path <- sheetRelTargets(rl).get(rid)
      if names.contains(path)
    } yield path
    val chosen = declared.getOrElse(names.minBy(sheetOrderKey))
    var sheet: Array[Byte] = null
    val zin2 = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin2.getNextEntry
      while (e != null && sheet == null) {
        if (e.getName == chosen) sheet = zin2.readAllBytes()
        else e = zin2.getNextEntry
      }
    } finally zin2.close()
    require(sheet != null, s"worksheet entry $chosen vanished between passes")
    (shared, sheet, dateStyles)
  }

  def decodeXlsx(bytes: Array[Byte]): (Array[String], Iterator[Array[String]]) = {
    val (shared, sheet, dateStyles) = workbookParts(bytes)
    val rows = parseSheetCells(sheet, shared, dateStyles)
      .map(_.map(c => if (c == null) null else c.value))
    require(rows.nonEmpty, "empty worksheet")
    (rows.head, rows.iterator.drop(1))
  }

  /** Typed-cell decode: header (first row, as strings) + data rows with
    * per-cell type tags — the input to [[inferXlsxSchema]]. */
  def decodeXlsxCells(bytes: Array[Byte]): (Array[String], Vector[Array[XlsxCell]]) = {
    val (shared, sheet, dateStyles) = workbookParts(bytes)
    val rows = parseSheetCells(sheet, shared, dateStyles)
    require(rows.nonEmpty, "empty worksheet")
    (rows.head.map(c => if (c == null) null else c.value), rows.drop(1))
  }

  private val IntegralRe = "-?[0-9]+".r

  /** Per-column dtype inference over the typed cells — pd.read_excel's
    * shape (feeder.py:121): a column whose non-null data cells are all
    * numeric becomes LONG (all integral) or DOUBLE; all-boolean becomes
    * BOOLEAN; all-date becomes TIMESTAMP; anything mixed stays STRING.
    * Inference is per-workbook (driver-side or one executor task); for
    * a many-archive distributed read pass the resulting schema to
    * [[readZippedXlsxTyped]] like a spark.read `.schema(...)`. */
  def inferXlsxSchema(bytes: Array[Byte]): StructType = {
    val (header, rows) = decodeXlsxCells(bytes)
    val fields = header.indices.map { i =>
      val cells = rows.iterator.map(r => if (i < r.length) r(i) else null).filter(_ != null).toSeq
      val kinds = cells.map(_.kind).distinct
      val dt: DataType =
        if (cells.isEmpty) StringType
        else if (kinds == Seq('n'))
          if (cells.forall(c => IntegralRe.matches(c.value.trim))) LongType else DoubleType
        else if (kinds == Seq('b')) BooleanType
        else if (kinds == Seq('d')) TimestampType
        else StringType
      StructField(Option(header(i)).getOrElse(s"_c$i"), dt, nullable = true)
    }
    StructType(fields)
  }

  // --- XLSX writer (fixtures / export parity) -------------------------------

  private def xml(s: String): String =
    s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }

  private[sources] def colName(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val rem = (n - 1) % 26; sb.insert(0, ('A' + rem).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Write a minimal single-sheet XLSX (the reference's flat export
    * shape). `sharedStrings = true` routes STRING cells through the
    * shared string table; false writes inline-string cells — both forms
    * appear in the wild and both decode paths are exercised by
    * SourcesSpec. Non-string values write as typed cells: numbers as
    * t-less <v> (the OOXML numeric default), booleans as t="b", and
    * java.time LocalDate/LocalDateTime as in-spec t="d" ISO cells — the
    * forms [[inferXlsxSchema]] and [[readZippedXlsxTyped]] decode back
    * to typed columns. Nulls skip the cell (sparse row).
    *
    * `styledDates = true` writes dates the way REAL exporters
    * (Excel, openpyxl) do instead: t-less numeric 1900-system serials
    * under a date-format style — LocalDate via built-in numFmtId 14,
    * LocalDateTime via a custom numFmt — plus the xl/styles.xml part
    * that declares them. Decodes identically to the t="d" form through
    * [[parseStyles]]/[[parseSheetCells]]. */
  def writeXlsx(out: OutputStream, header: Seq[String], rows: Seq[Seq[Any]],
                sharedStrings: Boolean = true, styledDates: Boolean = false): Unit = {
    // 1900-system serial (dates ≥ 1900-03-01 only differ by the +2 the
    // 1899-12-30 base absorbs); day fraction as an exact decimal so the
    // reader's millisecond rounding reproduces the written time
    def serialOf(d: java.time.LocalDate): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(1899, 12, 30), d)
    def serialOfDt(dt: java.time.LocalDateTime): java.math.BigDecimal =
      new java.math.BigDecimal(serialOf(dt.toLocalDate)).add(
        new java.math.BigDecimal(dt.toLocalTime.toNanoOfDay)
          .divide(new java.math.BigDecimal(86400L * 1000000000L),
            12, java.math.RoundingMode.HALF_UP)
          .stripTrailingZeros())
    val z = new ZipOutputStream(out)
    def entry(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(body.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    val all = header +: rows
    val table = collection.mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int = table.getOrElseUpdate(s, table.size)

    val sheetRows = all.zipWithIndex.map { case (cells, ri) =>
      val cs = cells.zipWithIndex.map { case (v, ci) =>
        val ref = s"${colName(ci)}${ri + 1}"
        def stringCell(s: String): String =
          if (sharedStrings) s"""<c r="$ref" t="s"><v>${sharedIdx(s)}</v></c>"""
          else s"""<c r="$ref" t="inlineStr"><is><t>${xml(s)}</t></is></c>"""
        v match {
          case null => ""
          case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
          case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float |
               _: java.math.BigDecimal | _: BigDecimal =>
            s"""<c r="$ref"><v>$v</v></c>"""
          case d: java.time.LocalDate =>
            if (styledDates) s"""<c r="$ref" s="1"><v>${serialOf(d)}</v></c>"""
            else s"""<c r="$ref" t="d"><v>$d</v></c>"""
          case d: java.time.LocalDateTime =>
            if (styledDates) s"""<c r="$ref" s="2"><v>${serialOfDt(d).toPlainString}</v></c>"""
            else s"""<c r="$ref" t="d"><v>$d</v></c>"""
          case s => stringCell(s.toString)
        }
      }.mkString
      s"""<row r="${ri + 1}">$cs</row>"""
    }.mkString
    val stylesOverride =
      if (styledDates)
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>"""
      else ""
    entry("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
        |$stylesOverride</Types>""".stripMargin)
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetRows</sheetData></worksheet>""".stripMargin)
    if (sharedStrings) {
      val sis = table.keysIterator.map(s => s"<si><t>${xml(s)}</t></si>").mkString
      entry("xl/sharedStrings.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${table.size}" uniqueCount="${table.size}">$sis</sst>""".stripMargin)
    }
    if (styledDates) {
      // style 1 = built-in date (numFmtId 14), style 2 = a CUSTOM
      // datetime format — so one fixture exercises BOTH detection paths
      entry("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd\ hh:mm:ss"/></numFmts>
          |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/><xf numFmtId="164" applyNumberFormat="1"/></cellXfs>
          |</styleSheet>""".stripMargin)
    }
    z.close()
  }

  // --- distributed readers --------------------------------------------------

  /** Read every `*.zip` under `path` (each containing one CSV entry) into
    * a single string-typed DataFrame with the given column names.
    * Distributed: one task per archive via the binaryFile source. */
  def readZippedCsv(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    readZippedCsvTyped(spark, path, stringSchema(columns))

  /** Same, for zips whose first entry is an XLSX workbook — the
    * reference's actual export shape (feeder.py:118-122). */
  def readZippedXlsx(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    readZippedXlsxTyped(spark, path, stringSchema(columns))

  // convertCell(_, StringType) is the identity: the string readers are the typed ones
  private def stringSchema(columns: Seq[String]): StructType =
    StructType(columns.map(StructField(_, StringType, nullable = true)))

  // --- typed readers --------------------------------------------------------

  /** Cell text → external row value for `dt`. Numeric text parses via
    * BigDecimal so "5", "5.0", and scientific forms all land exactly
    * (longValueExact refuses true fractions loudly); dates accept
    * ISO-8601 date or date-time. An empty/blank cell is null for every
    * non-string type — `spark.read.schema(...)`'s missing-field
    * behavior, which these readers mirror. */
  private[graft] def convertCell(raw: String, dt: DataType): Any =
    if (raw == null) null
    else if (raw.trim.isEmpty && dt != StringType) null
    else dt match {
      case StringType  => raw
      case LongType    => new java.math.BigDecimal(raw.trim).longValueExact()
      case IntegerType => new java.math.BigDecimal(raw.trim).intValueExact()
      case DoubleType  => raw.trim.toDouble
      case FloatType   => raw.trim.toFloat
      case BooleanType => raw.trim == "1" || raw.trim.equalsIgnoreCase("true")
      case TimestampType =>
        val t = raw.trim
        val ldt =
          try java.time.LocalDateTime.parse(t)
          catch { case _: java.time.format.DateTimeParseException =>
            java.time.LocalDate.parse(t).atStartOfDay() }
        java.sql.Timestamp.valueOf(ldt)
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.parse(raw.trim))
      case other => throw new IllegalArgumentException(s"unsupported cell type $other")
    }

  private def readZippedTyped(spark: SparkSession, path: String, schema: StructType,
                              decode: Array[Byte] => (Array[String], Iterator[Array[String]])): DataFrame = {
    val bin = spark.read.format("binaryFile").load(path)
      .select(col("content"))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val n = schema.length
    val types = schema.fields.map(_.dataType)
    bin.mapPartitions { rows =>
      rows.flatMap { r =>
        val (_, dataRows) = decode(firstEntry(r.getAs[Array[Byte]](0)))
        dataRows.map(cells => Row.fromSeq(
          (0 until n).map(i =>
            if (i < cells.length && cells(i) != null) convertCell(cells(i), types(i))
            else null)))
      }
    }(enc)
  }

  /** Schema-applying CSV reader — `spark.read.schema(...)`'s shape for
    * the zipped codec: text cells parse to the declared types on the
    * executors, no post-hoc string casts. */
  def readZippedCsvTyped(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readZippedTyped(spark, path, schema, parseCsv)

  /** Schema-applying XLSX reader: typed cells (numeric/bool/date) land
    * as the declared Spark types — the reference's pd.read_excel dtype
    * behavior (feeder.py:121), with the schema explicit the way a
    * distributed many-archive read needs it (derive one with
    * [[inferXlsxSchema]] on a sample workbook). */
  def readZippedXlsxTyped(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readZippedTyped(spark, path, schema, decodeXlsx)
}
