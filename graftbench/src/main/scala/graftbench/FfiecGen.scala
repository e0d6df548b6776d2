package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Stateless seeded hashing: every generated cell, repair decision and
  * presence flag is a pure function of (seed, coordinates), so the
  * truth a check needs is recomputed on demand instead of stored. */
object H {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((h, x) => mix(h ^ x))
  /** Uniform in [0, 1). */
  def unit(seed: Long, xs: Long*): Double = (hash(seed, xs: _*) >>> 11).toDouble / (1L << 53)
  def below(n: Int, seed: Long, xs: Long*): Int = ((hash(seed, xs: _*) >>> 1) % n).toInt
}

/** Shape of a generated FFIEC bulk-zip set. */
final case class FfiecParams(quarters: Int, schedules: Int, banks: Int,
                             itemsPerSchedule: Int, splitEvery: Int,
                             repairShare: Double, blankShare: Double,
                             confShare: Double) {
  require(schedules <= FfiecGen.scheduleNames.size)
  require(itemsPerSchedule >= 8)
}

/** Seeded FFIEC Call Report bulk-zip generator. Emits one
  * `FFIEC CDR Call Bulk All Schedules MMDDYYYY.zip` per quarter, each
  * with one TSV member per schedule part (every `splitEvery`-th
  * schedule arrives as `(1 of 2)` / `(2 of 2)`), a POR member and a
  * Readme, plus the XBRL schema map the pipeline needs.
  *
  * Cells are monetary, integer, `%`-encoded pure, boolean and string
  * items, with blank and `CONF` NA cells. A seeded share of rows needs
  * a repair: an embedded newline inside the row's last (string) value,
  * or an extra tab inside that same last value — the position the
  * pipeline's extra-tab squash is defined for.
  *
  * Truth (cell values, non-null counts per long table, repair markers,
  * parts per schedule, TSV bytes) comes from the same pure functions
  * that write the zips. */
final class FfiecGen(val seed: Long, val p: FfiecParams) {
  import FfiecGen._

  val dates: IndexedSeq[String] = (0 until p.quarters).map { q =>
    s"${2021 + q / 4}${Seq("0331", "0630", "0930", "1231")(q % 4)}"
  }
  def mmddyyyy(dateRaw: String): String = dateRaw.substring(4) + dateRaw.substring(0, 4)
  def zipName(dateRaw: String): String =
    s"FFIEC CDR Call Bulk All Schedules ${mmddyyyy(dateRaw)}.zip"

  val bankIds: IndexedSeq[Int] = (0 until p.banks).map(b => 480000 + b * 37)

  /** One schedule item: code, kind and part (1-based). Kinds: d
    * monetary, i integer, pct `%`-encoded pure, l boolean, s string,
    * D date, and c — the string item that closes every part, the only
    * cell a repair touches. */
  case class Item(code: String, kind: String, part: Int)

  def schedule(s: Int): String = scheduleNames(s)
  def nParts(s: Int): Int = if (p.splitEvery > 0 && s % p.splitEvery == p.splitEvery - 1) 2 else 1

  /** Items of schedule `s`, per part, each part ending in a string item
    * (the only place a row's extra tab may sit). */
  def items(s: Int): IndexedSeq[Item] = {
    val n = nParts(s)
    val perPart = p.itemsPerSchedule / n
    (1 to n).flatMap { part =>
      (0 until perPart).map { j =>
        val code = f"${prefixes(s % prefixes.size)}${1000 + s * 64 + (part - 1) * 32 + j}%04d"
        val kind =
          if (j == perPart - 1) "c"
          else if (s == 0 && part == 1 && j == 0) "D"
          else cycledKinds(j % cycledKinds.size)
        Item(if (kind == "D") "RCON9999" else code, kind, part)
      }
    }
  }

  lazy val allItems: IndexedSeq[(Int, Item)] =
    (0 until p.schedules).flatMap(s => items(s).map(s -> _))

  /** item → XBRL type, what the pipeline's schema map encodes. The date
    * item rides the pipeline's default column overrides instead. */
  lazy val schemaMap: Map[String, String] = allItems.collect {
    case (_, it) if it.kind != "D" => it.code -> xbrlType(it.kind)
  }.toMap

  /** Whether bank `b` files part `part` of schedule `s` in quarter `q`. */
  def files(b: Int, s: Int, part: Int, q: Int): Boolean =
    part == 1 || H.unit(seed, 11, b, s, q) >= 0.05

  /** Repair class of a row: 0 none, 1 newline-join, 2 tab-repair. */
  def repair(b: Int, s: Int, part: Int, q: Int): Int = {
    val u = H.unit(seed, 13, b, s, part, q)
    if (u < p.repairShare / 2) 1 else if (u < p.repairShare) 2 else 0
  }

  /** Raw TSV cell text for (bank, item, quarter), before any repair. */
  def raw(b: Int, s: Int, it: Item, q: Int): String = {
    val code = it.code.hashCode.toLong
    val u = H.unit(seed, 17, b, code, q)
    // a repaired row's last value is never blank: the repair needs text
    val forced = it.kind == "c" && repair(b, s, it.part, q) != 0
    if (!forced && u < p.blankShare) ""
    else if (!forced && u < p.blankShare + p.confShare && it.kind != "D") "CONF"
    else {
      val h = H.hash(seed, 19, b, code, q)
      it.kind match {
        case "d" =>
          val cents = (h >>> 1) % 100000000L
          f"${cents / 100}.${cents % 100}%02d"
        case "i" => ((h >>> 1) % 100000L).toString
        case "pct" => f"${(h >>> 1) % 1000 / 10}.${(h >>> 1) % 10}%%"
        case "l" => if ((h & 1) == 0) "true" else "false"
        case "D" => dates(q)
        case _ =>
          val w = java.lang.Long.toString((h >>> 1) % 1000000000L, 36)
          s"txt $w"
      }
    }
  }

  /** Typed value the long table must hold for this cell, None if NA. */
  def truthValue(b: Int, s: Int, it: Item, q: Int): Option[Any] = {
    val r = raw(b, s, it, q)
    if (r == "" || r == "CONF") None
    else it.kind match {
      case "d" => Some(r.toDouble)
      case "i" => Some(r.toInt)
      case "pct" => Some(r.stripSuffix("%").toDouble / 100.0)
      case "l" => Some(r == "true")
      case "D" => Some(r)
      case "s" => Some(r)
      case _ =>
        repair(b, s, it.part, q) match {
          // newline-join rejoins the value with a space (the original
          // text); the extra-tab squash keeps the cell before the tab
          case 2 => Some(r.substring(0, r.indexOf(' ')))
          case _ => Some(r)
        }
    }
  }

  /** Long-table dtype an item lands in. */
  def dtype(it: Item): String = it.kind match {
    case "d" | "pct" => "float"
    case "i" => "int"
    case "l" => "bool"
    case "D" => "date"
    case _ => "str"
  }

  private def memberText(s: Int, part: Int, q: Int): String = {
    val its = items(s).filter(_.part == part)
    val sb = new StringBuilder
    sb.append("\"IDRSSD\"\t").append(its.map(_.code).mkString("\t")).append("\t\n")
    sb.append("\"Reporter ID\"\t").append(its.map(i => s"${i.code} caption").mkString("\t")).append("\t\n")
    bankIds.indices.foreach { b =>
      if (files(b, s, part, q)) {
        val rep = repair(b, s, part, q)
        sb.append(bankIds(b))
        its.foreach { it =>
          val cell = raw(b, s, it, q)
          sb.append('\t')
          if (it.kind == "c" && rep == 1) {
            val cut = cell.indexOf(' ')
            sb.append(cell.substring(0, cut)).append('\n').append(cell.substring(cut + 1))
          } else if (it.kind == "c" && rep == 2) sb.append(cell.replace(' ', '\t'))
          else sb.append(cell)
        }
        sb.append("\t\n")
      }
    }
    sb.toString
  }

  private def porText(q: Int): String = {
    val sb = new StringBuilder
    sb.append("IDRSSD\tFinancial Institution Name\tFDIC Certificate Number\t" +
      "Last Date/Time Submission Updated On\n")
    bankIds.indices.foreach { b =>
      val cert = if (H.unit(seed, 23, b) < 0.1) "0" else (1000 + b).toString
      val d = dates(q)
      sb.append(s"${bankIds(b)}\tBank $b\t$cert\t" +
        s"${d.substring(0, 4)}-${d.substring(4, 6)}-${d.substring(6)}T10:00:00\n")
    }
    sb.toString
  }

  def memberName(s: Int, part: Int, q: Int): String = {
    val tag = if (nParts(s) > 1) s"($part of ${nParts(s)})" else ""
    s"FFIEC CDR Call Schedule ${schedule(s)} ${mmddyyyy(dates(q))}$tag.txt"
  }

  /** Write every quarter's bulk zip into `dir`; returns TSV bytes
    * written (member payloads, uncompressed). Byte-identical per seed:
    * fixed entry order and timestamps. */
  def writeZips(dir: File): Long = {
    dir.mkdirs()
    var bytes = 0L
    dates.indices.foreach { q =>
      val zos = new ZipOutputStream(new BufferedOutputStream(
        new FileOutputStream(new File(dir, zipName(dates(q))))))
      try {
        def put(name: String, text: String): Unit = {
          val e = new ZipEntry(name)
          e.setTime(FixedZipTime)
          zos.putNextEntry(e)
          val b = text.getBytes(StandardCharsets.UTF_8)
          zos.write(b)
          zos.closeEntry()
          if (name.endsWith(".txt") && !name.endsWith("Readme.txt")) bytes += b.length
        }
        put("Readme.txt", "Generated FFIEC Call Report bulk data.\n")
        (0 until p.schedules).foreach { s =>
          (1 to nParts(s)).foreach(part => put(memberName(s, part, q), memberText(s, part, q)))
        }
        put(s"FFIEC CDR Call Bulk POR ${mmddyyyy(dates(q))}.txt", porText(q))
      } finally zos.close()
    }
    bytes
  }

  /** Non-null cells per (dtype, dateRaw): the long-table row counts. */
  lazy val longCounts: Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    for (q <- dates.indices; (s, it) <- allItems; b <- bankIds.indices
         if files(b, s, it.part, q) && truthValue(b, s, it, q).isDefined)
      m((dtype(it), dates(q))) += 1
    m.toMap
  }

  /** Repair markers the manifest must carry per (schedule, dateRaw). */
  lazy val repairMarkers: Map[(String, String), Set[String]] =
    (for (q <- dates.indices; s <- 0 until p.schedules) yield {
      val kinds = for (part <- 1 to nParts(s); b <- bankIds.indices
                       if files(b, s, part, q)) yield repair(b, s, part, q)
      (schedule(s).toLowerCase, dates(q)) ->
        kinds.collect { case 1 => "newline-join"; case 2 => "tab-repair" }.toSet
    }).toMap
}

object FfiecGen {
  val scheduleNames: IndexedSeq[String] = IndexedSeq(
    "RC", "RCA", "RCB", "RCC", "RCD", "RCE", "RCF", "RCG", "RCH", "RCK",
    "RCL", "RCM", "RCN", "RCO", "RCP", "RCQ", "RCR", "RCS", "RCT", "RCV",
    "RI", "RIA", "RIB", "RIC", "RID", "RIE", "ENT", "SU", "CI", "GI")
  private val prefixes = IndexedSeq("RCFD", "RCON", "RIAD")
  /** Item kinds cycled through a part's columns; the one date item D
    * opens the first schedule instead. */
  private val cycledKinds = IndexedSeq("d", "d", "i", "pct", "d", "l", "s")
  private val FixedZipTime = 1262304000000L // 2010-01-01T00:00:00Z
  private val xbrlType = Map(
    "d" -> "xbrli:monetaryItemType", "i" -> "xbrli:integerItemType",
    "pct" -> "xbrli:pureItemType", "l" -> "xbrli:booleanItemType",
    "s" -> "xbrli:stringItemType", "c" -> "xbrli:stringItemType")
}
