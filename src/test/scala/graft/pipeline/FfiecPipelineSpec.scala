package graft.pipeline

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FfiecPipelineSpec extends SparkSpec {

  private def writeZip(dir: File, name: String, entries: (String, String)*): String = {
    val f = new File(dir, name)
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (n, content) =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  private val schemaMap = Map(
    "RCFD0010" -> "xbrli:monetaryItemType",
    "RCFD0020" -> "xbrli:monetaryItemType",
    "RCON3838" -> "xbrli:pureItemType",
    "RIAD4340" -> "xbrli:integerItemType")

  test("fetchPlan: quarter ends in range; names round-trip through " +
    "listZips' pattern for both kinds") {
    val s = spark
    import s.implicits._
    val plan = FfiecPipeline.fetchPlan(s, "2001-02-15", "2002-12-31", "xbrl")
      .as[(java.sql.Date, String, String, String)].collect.toSeq
    // 2001-02-15 start: Q1 2001-03-31 is the first end; 8 quarters total
    assert(plan.map(_._2) == Seq("20010331", "20010630", "20010930",
      "20011231", "20020331", "20020630", "20020930", "20021231"))
    assert(plan.head._3 == "FFIEC CDR Call Bulk XBRL 03312001.zip")
    // every planned name must parse back through the listZips pattern
    // (drop a plan into the download dir -> the pipeline picks it up)
    for (kind <- Seq("tsv", "xbrl")) {
      val tmp = java.nio.file.Files.createTempDirectory("fplan").toFile
      val names = FfiecPipeline.fetchPlan(s, "2001-01-01", "2001-12-31", kind)
        .select("zip_name", "period").as[(String, String)].collect.toSeq
      names.foreach { case (n, _) =>
        writeZip(tmp, n, "dummy.txt" -> "x") }
      val listed = FfiecPipeline.listZips(s, tmp.getAbsolutePath, kind)
      assert(listed.map(_._2).sorted == names.map(_._2).sorted)
    }
  }

  /** One bulk zip: RC in two parts (float and pure-% items), RI (an
    * int item with a CONF cell), a POR file and a Readme. */
  private def writeFixtureZip(dir: File): String =
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024(1 of 2).txt" ->
        ("IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t100.5\t\n38\t200.0\t\n"),
      "FFIEC CDR Call Schedule RC 03312024(2 of 2).txt" ->
        ("IDRSSD\tRCFD0020\tRCON3838\t\nID\tOther\tRate\t\n37\t7.5\t28%\t\n39\t9.0\t3%\t\n"),
      "FFIEC CDR Call Schedule RI 03312024.txt" ->
        ("IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n38\tCONF\t\n"),
      "FFIEC CDR Call Bulk POR 03312024.txt" ->
        ("IDRSSD\tFinancial Institution Name\tFDIC Certificate Number\tLast Date/Time Submission Updated On\n" +
         "37\tFirst Bank\t0\t2024-04-15T10:00:00\n" +
         "38\tSecond Bank\t1234\t2024-04-15T11:30:00\n"),
      "Readme.txt" -> "ignore")

  test("processZip: multipart combine, typed long tables, metadata, POR") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq").toFile

    writeFixtureZip(dir)

    val manifest = FfiecPipeline.processZip(spark, s"$dir/FFIEC CDR Call Bulk All Schedules 03312024.zip",
      outDir.getAbsolutePath, schemaMap)
    val kinds = manifest.select("kind").collect().map(_.getString(0)).toSet
    assert(kinds.contains("rc") && kinds.contains("ri") &&
      kinds.contains("float") && kinds.contains("schedules") && kinds.contains("por"))

    // wide RC: parts full-joined on IDRSSD, pure % converted
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240331.parquet")
      .orderBy("IDRSSD").collect()
    assert(rc.map(_.getInt(0)).toSeq == Seq(37, 38, 39))
    val r37 = rc(0)
    assert(r37.getAs[Double]("RCFD0010") == 100.5)
    assert(r37.getAs[Double]("RCFD0020") == 7.5)
    assert(r37.getAs[Double]("RCON3838") == 0.28) // "28%" → 0.28
    assert(rc(1).isNullAt(rc(1).fieldIndex("RCFD0020"))) // 38 only in part 1
    assert(rc(2).isNullAt(rc(2).fieldIndex("RCFD0010"))) // 39 only in part 2

    // long float table: one row per non-null (IDRSSD, date, item)
    val longF = spark.read.parquet(s"$outDir/ffiec_float_20240331.parquet")
    assert(longF.columns.toSet == Set("IDRSSD", "date", "item", "value"))
    assert(longF.where(col("item") === "RCFD0010").count() == 2)
    assert(longF.where(col("item") === "RCON3838").count() == 2)
    // int table separate; CONF dropped as NULL
    val longI = spark.read.parquet(s"$outDir/ffiec_int_20240331.parquet")
    assert(longI.count() == 1 && longI.collect()(0).getAs[Int]("value") == 42)

    // schedules metadata: RCFD0010 lives in rc only
    val meta = spark.read.parquet(s"$outDir/ffiec_schedules_20240331.parquet")
    val m = meta.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("RCFD0010") == Seq("rc") && m("RIAD4340") == Seq("ri"))

    // POR: snake_case, id-zero→null, ET→UTC
    val por = spark.read.parquet(s"$outDir/por_20240331.parquet")
      .orderBy("IDRSSD").collect()
    assert(por(0).getAs[String]("financial_institution_name") == "First Bank")
    assert(por(0).isNullAt(por(0).fieldIndex("fdic_certificate_number"))) // "0" → null
    assert(por(1).getAs[String]("fdic_certificate_number") == "1234")
    // 2024-04-15 is EDT (UTC-4)
    assert(por(0).getAs[java.sql.Timestamp]("last_date_time_submission_updated_on")
      .toString == "2024-04-15 14:00:00.0")

    // listZips discovers the bulk zip with its date
    val zips = FfiecPipeline.listZips(spark, dir.getAbsolutePath)
    assert(zips.map(_._2) == Seq("20240331"))
  }

  test("processAll drives concurrent zips and writes the process log") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw3").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq3").toFile
    for (d <- Seq("03312024", "06302024")) {
      writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
        s"FFIEC CDR Call Schedule RC $d.txt" ->
          s"IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    }
    // supply MDRM item metadata so the full reference output tree lands
    val s = spark
    import s.implicits._
    val itemsDir = java.nio.file.Files.createTempDirectory("ffiec_items").toFile
    Seq(("RCFD0010", "RCFD", "0010", "Cash", "float"))
      .toDF("item", "mnemonic", "item_code", "item_name", "data_type")
      .write.parquet(s"$itemsDir/items.parquet")
    Seq(("RCFD0010", "031", "2001-01-01", null.asInstanceOf[String], "N", "Cash held", "g", "monetary"))
      .toDF("item", "reporting_form", "start_date", "end_date",
        "confidentiality", "description", "seriesglossary", "itemtype")
      .write.parquet(s"$itemsDir/details.parquet")
    val manifest = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, schemaMap, concurrency = 2,
      itemsPath = Some(s"$itemsDir/items.parquet"),
      detailsPath = Some(s"$itemsDir/details.parquet"))
    assert(manifest.where(col("kind") === "rc").count() == 2)
    val log = spark.read.parquet(s"$outDir/ffiec_process_data.parquet")
    assert(log.count() == manifest.count())
    // both report dates landed as separate wide parquets
    assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
    assert(new java.io.File(outDir, "ffiec_rc_20240630.parquet").exists())
    // item metadata tables in the tree + manifest (ffiec_create_item_pqs)
    assert(manifest.where(col("kind").isin("items", "item_details")).count() == 2)
    assert(spark.read.parquet(s"$outDir/ffiec_items.parquet").count() == 1)
    assert(spark.read.parquet(s"$outDir/ffiec_item_details.parquet").count() == 1)
  }

  test("processZip with NO schema map resolves types from a taxonomy concepts.xsd") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw4").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq4").toFile
    writeZip(dir, "_FFIEC Taxonomy 2024.zip",
      "call-2024/concepts.xsd" ->
        """<?xml version="1.0"?>
          |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
          |           xmlns:xbrli="http://www.xbrl.org/2003/instance">
          |  <xs:element name="RCFD0010" type="xbrli:monetaryItemType" substitutionGroup="xbrli:item"/>
          |  <xs:element name="RCON3838" type="xbrli:pureItemType"/>
          |  <xs:element name="RIAD4340" type="xbrli:integerItemType"/>
          |  <xs:element name="RCON1111" type="xbrli:booleanItemType"/>
          |  <xs:element name="NoTypeHere"/>
          |</xs:schema>""".stripMargin)
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\tRCON1111\t\nID\tCash\tRate\tFlag\t\n" +
         "37\t100.5\t28%\ttrue\t\n38\t200.0\t3%\tfalse\t\n"))

    // no schemaMap argument — the pipeline must find the taxonomy itself
    FfiecPipeline.processZip(spark,
      s"$dir/FFIEC CDR Call Bulk All Schedules 03312024.zip", outDir.getAbsolutePath)
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240331.parquet")
    assert(rc.schema("RCFD0010").dataType.typeName == "double")
    assert(rc.schema("RCON1111").dataType.typeName == "boolean")
    // pure % columns land as converted doubles, not strings
    assert(rc.schema("RCON3838").dataType.typeName == "double")
    val r37 = rc.orderBy("IDRSSD").collect()(0)
    assert(r37.getAs[Double]("RCON3838") == 0.28)
    assert(r37.getAs[Boolean]("RCON1111"))
  }

  test("inferFromFacts classifies XBRL facts like the reference bootstrap") {
    import spark.implicits._
    val facts = Seq(
      ("RCFD0010", Some("USD"), Some("0"), "123"),
      ("BOOL1", None, None, "true"),
      ("STR1", None, None, "hello"),
      ("PURE1", Some("PURE"), Some("4"), "0.28"),
      ("INT1", Some("NON-MONETARY"), Some("0"), "42")
    ).toDF("item", "unitRef", "decimals", "value")
    val m = graft.schema.FfiecSchema.inferFromFacts(facts)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map(
      "RCFD0010" -> "xbrli:monetaryItemType",
      "BOOL1" -> "xbrli:booleanItemType",
      "STR1" -> "xbrli:stringItemType",
      "PURE1" -> "xbrli:pureItemType",
      "INT1" -> "xbrli:integerItemType"))
  }

  test("manifest surfaces per-file repairs and a real ok flag") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw5").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq5").toFile
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 09302024.zip",
      // RC: one embedded-newline row (repair) + one unparseable double (problem)
      "FFIEC CDR Call Schedule RC 09302024.txt" ->
        ("IDRSSD\tRCFD0010\tTEXTX\t\nID\tCash\tNote\t\n" +
         "37\t1.5\tbroken\nline\t\n" +
         "38\tnotanumber\tok\t\n"),
      // RI: clean
      "FFIEC CDR Call Schedule RI 09302024.txt" ->
        "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n")
    val manifest = FfiecPipeline.processZip(spark,
      s"$dir/FFIEC CDR Call Bulk All Schedules 09302024.zip",
      outDir.getAbsolutePath, schemaMap)
    val rows = manifest.collect()
      .map(r => r.getAs[String]("kind") ->
        (r.getAs[Boolean]("ok"), r.getSeq[String](r.fieldIndex("repairs")))).toMap
    assert(rows("rc")._2.contains("newline-join"))
    assert(!rows("rc")._1) // "notanumber" failed its monetary parse
    assert(rows("ri")._1 && rows("ri")._2.isEmpty)
    // and the repaired row actually landed repaired
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240930.parquet")
      .orderBy("IDRSSD").collect()
    assert(rc(0).getAs[String]("TEXTX") == "broken line")
    assert(rc(1).isNullAt(rc(1).fieldIndex("RCFD0010")))
  }

  test("tolerant processAll records a broken zip and keeps going") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw6").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq6").toFile
    // one good zip, one with broken multipart structure
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
      "FFIEC CDR Call Schedule RC 06302024(1 of 3).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n")
    // fail-fast default still throws
    intercept[IllegalArgumentException] {
      FfiecPipeline.processAll(spark, dir.getAbsolutePath,
        outDir.getAbsolutePath, schemaMap)
    }
    val manifest = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, schemaMap, tolerant = true)
    val err = manifest.where(col("kind") === "error").collect()
    assert(err.length == 1 && !err(0).getAs[Boolean]("ok"))
    assert(err(0).getSeq[String](err(0).fieldIndex("innerFiles"))
      .head.contains("06302024"))
    // the good zip still landed
    assert(manifest.where(col("kind") === "rc" && col("ok")).count() == 1)
    assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
  }

  test("fleet soak: 60 zips (3 broken) through tolerant concurrent processAll") {
    // the 100 TB ingestion posture in miniature: a quarter-century of
    // quarterly drops processed in one tolerant concurrent run —
    // asserts manifest COMPLETENESS (every zip accounted for, broken
    // ones as error rows, no output lost to a neighbor's failure) and
    // that concurrency overlaps zip-level work
    val dir = java.nio.file.Files.createTempDirectory("ffiec_fleet").toFile
    val quarters = for {
      y <- 2010 to 2024; q <- Seq("0331", "0630", "0930", "1231")
    } yield s"$q$y"
    val dates = quarters.take(60)
    val broken = Set(dates(7), dates(23), dates(41))
    dates.foreach { d =>
      if (broken(d)) {
        // declared multipart but a part is missing — structural break
        writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
          s"FFIEC CDR Call Schedule RC $d(1 of 3).txt" ->
            "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n")
      } else {
        writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
          s"FFIEC CDR Call Schedule RC $d.txt" ->
            s"IDRSSD\tRCFD0010\tRCFD0020\t\nID\tCash\tDue\t\n37\t1.5\t2.5\t\n93\t3.5\t4.5\t\n")
      }
    }
    def run(conc: Int): (org.apache.spark.sql.DataFrame, Double) = {
      val outDir = java.nio.file.Files.createTempDirectory(s"ffiec_fleet_out$conc").toFile
      val t0 = System.nanoTime()
      val m = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
        outDir.getAbsolutePath, schemaMap, concurrency = conc, tolerant = true)
        .cache()
      m.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // completeness: 57 good rc tables + 3 error rows, every output on disk
      assert(m.where(col("kind") === "rc" && col("ok")).count() == 57)
      assert(m.where(col("kind") === "error" && !col("ok")).count() == 3)
      dates.filterNot(broken).foreach { d =>
        val ymd = d.takeRight(4) + d.take(4)
        assert(new File(outDir, s"ffiec_rc_$ymd.parquet").exists(), s"missing $ymd")
      }
      val log = spark.read.parquet(s"$outDir/ffiec_process_data.parquet")
      assert(log.count() == m.count())
      (m, sec)
    }
    val (_, serialSec) = run(1)
    val (_, concSec) = run(8)
    info(f"fleet soak: 60 zips serial=$serialSec%.1fs concurrency8=$concSec%.1fs")
    // concurrency must not be slower than serial by more than noise —
    // wall-time scaling is recorded in SURVEY, not hard-asserted (CI
    // boxes vary); the guard catches accidental serialization regressions
    assert(concSec < serialSec * 1.5,
      f"concurrent run pathologically slow: $concSec%.1fs vs $serialSec%.1fs")
  }

  test("pct_to_prop strictness: bare numeric in a percent-bearing pure column") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw7").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq7").toFile
    // RCON3838 is pureItemType and carries '%' values — a bare "28" is
    // the reference's pct_to_prop() error case
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 12312024.zip",
      "FFIEC CDR Call Schedule RC 12312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\t\nID\tCash\tRate\t\n" +
         "37\t1.5\t28%\t\n38\t2.0\t28\t\n"))
    val zip = s"$dir/FFIEC CDR Call Bulk All Schedules 12312024.zip"
    val manifest = FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap)
    val rc = manifest.where(col("kind") === "rc").collect()(0)
    assert(!rc.getAs[Boolean]("ok"))
    assert(rc.getSeq[String](rc.fieldIndex("repairs"))
      .exists(_.startsWith("pure-pct-bad: RCON3838")))
    // strict mode throws, like the reference's stop()
    val e = intercept[IllegalStateException] {
      FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap,
        strict = true)
    }
    assert(e.getMessage.contains("RCON3838"))

    // reference parity: a pure column with NO '%' anywhere is silently
    // cast to double — bare numerics are fine there
    val dir2 = java.nio.file.Files.createTempDirectory("ffiec_raw8").toFile
    writeZip(dir2, "FFIEC CDR Call Bulk All Schedules 12312024.zip",
      "FFIEC CDR Call Schedule RC 12312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\t\nID\tCash\tRate\t\n" +
         "37\t1.5\t0.28\t\n38\t2.0\t0.03\t\n"))
    val m2 = FfiecPipeline.processZip(spark,
      s"$dir2/FFIEC CDR Call Bulk All Schedules 12312024.zip",
      outDir.getAbsolutePath, schemaMap, strict = true)
    assert(m2.where(col("kind") === "rc").collect()(0).getAs[Boolean]("ok"))
  }

  private def xbrlDoc(idrssd: Int, date: String, value: Long): String =
    s"""<?xml version="1.0"?>
       |<xbrl xmlns:cc="http://www.ffiec.gov/xbrl" xmlns:xbrli="http://www.xbrl.org/2003/instance">
       |  <xbrli:context id="c1"/>
       |  <cc:RCFD2170 contextRef="rc_${idrssd}_$date" unitRef="USD" decimals="0">$value</cc:RCFD2170>
       |  <cc:RCON9999 contextRef="rc_${idrssd}_$date">20240331</cc:RCON9999>
       |</xbrl>""".stripMargin

  test("processXbrls writes per-date facts parquet and a manifest") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_xbrl_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_xbrl_pq").toFile
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 03312024.zip",
      "FFIEC CDR Call Bulk 480228.xbrl.xml" -> xbrlDoc(480228, "2024-03-31", 123456),
      "FFIEC CDR Call Bulk 480229.xbrl.xml" -> xbrlDoc(480229, "2024-03-31", 654321),
      "Readme.txt" -> "ignore")
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 06302024.zip",
      "FFIEC CDR Call Bulk 480228.xbrl.xml" -> xbrlDoc(480228, "2024-06-30", 111111))
    // a TSV bulk zip beside them must be ignored by the xbrl walk
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")

    val manifest = FfiecPipeline.processXbrls(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, concurrency = 2)
    val rows = manifest.orderBy("dateRaw").collect()
    assert(rows.map(_.getAs[String]("dateRaw")).toSeq == Seq("20240331", "20240630"))
    assert(rows.forall(_.getAs[Boolean]("ok")))
    assert(rows(0).getAs[Long]("nFacts") == 4L) // 2 filings x 2 facts
    assert(rows(1).getAs[Long]("nFacts") == 2L)

    // per-date facts parquet with the reference's fact columns
    val q1 = spark.read.parquet(s"$outDir/ffiec_xbrl_20240331.parquet")
    assert(q1.columns.toSet == Set("IDRSSD", "date", "schedule", "item",
      "unitRef", "decimals", "value", "n_attrs"))
    val v = q1.where(col("IDRSSD") === 480228 && col("item") === "RCFD2170")
      .collect()
    assert(v.length == 1 && v(0).getAs[String]("value") == "123456")
    // manifest persisted beside the data
    val log = spark.read.parquet(s"$outDir/ffiec_process_xbrls_data.parquet")
    assert(log.count() == 2)

    // tolerant mode records a bad zip and keeps going
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 09302024.zip",
      "broken.xbrl.xml" -> "<not-xml")
    val m2 = FfiecPipeline.processXbrls(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, tolerant = true)
    val bad = m2.where(!col("ok")).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("dateRaw") == "20240930")
    assert(m2.where(col("ok")).count() == 2)
  }

  test("processStream ingests newly landed zips exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_stream_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_stream_pq").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("ffiec_stream_ck").toFile
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    val q = FfiecPipeline.processStream(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, ckpt.getAbsolutePath, schemaMap)
    try {
      q.processAllAvailable()
      assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
      // a second quarter lands while the stream runs
      writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
        "FFIEC CDR Call Schedule RC 06302024.txt" ->
          "IDRSSD\tRCFD0010\t\nID\tCash\t\n38\t2.5\t\n")
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(new java.io.File(outDir, "ffiec_rc_20240630.parquet").exists())
      val log = spark.read.parquet(s"$outDir/ffiec_process_stream_log.parquet")
      // exactly once: one rc manifest row per zip, no reprocessing
      assert(log.where(col("kind") === "rc").count() == 2)
      assert(log.where(!col("ok")).count() == 0)
    } finally q.stop()
  }

  test("processZip rejects broken multipart structure") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw2").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq2").toFile
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
      "FFIEC CDR Call Schedule RC 06302024(1 of 3).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n",
      "FFIEC CDR Call Schedule RC 06302024(2 of 3).txt" ->
        "IDRSSD\tRCFD0020\t\nID\tOther\t\n37\t2.0\t\n")
    intercept[IllegalArgumentException] {
      FfiecPipeline.processZip(spark,
        s"$dir/FFIEC CDR Call Bulk All Schedules 06302024.zip",
        outDir.getAbsolutePath, schemaMap)
    }
  }

  test("processZip duplicate-key gate rides the long write") {
    def zipWith(tag: String, riCash: String): (File, String) = {
      val dir = java.nio.file.Files.createTempDirectory(s"ffiec_dup_$tag").toFile
      val outDir = java.nio.file.Files.createTempDirectory(s"ffiec_dup_out_$tag").toFile
      // RC and RI both carry the float item RCFD0010 for bank 37
      val zip = writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
        "FFIEC CDR Call Schedule RC 03312024.txt" ->
          "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n38\t2.0\t\n",
        "FFIEC CDR Call Schedule RI 03312024.txt" ->
          s"IDRSSD\tRCFD0010\tRIAD4340\t\nID\tCash\tNet income\t\n37\t$riCash\t42\t\n")
      (outDir, zip)
    }
    // conflicting values: loud failure, and no long table left behind
    val (badOut, badZip) = zipWith("conflict", "9.5")
    val e = intercept[IllegalArgumentException] {
      FfiecPipeline.processZip(spark, badZip, badOut.getAbsolutePath, schemaMap)
    }
    assert(e.getMessage.contains(
      "Found 1 duplicate key groups on {IDRSSD, date, item}"), e.getMessage)
    assert(!new File(badOut, "ffiec_float_20240331.parquet").exists())

    // equal values: one row per key
    val (okOut, okZip) = zipWith("equal", "1.5")
    FfiecPipeline.processZip(spark, okZip, okOut.getAbsolutePath, schemaMap)
    val longF = spark.read.parquet(s"$okOut/ffiec_float_20240331.parquet")
    assert(longF.where(col("IDRSSD") === 37).count() == 1)
    assert(longF.count() == 2)
  }

  test("processZip writes an empty long table for an all-blank dtype") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = java.nio.file.Files.createTempDirectory("ffiec_blank").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_blank_out").toFile
    // RIAD4340 is an int item with every cell blank
    val zip = writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RI 03312024.txt" ->
        "IDRSSD\tRCFD0010\tRIAD4340\t\nID\tCash\tNet income\t\n37\t1.5\t\t\n38\t2.5\t\t\n")
    // a lost observation would block forever: bound the wait
    val run = Future(FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath,
      schemaMap).collect())(ExecutionContext.global)
    val manifest = Await.result(run, 3.minutes)
    assert(manifest.exists(_.getAs[String]("kind") == "int"))
    val longI = spark.read.parquet(s"$outDir/ffiec_int_20240331.parquet")
    assert(longI.columns.toSeq == Seq("IDRSSD", "date", "item", "value"))
    assert(longI.count() == 0)
    assert(spark.read.parquet(s"$outDir/ffiec_float_20240331.parquet").count() == 2)
  }

  /** The Spark jobs `body` launches: (call site, SQL execution id). A
    * job inside an SQL execution takes the execution's call site (its
    * stages may be submitted from another thread). */
  private def jobsOf(body: => Unit): Seq[(String, Option[String])] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    org.apache.spark.grafttest.ListenerBus.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.map(_.details).mkString("\n"),
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId.toString, s.details)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.grafttest.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.map { case (site, id) =>
      (id.flatMap(i => Option(sqlSites.get(i))).getOrElse(site), id)
    }
  }

  test("processZip, LongTable and checkKeys launch only the jobs they need") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_jobs").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_jobs_out").toFile
    val zip = writeFixtureZip(dir)
    val ingest = jobsOf {
      FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap)
    }
    assert(ingest.nonEmpty)
    // the duplicate-key gate is no separate job
    assert(!ingest.exists(_._1.contains("KeyChecks")))
    // outside SQL executions: the member listing, and at most one
    // schema-inference job per wide file (rc, ri)
    val nonSql = ingest.filter(_._2.isEmpty)
    val schemaJobs = nonSql.filterNot(_._1.contains("ZipTsv$.listMembers"))
    assert(schemaJobs.size <= 2, s"${schemaJobs.size} schema jobs")

    val query = jobsOf {
      graft.LongTable.scan(spark, outDir.getAbsolutePath, "float")
        .forItems(Seq("RCFD0010", "RCON3838")).pivot(Seq("RCFD0010", "RCON3838"))
        .collect()
    }
    assert(query.nonEmpty && query.forall(_._2.isDefined),
      s"${query.count(_._2.isEmpty)} jobs outside an SQL execution")

    var ok = false
    val keys = jobsOf {
      ok = graft.LongTable.scan(spark, outDir.getAbsolutePath, "float").checkKeys()
    }
    assert(ok)
    assert(keys.nonEmpty && keys.forall(_._2.isDefined))
    assert(keys.map(_._2).distinct.size == 1, s"${keys.map(_._2).distinct}")
  }

  test("fail-fast processAll leaves no Spark job running after it throws") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("ffiec_failfast").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_failfast_out").toFile
    // the broken zip sorts first, four healthy zips follow
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312023.zip",
      "FFIEC CDR Call Schedule RC 03312023(1 of 3).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n")
    for (d <- Seq("06302023", "09302023", "12312023", "03312024"))
      writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
        s"FFIEC CDR Call Schedule RC $d.txt" ->
          "IDRSSD\tRCFD0010\tRCFD0020\t\nID\tCash\tDue\t\n37\t1.5\t2.5\t\n",
        s"FFIEC CDR Call Schedule RI $d.txt" ->
          "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n")
    val sc = spark.sparkContext
    val lastStart = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lastStart.accumulateAndGet(e.time, math.max)
    }
    sc.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException] {
        FfiecPipeline.processAll(spark, dir.getAbsolutePath,
          outDir.getAbsolutePath, schemaMap, concurrency = 2)
      }
      val thrownAt = System.currentTimeMillis()
      org.apache.spark.grafttest.ListenerBus.drain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        s"jobs still active: ${sc.statusTracker.getActiveJobIds.toSeq}")
      // and no queued zip starts afterwards
      Thread.sleep(500)
      org.apache.spark.grafttest.ListenerBus.drain(sc)
      assert(lastStart.get <= thrownAt, "a job started after processAll threw")
    } finally sc.removeSparkListener(listener)
  }
}
