package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.LongTable
import graft.functions.Ffiec
import graft.operators.{CombineParts, KeyChecks, LongPivot}
import graft.plans.Overlap
import graft.schema.FfiecSchema
import graft.sources.ZipTsv

/** End-to-end re-expression of the reference's `ffiec_process`
  * (ref: /root/reference/R/ffiec_process.R:377 process_ffiec_zip):
  * one FFIEC bulk zip → per-schedule wide parquet → long parquet per
  * data type → item/schedule metadata → POR parquet → a manifest row
  * per written file.
  *
  * Scale shape: a zip runs in two phases, each a set of independent
  * writes overlapped through [[graft.plans.Overlap.awaitAll]] with at
  * most `defaultParallelism` jobs in flight. Phase 1 writes the wide
  * parquet of every (schedule, date) group — its members read in
  * parallel tasks — and the POR files. Phase 2 writes the long table
  * of every (date, dtype) — a per-schedule unpivot + union + distinct
  * — and the item → schedules metadata. Each wide file is read back
  * once, under the schema of the frame that wrote it, and that frame
  * serves every dtype and the metadata: no schema-inference job. The
  * duplicate-key gate rides the long write as an observed metric, not
  * a separate job. Fleet-level parallelism comes from processing many
  * zips at once — the reference's furrr::future_map_dfr becomes
  * `concurrency` zips in flight (or one job per zip on a cluster
  * scheduler).
  */
object FfiecPipeline {

  /** Quarterly CDR bulk-download PLAN for a date range — the twin of
    * the reference's fetch step (ref: data-raw/get_xbrl_zips.py:1-34),
    * which walks the downloader's period list for the single-period
    * call-report product and pulls one bulk zip per quarter end. This
    * environment has no network, so the plan IS the testable artifact:
    * every calendar quarter end in [fromDate, toDate] with the period
    * encodings and the EXACT zip file name the rest of the pipeline
    * ([[listZips]], [[processZip]]) expects to appear in the download
    * directory — a user points their fetcher at the manifest and the
    * pipeline picks the files up with no renaming.
    *
    * Pure date arithmetic on a generated range (one in-memory
    * sequence, no scan). Output, ordered by period_end: (period_end
    * DATE, period yyyymmdd, zip_name, kind). */
  def fetchPlan(spark: SparkSession, fromDate: String, toDate: String,
                kind: String = "xbrl"): DataFrame = {
    val stem = kind match {
      case "tsv"  => "FFIEC CDR Call Bulk All Schedules"
      case "xbrl" => "FFIEC CDR Call Bulk XBRL"
      case other  => throw new IllegalArgumentException(s"unknown type: $other")
    }
    spark.sql(
        s"SELECT explode(sequence(to_date('$fromDate'), to_date('$toDate'), " +
          "interval 1 month)) AS m")
      .select(last_day(col("m")).as("period_end"))
      .where(month(col("period_end")).isin(3, 6, 9, 12))
      .where(col("period_end") >= to_date(lit(fromDate)) &&
        col("period_end") <= to_date(lit(toDate)))
      .distinct()
      .select(col("period_end"),
        date_format(col("period_end"), "yyyyMMdd").as("period"),
        concat(lit(stem + " "), date_format(col("period_end"), "MMddyyyy"),
          lit(".zip")).as("zip_name"),
        lit(kind).as("kind"))
      .orderBy("period_end")
  }

  /** MMDDYYYY-named bulk zips in a directory → (path, yyyymmdd), the
    * reference's ffiec_list_zips (ref: ffiec_manifest.R:51). */
  def listZips(spark: SparkSession, dir: String,
               kind: String = "tsv"): Seq[(String, String)] = {
    val pattern = kind match {
      case "tsv"  => """^FFIEC CDR Call Bulk All Schedules (\d{8})\.zip$""".r
      case "xbrl" => """^FFIEC CDR Call Bulk XBRL (\d{8})\.zip$""".r
      case other  => throw new IllegalArgumentException(s"unknown type: $other")
    }
    val fs = new Path(dir).getFileSystem(
      new Configuration(spark.sparkContext.hadoopConfiguration))
    val listing = fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
    listing.flatMap { p =>
      p.getName match {
        case pattern(mmddyyyy) =>
          val (mm, dd, yyyy) =
            (mmddyyyy.substring(0, 2), mmddyyyy.substring(2, 4), mmddyyyy.substring(4, 8))
          if (mm >= "01" && mm <= "12" && dd >= "01" && dd <= "31")
            Some(p.toString -> s"$yyyy$mm$dd")
          else None
        case _ => None
      }
    }.sortBy(_._2)
  }

  case class Written(kind: String, tpe: String, dateRaw: String,
                     parquet: String, nParts: Int, ok: Boolean,
                     repairs: Seq[String], innerFiles: Seq[String])

  /** Schema-map auto-resolution when the caller supplies none (the
    * reference ships an equivalent map as package sysdata): taxonomy
    * concepts.xsd parsed from "_"-prefixed taxonomy zips beside the
    * bulk zip — the reference's own build source (data-raw/
    * ffiec_schema.R) — or from the bulk zip itself; failing that,
    * type inference over the sibling XBRL bulk zips' facts. Memoized
    * per directory (processAll calls this once per zip). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  def resolveSchemaMap(spark: SparkSession, zipPath: String): Map[String, String] = {
    val dir = new Path(zipPath).getParent.toString
    schemaCache.computeIfAbsent(dir, { _ =>
      val fs = new Path(dir).getFileSystem(
        new Configuration(spark.sparkContext.hadoopConfiguration))
      val zips = fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".zip"))
      val taxonomy = zips.filter(_.getName.startsWith("_")).map(_.toString)
      val fromXsd = FfiecSchema.conceptsFromZips(spark, taxonomy :+ zipPath)
      if (fromXsd.nonEmpty) fromXsd
      else {
        val xbrlZips = listZips(spark, dir, "xbrl").map(_._1)
        if (xbrlZips.isEmpty) Map.empty
        else {
          val facts = xbrlZips.map(z => graft.sources.XbrlZip.facts(spark, z))
            .reduce(_.unionByName(_))
          FfiecSchema.inferFromFacts(facts).collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
        }
      }
    })
  }

  /** Process one bulk zip into `outDir`. Returns the manifest. With no
    * `schemaMap`, resolves one from taxonomy/XBRL siblings (see
    * resolveSchemaMap). */
  def processZip(spark: SparkSession, zipPath: String, outDir: String,
                 schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap,
                 overrides: Map[String, String] = FfiecSchema.defaultColOverrides,
                 prefix: String = "ffiec_", strict: Boolean = false): DataFrame = {
    import spark.implicits._
    val resolved =
      if (schemaMap.nonEmpty) schemaMap else resolveSchemaMap(spark, zipPath)
    val members = ZipTsv.listMembers(spark, zipPath)
    val inFlight = spark.sparkContext.defaultParallelism

    // ---- phase 1: wide parquet per (schedule, date), POR files. The
    // multipart structure of every group is checked before any write.
    val schedGroups = members.filter(_.schedule.isDefined)
      .groupBy(m => (m.schedule.get.toLowerCase, m.dateRaw.getOrElse("unknown")))
      .toSeq.sortBy(_._1)
      .map { case ((schedule, dateRaw), ms) =>
        val sorted = ms.sortBy(_.part.getOrElse(1))
        val nParts = CombineParts.resolveNParts(
          sorted.map(_.part), sorted.map(_.nParts), s"$schedule ($dateRaw)")
        (schedule, dateRaw, sorted, nParts)
      }
    val porMembers = members.filterNot(_.schedule.isDefined)
    val phase1 = Overlap.awaitAll(
      schedGroups.map { case (schedule, dateRaw, sorted, nParts) => () =>
        val (w, wide) = writeWide(spark, zipPath, outDir, prefix, resolved,
          overrides, strict, schedule, dateRaw, sorted.map(_.file), nParts)
        (w, Some(wide))
      } ++ porMembers.map(m => () => (writePor(spark, zipPath, outDir, m), None)),
      inFlight)
    val wides = schedGroups.zip(phase1).map { case ((schedule, dateRaw, _, _), (_, wide)) =>
      (schedule, dateRaw, wide.get)
    }

    // ---- phase 2: long parquet per (date, dtype) (ref: make_long_pq)
    // and item → schedules metadata (ref: make_schedule_pq), both from
    // the phase-1 frames — no wide file is read for its schema again.
    val idCols = Seq("IDRSSD", "date")
    val dateRaws = wides.map(_._2).distinct
    val longs = for {
      dateRaw <- dateRaws
      (dname, dtype) <- LongTable.dtypes
      frames = wides.collect { case (_, `dateRaw`, w)
        if LongPivot.colsOfType(w, dtype, idCols).nonEmpty => w }
      if frames.nonEmpty
    } yield { () =>
      val out = s"$outDir/$prefix${dname}_$dateRaw.parquet"
      writeLong(spark, frames, dtype, out)
      Written(dname, "long", dateRaw, out, 1, ok = true, Nil, Nil)
    }
    val metas = for {
      dateRaw <- dateRaws
      pairs = wides.collect { case (schedule, `dateRaw`, w) =>
        w.columns.toSeq.filterNot(idCols.contains).map((schedule, _))
      }.flatten
      if pairs.nonEmpty
    } yield { () =>
      val out = s"$outDir/${prefix}schedules_$dateRaw.parquet"
      LongPivot.itemSchedules(pairs.toDF("schedule", "item"))
        .withColumn("date", to_date(lit(dateRaw), "yyyyMMdd"))
        .write.mode("overwrite").parquet(out)
      Written("schedules", "meta", dateRaw, out, 1, ok = true, Nil, Nil)
    }
    val phase2 = Overlap.awaitAll(longs ++ metas, inFlight)

    val (wideRows, porRows) = phase1.map(_._1).splitAt(wides.size)
    (wideRows ++ phase2 ++ porRows).toDF()
  }

  /** Combine one (schedule, date)'s parts and write its wide parquet.
    * Returns the manifest row and the written file read back under the
    * schema of the frame that wrote it (no schema-inference job). */
  private def writeWide(spark: SparkSession, zipPath: String, outDir: String,
                        prefix: String, resolved: Map[String, String],
                        overrides: Map[String, String], strict: Boolean,
                        schedule: String, dateRaw: String, files: Seq[String],
                        nParts: Int): (Written, DataFrame) = {
    // Per-part diagnostics ride the write job via observed metrics —
    // no second pass over the zip members (ref: ffiec_process.R:225
    // ok/repairs recorded per written file).
    val rawParts = ZipTsv.readSchedule(spark, zipPath, files, resolved, overrides)
    val observations = rawParts.indices.map(i =>
      Observation(s"diag_${schedule}_${dateRaw}_$i"))
    val parts = rawParts.zip(observations).map { case (p, o) =>
      p.observe(o,
        sum(col("_problems")).as("problems"),
        sum(when(array_contains(col("_repairs"), "newline-join"), 1L)
          .otherwise(0L)).as("nl"),
        sum(when(array_contains(col("_repairs"), "tab-repair"), 1L)
          .otherwise(0L)).as("tab"))
        .drop("_repairs", "_problems")
    }
    val combined = CombineParts.combine(parts, key = "IDRSSD")
      .withColumn("date", to_date(lit(dateRaw), "yyyyMMdd"))
    // pct_to_prop strictness (ref: ffeic_read.R:535 pct_to_prop stop()):
    // in a pure column that is percent-encoded (any '%' present), a
    // numeric cell WITHOUT '%' is a data-quality error in the
    // reference. The two signals per column — has-% and bad-cell
    // count — ride the write job as observed metrics over the
    // pre-conversion strings; no second pass.
    val pureStr = combined.schema.fields
      .filter(f => f.dataType == StringType &&
        resolved.get(f.name).contains("xbrli:pureItemType"))
      .map(_.name).toSeq
    val pureObs =
      if (pureStr.isEmpty) None
      else Some(Observation(s"pure_${schedule}_$dateRaw"))
    val observed = pureObs.fold(combined) { o =>
      val aggs = pureStr.flatMap { c =>
        Seq(max(col(c).contains("%").cast("long")).as(s"haspct_$c"),
          sum((col(c).rlike("[0-9]") && !col(c).contains("%")).cast("long"))
            .as(s"bad_$c"))
      }
      combined.observe(o, aggs.head, aggs.tail: _*)
    }
    val fixed = fixPurePercentCols(observed, resolved)
    val out = s"$outDir/$prefix${schedule}_$dateRaw.parquet"
    fixed.write.mode("overwrite").parquet(out)
    val metrics = observations.map(_.get)
    val badPure: Seq[String] = pureObs.toSeq.flatMap { o =>
      val m = o.get
      pureStr.filter(c => metric(m, s"haspct_$c") > 0 && metric(m, s"bad_$c") > 0)
    }
    if (strict && badPure.nonEmpty)
      throw new IllegalStateException(
        s"pct_to_prop: numeric values not ending in '%' in pure columns " +
          s"${badPure.mkString(", ")} of $schedule ($dateRaw)")
    val repairs =
      (if (metrics.exists(metric(_, "nl") > 0)) Seq("newline-join") else Nil) ++
      (if (metrics.exists(metric(_, "tab") > 0)) Seq("tab-repair") else Nil) ++
      badPure.map(c => s"pure-pct-bad: $c")
    val ok = metrics.map(metric(_, "problems")).sum == 0 && badPure.isEmpty
    val written = Written(schedule, "schedule", dateRaw, out, nParts,
      ok = ok, repairs = repairs, innerFiles = files)
    val schema = StructType(fixed.schema.fields.map(_.copy(nullable = true)))
    (written, spark.read.schema(schema).parquet(out))
  }

  /** Write one long table: the union of the wide frames' unpivots of
    * `dtype`, deduplicated. The duplicate-key gate (the reference's
    * assert_no_dups before writing long parquet) rides the write job as
    * an observed metric: a per-key row count over the distinct rows,
    * where each duplicate group of k rows adds k · (1/k) = 1. A
    * violation deletes the file just written and throws
    * [[KeyChecks.requireNoDups]]'s IllegalArgumentException — the gate
    * fails loudly and leaves no long table. */
  private def writeLong(spark: SparkSession, wides: Seq[DataFrame],
                        dtype: DataType, out: String): Unit = {
    val key = Seq("IDRSSD", "date", "item")
    val gate = Observation()
    wides.map(LongPivot.long(_, Seq("IDRSSD", "date"), dtype, distinct = false))
      .reduce(_.unionByName(_))
      .distinct()
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(key.map(col): _*)))
      .observe(gate, sum(when(col("_n") > 1, lit(1.0) / col("_n"))).as("dup_groups"))
      .drop("_n")
      .write.mode("overwrite").parquet(out)
    val dups = Option(gate.get.getOrElse("dup_groups", null))
      .map(v => math.round(v.asInstanceOf[Double])).getOrElse(0L)
    if (dups > 0) {
      val path = new Path(out)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      KeyChecks.requireNoDups(dups, key)
    }
  }

  /** Write one POR file (no schedule token in the member name). Repairs
    * are recorded; ok stays true as in the reference
    * (ffiec_process.R:442). */
  private def writePor(spark: SparkSession, zipPath: String, outDir: String,
                       m: ZipTsv.Member): Written = {
    val dateRaw = m.dateRaw.getOrElse("unknown")
    val out = s"$outDir/por_$dateRaw.parquet"
    val obs = Observation(s"diag_por_$dateRaw")
    ZipTsv.readPor(spark, zipPath, m.file)
      .observe(obs,
        sum(when(array_contains(col("_repairs"), "tab-repair"), 1L)
          .otherwise(0L)).as("tab"))
      .drop("_repairs", "_problems")
      .withColumn("date", to_date(lit(dateRaw), "yyyyMMdd"))
      .write.mode("overwrite").parquet(out)
    Written("por", "por", dateRaw, out, 1, ok = true,
      repairs = if (metric(obs.get, "tab") > 0) Seq("tab-repair") else Nil,
      innerFiles = Seq(m.file))
  }

  /** An observed count, 0 when the observation saw no rows. */
  private def metric(m: Map[String, Any], k: String): Long =
    Option(m.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** pureItemType columns arrive as strings, possibly percent-encoded —
    * convert to numeric proportions (ref: ffeic_read.R:585
    * fix_pure_percent_cols). Cell-level: '%' cells go through
    * pct_to_prop, others cast to double. The reference's column-level
    * error for numeric-without-% cells in a %-bearing column is
    * surfaced by processZip via observed metrics (manifest ok=false /
    * repairs marker, or a throw under strict=true). */
  def fixPurePercentCols(df: DataFrame, schemaMap: Map[String, String]): DataFrame = {
    val pure = df.schema.fields
      .filter(f => f.dataType == StringType &&
        schemaMap.get(f.name).contains("xbrli:pureItemType"))
      .map(_.name)
    pure.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).contains("%"), Ffiec.pctToProp(col(c)))
          .otherwise(col(c).cast("double")))
    }
  }

  /** Run `one` over every zip, `concurrency` at a time — the
    * Spark-native analogue of the reference's future/furrr multisession
    * (concurrent driver threads submit independent Spark jobs that
    * share the executor pool; the scheduler interleaves stages). Fails
    * like [[Overlap.awaitAll]]: after a failed zip no queued zip starts,
    * and the running ones finish before the failure is rethrown. */
  private def mapZips[A](zips: Seq[(String, String)], concurrency: Int)
                        (one: (String, String) => A): Seq[A] =
    Overlap.awaitAll(zips.map { case (zip, d) => () => one(zip, d) }, concurrency)

  /** Process every bulk zip in a directory (the reference's
    * ffiec_process); returns the concatenated manifest. When
    * `itemsPath`/`detailsPath` are supplied, the MDRM item metadata
    * tables are copied into the output tree too (the reference's
    * ffiec_create_item_pqs step — it ships them as package data; graft
    * takes them as parquet inputs) and appear as manifest rows. */
  def processAll(spark: SparkSession, rawDir: String, outDir: String,
                 schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap,
                 concurrency: Int = 1, tolerant: Boolean = false,
                 strict: Boolean = false,
                 itemsPath: Option[String] = None,
                 detailsPath: Option[String] = None): DataFrame = {
    import spark.implicits._
    val itemRows: Seq[Written] = (itemsPath, detailsPath) match {
      case (Some(ip), Some(dp)) =>
        val Seq(oi, od) = graft.meta.Items.writeItemPqs(spark, ip, dp, outDir)
        Seq(Written("items", "meta", "", oi, 1, ok = true, Nil, Seq(ip)),
          Written("item_details", "meta", "", od, 1, ok = true, Nil, Seq(dp)))
      case (None, None) => Nil
      case _ => throw new IllegalArgumentException(
        "itemsPath and detailsPath must be supplied together")
    }
    val zips = listZips(spark, rawDir)
    require(zips.nonEmpty, s"No FFIEC bulk zip files found in $rawDir")
    // tolerant=true: a structurally broken zip becomes an ok=false
    // manifest row instead of killing the fleet run at zip #847 of
    // 1000. Default matches the reference (fail fast).
    def one(zip: String, dateRaw: String): DataFrame =
      if (!tolerant) processZip(spark, zip, outDir, schemaMap, strict = strict)
      else
        try processZip(spark, zip, outDir, schemaMap, strict = strict)
        catch {
          case e: Exception =>
            Seq(Written("error", "zip", dateRaw, "", 0, ok = false,
              repairs = Seq(s"error: ${e.getMessage}"),
              innerFiles = Seq(zip))).toDF()
        }
    val manifests = mapZips(zips, concurrency)(one) ++
      (if (itemRows.nonEmpty) Seq(itemRows.toDF()) else Nil)
    val out = manifests.reduce(_.unionByName(_))
    // a handful of rows from driver-local frames: one file, not one per
    // unioned partition
    out.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/ffiec_process_data.parquet")
    out
  }

  /** Continuous ingestion: watch `rawDir` for new FFIEC bulk zips and
    * run processZip on each exactly once (the file-source checkpoint
    * tracks processed files across restarts). Each micro-batch appends
    * its manifest rows to `outDir`/ffiec_process_stream_log.parquet.
    *
    * The stream carries only file PATHS (binaryFile source with the
    * content column pruned away — zips are re-opened inside processZip's
    * distributed member tasks), so the streaming layer moves metadata,
    * not the 100 TB. New quarters land as they are published; a broken
    * zip becomes an ok=false manifest row and the stream keeps going. */
  def processStream(spark: SparkSession, rawDir: String, outDir: String,
                    checkpoint: String,
                    schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val pattern = """^FFIEC CDR Call Bulk All Schedules (\d{8})\.zip$""".r
    spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .schema(StructType(Seq( // the fixed binaryFile schema (streaming
        StructField("path", StringType), //   sources require it stated)
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(rawDir)
      .select("path", "length")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val zips = batch.select("path").collect().map(_.getString(0)).toSeq
          .flatMap { p =>
            new Path(p).getName match {
              case pattern(mmddyyyy) =>
                Some(p -> (mmddyyyy.substring(4, 8) + mmddyyyy.substring(0, 4)))
              case _ => None
            }
          }.sortBy(_._2)
        val manifests = zips.map { case (zip, dateRaw) =>
          try processZip(spark, zip, outDir, schemaMap)
          catch {
            case e: Exception =>
              Seq(Written("error", "zip", dateRaw, "", 0, ok = false,
                repairs = Seq(s"error: ${e.getMessage}"),
                innerFiles = Seq(zip))).toDF()
          }
        }
        if (manifests.nonEmpty)
          manifests.reduce(_.unionByName(_)).write.mode("append")
            .parquet(s"$outDir/ffiec_process_stream_log.parquet")
      }
      .start()
  }

  case class XbrlWritten(zipfile: String, dateRaw: String, parquet: String,
                         nFacts: Long, ok: Boolean)

  /** XBRL side of the pipeline (the reference's exported
    * ffiec_process_xbrls, ref: /root/reference/R/ffiec_process_xbrls.R:33
    * + process_xbrl_zip :119): walk every `FFIEC CDR Call Bulk XBRL
    * MMDDYYYY.zip` under `rawDir` (or the explicit `zipfiles` list),
    * extract every fact from every *.xbrl.xml member, and write one
    * `{prefix}xbrl_{yyyymmdd}.parquet` per zip plus a manifest row
    * (zipfile, dateRaw, parquet, nFacts, ok) persisted as
    * `ffiec_process_xbrls_data.parquet`.
    *
    * Scale shape: each zip is one Spark job whose unit of work is an
    * inner *.xbrl.xml member (XbrlZip.facts — one StAX parse per task),
    * so a bulk zip with 5k filings fans out across the cluster;
    * `concurrency` overlaps whole zips on top of that. The fact count
    * rides the write job as an Observation — no second pass. */
  def processXbrls(spark: SparkSession, rawDir: String, outDir: String,
                   zipfiles: Seq[String] = Nil, nsPrefix: String = "cc",
                   prefix: String = "ffiec_", concurrency: Int = 1,
                   tolerant: Boolean = false): DataFrame = {
    import spark.implicits._
    val dateRe = """(\d{8})""".r
    val zips: Seq[(String, String)] =
      if (zipfiles.nonEmpty) zipfiles.map { z =>
        val mmddyyyy = dateRe.findFirstIn(new Path(z).getName).getOrElse(
          throw new IllegalArgumentException(
            s"Could not parse MMDDYYYY date from zip filename: $z"))
        z -> (mmddyyyy.substring(4, 8) + mmddyyyy.substring(0, 4))
      }
      else listZips(spark, rawDir, kind = "xbrl")
    require(zips.nonEmpty, s"No FFIEC XBRL zip files found in $rawDir")

    def one(zip: String, dateRaw: String): XbrlWritten =
      try {
        val out = s"$outDir/${prefix}xbrl_$dateRaw.parquet"
        val obs = org.apache.spark.sql.Observation(s"xbrl_$dateRaw")
        graft.sources.XbrlZip.facts(spark, zip, nsPrefix)
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(out)
        val n = Option(obs.get.getOrElse("n", null))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        XbrlWritten(zip, dateRaw, out, n, ok = true)
      } catch {
        case e: Exception if tolerant =>
          XbrlWritten(zip, dateRaw, s"error: ${e.getMessage}", 0L, ok = false)
      }

    val manifest = mapZips(zips, concurrency)(one).toDF()
    manifest.write.mode("overwrite")
      .parquet(s"$outDir/ffiec_process_xbrls_data.parquet")
    manifest
  }
}
