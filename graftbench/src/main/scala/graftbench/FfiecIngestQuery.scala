package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{CombineParts, KeyChecks, LongPivot}
import graft.pipeline.FfiecPipeline
import graft.schema.FfiecSchema
import graft.sources.ZipTsv

/** The reference's chain `ffiec_process` → `ffiec_scan_pqs` →
  * `ffiec_pivot`: a pass ingests a year of FFIEC bulk zips with
  * `FfiecPipeline.processAll` (member listing, header reads, TSV parsing
  * with repairs, multipart combine, wide and long parquet writes, key
  * checks; quarters processed concurrently), then one closed-loop client
  * runs a block of 20 analyst queries over the tree it just wrote, so a
  * layout change made by ingest shows up in query latency. */
final class FfiecIngestQuery(seed: Long) extends Workload {
  val name = "ffiec_ingest_query"

  val params = FfiecParams(quarters = 2, schedules = 2, banks = 1000,
    itemsPerSchedule = 24, splitEvery = 2, repairShare = 0.02,
    blankShare = 0.15, confShare = 0.03)
  val concurrency = 2
  private val gen = new FfiecGen(seed, params)
  private val queries = new FfiecQueries(seed, gen)
  /** Warm-up input: other seed, one quarter of one schedule, few banks. */
  private val warm = new FfiecGen(seed ^ 0x5eed,
    params.copy(quarters = 1, schedules = 1, banks = 20))
  private val warmQueries = new FfiecQueries(seed ^ 0x5eed, warm)

  private var raw: File = _
  private var warmRaw: File = _
  var tsvBytes = 0L
  private var lastOut: Option[File] = None
  private val outBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Per pass: long-table rows recovered (capped at the truth) / truth. */
  private val recovered = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(dir: File): Unit = {
    raw = new File(dir, "raw")
    warmRaw = new File(dir, "warm")
    tsvBytes = gen.writeZips(raw)
    warm.writeZips(warmRaw)
  }

  /** Warm-up: ingest the small input, then one query of each kind on it. */
  def prepare(spark: SparkSession, dir: File, work: File, rep: Int): Unit = {
    val out = new File(work, s"warm-$rep")
    FfiecPipeline.processAll(spark, warmRaw.getPath, out.getPath, warm.schemaMap).collect()
    warmQueries.warmUp(spark, new Client(new Tracer(false)), out.getPath, rep)
    Workload.deleteTree(out)
  }

  def pass(spark: SparkSession, c: Client, work: File, i: Int): Unit = {
    lastOut.foreach(Workload.deleteTree)
    val out = new File(work, s"out-$i")
    lastOut = Some(out)
    val manifest = c.op("processAll", "pipeline") {
      FfiecPipeline.processAll(spark, raw.getPath, out.getPath, gen.schemaMap, concurrency)
        .select("kind", "tpe", "dateRaw", "ok", "repairs", "nParts").collect()
    }
    manifest.foreach { rows =>
      c.expect(rows.forall(_.getBoolean(3)), "manifest row with ok = false")
      val markers = rows.filter(_.getString(1) == "schedule").map { r =>
        (r.getString(0), r.getString(2)) ->
          r.getSeq[String](4).filter(x => x == "newline-join" || x == "tab-repair").toSet
      }.toMap
      c.expect(markers == gen.repairMarkers,
        s"repair markers differ on ${(markers.toSet diff gen.repairMarkers.toSet).take(3)}")
      val parts = rows.filter(_.getString(1) == "schedule").map(r => r.getString(0) -> r.getInt(5)).toSet
      val wantParts = (0 until params.schedules).map(s => gen.schedule(s).toLowerCase -> gen.nParts(s)).toSet
      c.expect(parts == wantParts, s"parts per schedule: got $parts, want $wantParts")
      val counts = gen.longCounts.keys.map(_._1).toSeq.distinct.flatMap { d =>
        spark.read.parquet(s"${out.getPath}/ffiec_${d}_*.parquet")
          .groupBy(date_format(col("date"), "yyyyMMdd")).count().collect()
          .map(r => (d, r.getString(0)) -> r.getLong(1))
      }.toMap
      recovered += gen.longCounts.map { case (k, n) => counts.getOrElse(k, 0L).min(n) }.sum.toDouble /
        gen.longCounts.values.sum
      c.expect(counts == gen.longCounts,
        s"long-table row counts differ: got $counts, want ${gen.longCounts}")
      val (bytes, files) = Workload.diskUsage(out)
      outBytes += bytes.toDouble / tsvBytes
      c.tracer.annotate("processAll", Map("pipeline.files_written" -> files.toDouble))
      queries.runBlock(spark, c, out.getPath, i)
    }
  }

  override def layerProbes(spark: SparkSession, c: Client, work: File): Unit = {
    val t = c.tracer
    val zip = new File(raw, gen.zipName(gen.dates.head)).getPath
    val members = c.op("sources.list_members", "sources") {
      ZipTsv.listMembers(spark, s"${raw.getPath}/*.zip")
    }.getOrElse(Nil).filter(m => m.zip.endsWith(zip) && m.schedule.isDefined)
    members.foreach { m =>
      val header = c.op("sources.member_header", "sources") {
        ZipTsv.memberHeader(spark, zip, m.file)
      }.getOrElse(Nil)
      c.op("schema.colspec", "schema")(FfiecSchema.colSpec(header, gen.schemaMap)).foreach { spec =>
        c.op("sources.parse", "sources") {
          ZipTsv.readMember(spark, zip, m.file, spec).write.format("noop").mode("overwrite").save()
        }
        t.annotate("sources.parse", Map("bytes" -> memberBytes(zip, m.file).toDouble))
      }
    }
    // multipart combine over the split schedules' parts, into a no-op sink
    members.filter(_.nParts.exists(_ > 1)).groupBy(_.schedule).values.foreach { ms =>
      val parts = ZipTsv.readSchedule(spark, zip, ms.sortBy(_.part).map(_.file), gen.schemaMap)
        .map(_.drop("_repairs", "_problems"))
      c.op("operators.combine_parts", "operators.combine_parts") {
        CombineParts.combine(parts).write.format("noop").mode("overwrite").save()
      }
    }
    // wide → long per dtype plus the duplicate-key gate, on the last
    // pass's wide parquet of the first quarter
    lastOut.foreach { out =>
      (0 until params.schedules).foreach { s =>
        val w = spark.read.parquet(
          s"${out.getPath}/ffiec_${gen.schedule(s).toLowerCase}_${gen.dates.head}.parquet")
        Seq(org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.StringType)
          .filter(dt => LongPivot.colsOfType(w, dt, Seq("IDRSSD", "date")).nonEmpty)
          .foreach { dt =>
            c.op("operators.long_pivot", "operators.long_pivot") {
              val l = LongPivot.long(w, Seq("IDRSSD", "date"), dt, distinct = false)
              KeyChecks.assertNoDups(l, Seq("IDRSSD", "date", "item"))
            }
          }
      }
    }
  }

  private def memberBytes(zip: String, member: String): Long = {
    val zf = new java.util.zip.ZipFile(zip)
    try zf.getEntry(member).getSize finally zf.close()
  }

  def figures(c: Client, passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val lat = c.latencies(queries.kinds: _*)
    Seq(("ingest_mb_per_s", tsvBytes / 1e6 / (Stats.median(c.latencies("processAll")) / 1e3), "MB/s"),
      ("out_bytes_per_in_byte", Stats.median(outBytes.toSeq), "ratio"),
      ("tsv_mb", tsvBytes / 1e6, "MB"),
      ("query_p50_ms", Stats.median(lat), "ms")) ++
      Stats.tail(lat).filter(_._1 > 50).map { case (p, v) =>
        (s"query_p${p.toString.stripSuffix(".0")}_ms", v, "ms")
      } ++
      Seq(("query_samples", lat.size.toDouble, "count"))
  }

  def recall(c: Client): Double =
    if (recovered.isEmpty) 0.0 else Stats.median(recovered.toSeq)

  val latencyKinds: Seq[String] = "processAll" +: queries.kinds
  override def queryKinds: Seq[String] = queries.kinds
}
