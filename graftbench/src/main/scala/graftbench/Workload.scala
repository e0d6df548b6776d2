package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One named benchmark workload. The benchmark owns the seed; graft
  * only ever sees the generated files. */
trait Workload {
  def name: String

  /** Write the seeded inputs into `gen` (not part of set-up time). */
  def generate(gen: File): Unit

  /** Program-side preparation, run several times during set-up (the
    * median is reported); `rep` picks a fresh output location. The last
    * repetition's state is what the timed passes use. */
  def prepare(spark: SparkSession, gen: File, work: File, rep: Int): Unit

  /** One pass of the timed phase: a fixed unit of client work, checked
    * against generator truth. `i` numbers passes within the run. */
  def pass(spark: SparkSession, c: Client, work: File, i: Int): Unit

  /** Traced-only calls that time single layers in isolation. */
  def layerProbes(spark: SparkSession, c: Client, work: File): Unit = ()

  /** Workload-specific end-to-end figures: (name, value, unit). */
  def figures(c: Client, passes: Seq[Pass]): Seq[(String, Double, String)]

  /** Share of the truth the outputs recovered (1.0 = all of it). */
  def recall(c: Client): Double

  /** Operation kinds whose latency `op_p50_ms` summarises. */
  def latencyKinds: Seq[String]

  /** Operation kinds the per-query layer figures average over. */
  def queryKinds: Seq[String] = latencyKinds
}

/** One timed pass: its client-op seconds, checks excluded. */
final case class Pass(index: Int, opSeconds: Double)

object Workload {
  def byName(name: String, seed: Long): Option[Workload] = name match {
    case "ffiec_ingest_query" => Some(new FfiecIngestQuery(seed))
    case "corpus_curate" => Some(new CorpusCurate(seed))
    case _ => None
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (bytes, files) of every regular file under `f`, Hadoop checksums
    * and markers included — what the store costs on disk. */
  def diskUsage(f: File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(diskUsage)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
