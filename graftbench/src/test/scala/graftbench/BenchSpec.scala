package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("stage attribution under two overlapping actions follows JobStart.stageIds") {
    val ledger = new Ledger(spark)
    // ground truth from the events themselves: the job group each stage
    // was submitted under, and every job's declared stage ids
    val stageGroup = mutable.Map.empty[Int, String]
    val declared = mutable.Map.empty[Int, Seq[Int]]
    val truth = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        stageGroup(e.stageInfo.stageId) = e.properties.getProperty("spark.jobGroup.id")
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        declared(e.jobId) = e.stageIds
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(ledger)
    sc.addSparkListener(truth)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val actions = Seq("a", "b").map { g =>
      Future {
        sc.setJobGroup(g, s"overlapping action $g")
        try (1 to 3).foreach { i =>
          spark.range(0, 200000, 1, 8).groupBy((col("id") % (7 + i)).as("k")).count()
            .join(spark.range(0, 50).withColumnRenamed("id", "k"), "k").collect()
        } finally sc.clearJobGroup()
      }
    }
    Await.result(Future.sequence(actions), Duration.Inf)
    Ledger.drain(spark)
    sc.removeSparkListener(ledger)
    sc.removeSparkListener(truth)

    val groups = ledger.jobs.values.map(_.group).toSet
    assert(groups == Set(Some("a"), Some("b")))
    assert(ledger.stages.nonEmpty)
    ledger.stages.foreach { s =>
      val job = ledger.jobs(s.jobId)
      assert(declared(s.jobId).contains(s.id), s"stage ${s.id} is not among job ${s.jobId}'s stageIds")
      assert(job.group.contains(stageGroup(s.id)),
        s"stage ${s.id} ran under ${stageGroup(s.id)} but was attributed to job ${job.id} (${job.group})")
    }
    // both actions really overlapped: some job of one group started
    // while a job of the other was running
    val (a, b) = ledger.jobs.values.partition(_.group.contains("a"))
    assert(a.exists(x => b.exists(y => x.start < y.end && y.start < x.end)))
  }

  test("call sites map to the innermost graft module") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.operators.KeyChecks$.assertNoDups(KeyChecks.scala:81)",
      "graft.pipeline.FfiecPipeline$.$anonfun$processZip$9(FfiecPipeline.scala:200)",
      "graftbench.FfiecIngest.pass(FfiecIngest.scala:50)").mkString("\n")
    assert(Ledger.moduleOf(site) == "operators.key_checks")
    assert(Ledger.moduleOf("graft.operators.MinhashStore$.write(MinhashStore.scala:9)") ==
      "operators.minhash_store")
    assert(Ledger.moduleOf("graftbench.Main$.main(Main.scala:1)") == "client")
  }

  private def bytesOf(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed generates byte-identical inputs") {
    def ffiec(seed: Long): Map[String, Seq[Byte]] = {
      val d = Files.createTempDirectory("ffiec").toFile
      new FfiecGen(seed, FfiecParams(2, 5, 40, 12, 2, 0.1, 0.15, 0.03)).writeZips(d)
      bytesOf(d)
    }
    def corpus(seed: Long): Map[String, Seq[Byte]] = {
      val d = Files.createTempDirectory("corpus").toFile
      new CorpusGen(seed, CorpusParams(300, 0.15, 0.05, 200, 8, 4, 5, 0.5)).write(d)
      bytesOf(d)
    }
    assert(ffiec(7) == ffiec(7))
    assert(ffiec(7) != ffiec(8))
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))
  }

  test("generated truth: repairs are planted and counted") {
    val g = new FfiecGen(3, FfiecParams(1, 6, 200, 12, 3, 0.1, 0.15, 0.03))
    assert(g.repairMarkers.values.exists(_.contains("newline-join")))
    assert(g.repairMarkers.values.exists(_.contains("tab-repair")))
    assert(g.longCounts.keySet.map(_._1) == Set("float", "int", "str", "date", "bool"))
    assert((0 until 6).count(g.nParts(_) == 2) == 2)
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90.0 -> 90.0))
    assert(Stats.tail((1 to 200).map(_.toDouble)) == Some(95.0 -> 190.0))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some(99.0 -> 990.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(50.0 -> 10.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
