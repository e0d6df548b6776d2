package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <file>
  * }}}
  *
  * Set-up (session bring-up plus the median of three program-side
  * preparations) is timed apart from the timed phase, which repeats the
  * workload's pass until `seconds` have elapsed. With `--trace 1` a
  * traced phase of the same length follows, then single-layer probes,
  * then one more untraced phase; the per-layer record is derived from
  * the traced phase only, and its pass times against the two untraced
  * phases give the tracing overhead. The result line goes to
  * `--result`.
  */
object Main {

  val setupReps = 3
  private val started = System.nanoTime()
  /** Progress marks on stderr (the run log), seconds since start. */
  private def mark(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - started) / 1e9}%8.2f s  $what")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val w = Workload.byName(need("workload"), seed).getOrElse(usage(s"unknown workload ${need("workload")}"))
    val work = new File(need("work"))
    val result = new File(need("result"))
    Workload.deleteTree(work)
    val genDir = new File(work, "gen")
    w.generate(genDir)
    mark("inputs generated")

    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"graftbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    mark("session up")
    try {
      val prepS = (0 until setupReps).map { r =>
        val t = System.nanoTime()
        w.prepare(spark, genDir, work, r)
        mark(s"preparation $r done")
        (System.nanoTime() - t) / 1e9
      }
      val setupS = sessionS + Stats.median(prepS)

      val plain = new Client(new Tracer(false))
      Memory.reset()
      val plainPasses = phase(spark, w, plain, work, seconds, 0)
      val (heapMb, nonHeapMb) = Memory.peakMb()

      val lines = mutable.ArrayBuffer.empty[String]
      def line(name: String, v: Double, unit: String): Unit = lines += f"$name%-40s $v%.6g $unit"
      val wallS = Stats.median(plainPasses.map(_.opSeconds))
      val opMs = Stats.median(plain.latencies(w.latencyKinds: _*))
      val e2e = Seq(
        ("setup_s", setupS, "s"), ("wall_s", wallS, "s"), ("op_p50_ms", opMs, "ms"),
        ("peak_heap_mb", heapMb, "MB"), ("peak_non_heap_mb", nonHeapMb, "MB"),
        ("recall", w.recall(plain), "ratio"))
      e2e.foreach { case (n, v, u) => line(n, v, u) }
      Stats.tail(plain.latencies(w.latencyKinds: _*)).filter(_._1 > 50).foreach { case (p, v) =>
        line(s"op_p${p.toString.stripSuffix(".0")}_ms", v, "ms")
      }
      line("failed_ops_frac", plain.failed.toDouble / plain.attempted.max(1), "ratio")
      line("op_samples", plain.attempted.toDouble, "count")
      line("passes", plainPasses.size.toDouble, "count")
      plainPasses.foreach(p => line(s"pass_${p.index}_s", p.opSeconds, "s"))
      w.figures(plain, plainPasses).foreach { case (n, v, u) => line(n, v, u) }

      var attempted = plain.attempted
      var failed = plain.failed
      val metrics: Seq[(String, Double, String)] =
        if (!traced) e2e
        else {
          val ledger = new Ledger(spark)
          spark.sparkContext.addSparkListener(ledger)
          spark.listenerManager.register(ledger)
          val tracer = new Tracer(true)
          val tc = new Client(tracer, Some(ledger))
          val tracedPasses = phase(spark, w, tc, work, seconds, plainPasses.size)
          val probeFrom = tracer.spans.size
          w.layerProbes(spark, tc, work)
          Ledger.drain(spark)
          spark.listenerManager.unregister(ledger)
          spark.sparkContext.removeSparkListener(ledger)
          // an untraced phase after the traced one brackets the JIT
          // warming trend, so the overhead compares like with like
          val after = new Client(new Tracer(false))
          val afterPasses = phase(spark, w, after, work, seconds,
            plainPasses.size + tracedPasses.size)
          attempted += tc.attempted + after.attempted
          failed += tc.failed + after.failed
          val overhead = Stats.median(tracedPasses.map(_.opSeconds)) /
            Stats.median((plainPasses ++ afterPasses).map(_.opSeconds))
          val layers = Layers.compute(w, tracer, tracedPasses.size, probeFrom) :+
            (("trace.overhead_ratio", overhead, "ratio"))
          val traceDir = new File(work.getParentFile, "trace")
          traceDir.mkdirs()
          val stem = s"${w.name}-seed$seed"
          write(new File(traceDir, s"$stem.spans.jsonl"), tracer.toJsonLines.mkString("", "\n", "\n"))
          write(new File(traceDir, s"$stem.layers.json"), Stats.json(mutable.LinkedHashMap[String, Any](
            "workload" -> w.name, "seed" -> seed, "traced_passes" -> tracedPasses.size,
            "untraced_wall_s" -> wallS, "traced_wall_s" -> Stats.median(tracedPasses.map(_.opSeconds)),
            "metrics" -> layers.map { case (n, v, u) =>
              mutable.LinkedHashMap[String, Any]("name" -> n, "value" -> v, "unit" -> u,
                "moves" -> Layers.moves(n, w.name))
            })) + "\n")
          layers.foreach { case (n, v, u) => line(n, v, u) }
          layers
        }
      lines.foreach(println)
      write(result, Stats.json(mutable.LinkedHashMap[String, Any](
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
        }: _*))) + "\n")
    } finally {
      spark.stop()
      mark("session stopped")
    }
  }

  /** Repeat passes until `seconds` have elapsed (at least one pass). */
  private def phase(spark: SparkSession, w: Workload, c: Client, work: File,
                    seconds: Double, firstPass: Int): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = firstPass + passes.size
      val from = c.ops.size
      w.pass(spark, c, work, i)
      mark(s"pass $i done")
      passes += Pass(i, c.ops.slice(from, c.ops.size).map(_.ms).sum / 1e3)
    }
    passes.toSeq
  }

  private def write(f: File, text: String): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try pw.write(text) finally pw.close()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    sys.exit(2)
  }
}
