package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Starts the session, writes the workload's inputs, computes its reference
  * outputs, runs warm-up passes, then timed passes until `--seconds` have
  * gone by. setup_s is the time from the JVM's start to the first timed
  * pass, less the time the checker spends on its references. Every output
  * is checked after its pass's timed region. The last stdout line is the
  * JSON result; with `--trace 1` untraced and traced passes alternate and
  * the result holds the per-layer metrics of the traced ones.
  */
object Main {

  /** Spans whose counters the traced run reports, in output order. */
  val SpanNames = Seq(
    "corpus.deriveEdges", "SparkEntry.edgesSup",
    "algos.PageRank", "algos.ConnectedComponents", "algos.LabelPropagation",
    "algos.TriangleCount", "algos.KTruss",
    "algos.PageRank.ckpt", "algos.PageRank.resume",
    "algos.ConnectedComponents.ckpt", "algos.ConnectedComponents.resume")

  /** Call-specific per-layer metrics, with their units. */
  val FactUnits = Seq(
    "algos.PageRank.iters" -> "count", "algos.PageRank.iter_ms_p50" -> "ms",
    "algos.PageRank.setup_s" -> "s", "algos.ConnectedComponents.rounds" -> "count",
    "corpus.deriveEdges.resolve_ratio" -> "ratio", "core.Checkpoint.write_mb" -> "MB",
    "core.Checkpoint.snapshots" -> "count", "core.Checkpoint.resume_iter" -> "count")

  val CounterUnits = Map("s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "gc_s" -> "s", "idle_frac" -> "ratio", "driver_gap_s" -> "s",
    "plan_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    require(Workload.Names.contains(workload),
      s"unknown workload '$workload' (known: ${Workload.Names.mkString(", ")})")

    // the checker's own replays must agree with graft.ref.DenseMimic first
    val selfCheckS = timed(Reference.selfCheck(seed))

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(cores, work)
    try run(spark, cores, workload, seed, seconds, trace, work, selfCheckS)
    finally spark.stop()
  }

  private def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drops every cached table and checkpointed state a pass left behind. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Samples the block manager's storage memory until stopped; keeps the peak. */
  private final class PeakSampler extends Thread("perfbench-peak") {
    @volatile private var running = true
    @volatile var peak = 0L
    setDaemon(true)
    override def run(): Unit = while (running) {
      peak = math.max(peak, org.apache.spark.PerfbenchBridge.storageBytesUsed())
      Thread.sleep(5)
    }
    def finish(): Long = { running = false; join(); peak }
  }

  private final case class Measured(pass: Pass, wall: Double, peakMb: Double, traced: Boolean)

  private def run(spark: SparkSession, cores: Int, workload: String,
                  seed: Long, seconds: Double, trace: Boolean, work: File,
                  selfCheckS: Double): Unit = {
    val w = Workload(workload, spark, work, seed)
    w.setup()
    val checkerS = selfCheckS + timed(w.prepare())
    val tracer = new Tracer(spark)

    def onePass(id: Int, traced: Boolean, warm: Boolean = false): Measured = {
      val p = new Pass(id, if (traced) Some(tracer) else None, warm)
      if (traced) tracer.attach()
      val sampler = new PeakSampler
      sampler.start()
      val wall = timed(w.pass(p))
      val peak = sampler.finish()
      if (traced) tracer.detach()
      p.runChecks()
      release(spark)
      System.err.println(f"[perfbench] pass $id ${if (traced) "traced" else "untraced"} " +
        f"wall=$wall%.3fs failed=${p.failed} " +
        p.spans.map(s => f"${s.name}=${s.seconds}%.3f").mkString(" "))
      Measured(p, wall, peak / Tracer.MB, traced)
    }

    val warm = (0 until w.warmUpPasses).map(i => onePass(-i, traced = false, warm = true))

    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - checkerS

    val passes = scala.collection.mutable.ArrayBuffer[Measured]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (trace && passes.size < 2) ||
           (System.nanoTime() - t0) / 1e9 < seconds)
      passes += onePass(passes.size + 1, traced = trace && passes.size % 2 == 1)

    val all = warm ++ passes
    val attempted = all.map(_.pass.attempted).sum
    val failed = all.map(_.pass.failed).sum
    val untraced = passes.filterNot(_.traced).toSeq

    val rt = Runtime.getRuntime
    println(s"host nproc=${rt.availableProcessors()} cores=$cores " +
      s"heap_mb=${rt.maxMemory() / (1024 * 1024)} spark=${spark.version} " +
      s"java=${System.getProperty("java.version")}")
    println(s"workload=$workload seed=$seed passes=${passes.size} " +
      s"warmup_s=${warm.map(_.wall).sum} checker_s=$checkerS attempted=$attempted failed=$failed " +
      s"failed_frac=${failed.toDouble / attempted}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val e2e = Seq(
          ("wall_s", median(untraced.map(_.wall)), "s"),
          ("setup_s", setupS, "s"),
          ("cache_peak_mb", median(untraced.map(_.peakMb)), "MB"))
        val figures = untraced.map(m => w.callFigures(m.pass))
        val perCall = figures.head.indices.map { i =>
          val (name, _, unit) = figures.head(i)
          (name, median(figures.map(_(i)._2)), unit)
        }
        (e2e ++ perCall :+ (("failed_frac", failed.toDouble / attempted, "ratio")))
          .foreach { case (n, v, u) => println(s"metric $n $v $u") }
        e2e
      } else {
        val traced = passes.filter(_.traced).toSeq
        val summaries = traced.map(m => m.pass.spans.map(s => s.name -> tracer.summary(s, cores)).toMap)
        val facts = traced.map(m => w.layerFacts(m.pass))
        val spanMetrics = for (span <- SpanNames; c <- Tracer.CounterNames) yield {
          val vs = summaries.flatMap(_.get(span)).map(_(c))
          (s"$span.$c", if (vs.isEmpty) 0.0 else median(vs), CounterUnits(c))
        }
        val factMetrics = FactUnits.map { case (f, unit) =>
          val vs = facts.flatMap(_.get(f))
          (f, if (vs.isEmpty) 0.0 else median(vs), unit)
        }
        val overhead = ("trace.overhead_s",
          median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s")
        writeSpans(new File(work, s"spans-$workload-$seed.jsonl"), traced, tracer, cores)
        val all = spanMetrics ++ factMetrics :+ overhead
        all.foreach { case (n, v, u) => println(s"metric $n $v $u") }
        all
      }

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNumber(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The traced passes' spans, one JSON object a line, with their counters. */
  private def writeSpans(f: File, traced: Seq[Measured], tracer: Tracer, cores: Int): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    try traced.foreach { m =>
      out.println(s"""{"name": "pass", "parent": null, "pass": ${m.pass.id}, "s": ${m.wall}}""")
      m.pass.spans.foreach { s =>
        val counters = tracer.summary(s, cores).map { case (k, v) => s""""$k": ${jsonNumber(v)}""" }
        out.println(s"""{"name": "${s.name}", "parent": "${s.parent}", "pass": ${s.pass}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, ${counters.mkString(", ")}}""")
      }
    } finally out.close()
  }
}
