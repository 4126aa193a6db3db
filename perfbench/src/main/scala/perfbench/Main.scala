package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String = "",
    seed: Long = 1,
    seconds: Int = 10,
    trace: Boolean = false,
    cores: Int = 4,
    sfDir: String = "",
    workDir: String = ".bench_build/perfbench/work",
    reportDir: String = ".bench_build/perfbench/reports",
    goldensFile: String = "perfbench/goldens.tsv",
    recordGoldens: Option[String] = None,
    commit: String = "unknown",
) {
  lazy val goldens: Map[String, Fingerprint.Result] =
    if (!Files.exists(Paths.get(goldensFile))) Map.empty
    else
      Files.readAllLines(Paths.get(goldensFile)).toArray(Array.empty[String]).toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t"))
        .map(f => f(0) -> Fingerprint.Result(f(1).toLong, f(2)))
        .toMap
}

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--cores" +: v +: rest => parse(rest).copy(cores = v.toInt)
    case "--sf" +: v +: rest => parse(rest).copy(sfDir = v)
    case "--work" +: v +: rest => parse(rest).copy(workDir = v)
    case "--reports" +: v +: rest => parse(rest).copy(reportDir = v)
    case "--goldens" +: v +: rest => parse(rest).copy(goldensFile = v)
    case "--record-goldens" +: v +: rest => parse(rest).copy(recordGoldens = Some(v))
    case "--commit" +: v +: rest => parse(rest).copy(commit = v)
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

/** What one pass of the closed loop did. */
final case class PassResult(index: Int, ops: Seq[OpResult]) {
  def wallS: Double = ops.map(_.wallS).sum
}

/** Entry point: runs one workload and prints its metrics. The last line
  * of standard output is the machine-readable result.
  */
object Main {
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case NonFatal(_) => "unavailable" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case NonFatal(_) => -1 }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(o.workDir, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(o.workDir, "local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-faces"))) {
      println((Catalog.oneshot ++ Catalog.fixpoint).map(_.name).mkString(","))
      sys.exit(0)
    }
    val o = Opts.parse(args.toSeq)
    val code =
      try { run(o); 0 }
      catch { case NonFatal(e) => log(s"run aborted: $e"); e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg()
    Files.createDirectories(Paths.get(o.workDir))
    val (spark, sessionS) = Workload.timed(session(o))
    val sc = spark.sparkContext
    val cleanup = new Cleanup(log)
    val tracer = new Tracer(sc, enabled = false)
    val env = new Env(spark, o, tracer, cleanup, log)

    o.recordGoldens match {
      case Some(file) => return recordGoldens(env, file)
      case None => ()
    }

    val w = Workload(o.workload)
    val setupPhases = w.setup(env)
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - jvmStartMs) / 1000.0
    log(f"set-up done in $setupS%.2f s: ${setupPhases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")

    // Closed loop, one client thread. The window counts the timed
    // operations only, not their checks or cleanup. Passes run while
    // another pass of average length still ends within the window, and
    // at least two run unless the first alone fills it. A traced run
    // traces every other operation, alternating between passes, so it
    // always makes two passes: each operation then runs traced and
    // untraced, and the tracing overhead is measured in the same process.
    val collector = new Collector
    val passes = mutable.ArrayBuffer[PassResult]()
    val t0 = System.nanoTime()
    def another: Boolean = {
      val measured = passes.map(_.wallS).sum
      passes.isEmpty || (passes.size < 2 && (o.trace || measured < o.seconds)) ||
        measured + measured / passes.size <= o.seconds
    }
    def runOp(name: String, p: Int): OpResult = {
      val traced = o.trace && (w.ops.indexOf(name) + p) % 2 == 1
      if (traced) {
        sc.addSparkListener(collector)
        spark.streams.addListener(collector.streams)
        tracer.enabled = true
      }
      val spans0 = tracer.spans.size
      try {
        val r = w.run(env, name, p)
        if (!traced) r
        else r.copy(traced = true, spanId = tracer.spans.drop(spans0).find(_.level == 2).map(_.id).getOrElse(0))
      } finally if (traced) {
        tracer.enabled = false
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        sc.removeSparkListener(collector)
        spark.streams.removeListener(collector.streams)
      }
    }
    while (another) {
      val p = passes.size
      val ops = Seeds.passOrder(o.seed, p, w.ops).map(runOp(_, p))
      passes += PassResult(p, ops)
      cleanup.flush()
      ops.filterNot(_.ok).foreach(r => log(s"${r.name} failed: ${r.error.getOrElse("")}"))
    }
    val windowS = Workload.secondsSince(t0)
    w.teardown(env)
    cleanup.flush()
    spark.stop()
    val load1 = loadavg()

    val (setupAttempted, setupFailed) = w.setupChecks
    val allOps = passes.flatMap(_.ops)
    val attempted = allOps.size + setupAttempted
    val failed = allOps.count(!_.ok) + setupFailed
    val e2e = EndToEnd(w, passes.toSeq, setupS, peakRssMb())
    val layers =
      if (o.trace) Layers(w, allOps.toSeq, tracer, collector, env, o.cores, sessionS, setupPhases.toMap)
      else Map.empty[String, (Double, String)]
    val accounted = Layers.accounting(tracer, allOps.toSeq)

    val context = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString, "cores" -> o.cores.toString,
      "commit" -> Json.str(o.commit), "trace" -> o.trace.toString,
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(load1),
      "passes" -> passes.size.toString, "window_s" -> Json.num(windowS),
      "cleanup_failures" -> cleanup.failures.toString,
    ))
    println(s"context $context")
    // Pass figures of a traced run mix traced and untraced operations.
    e2e.report.filter(r => !o.trace || r._1 == "setup_s").foreach { case (k, v, u, note) =>
      println(f"metric $k%-22s ${Json.num(v)}%-14s $u%-6s $note")
    }
    println(f"metric ${"error_rate"}%-22s ${Json.num(failed.toDouble / attempted)}%-14s ratio  $failed of $attempted")
    if (accounted.nonEmpty) {
      val worst = accounted.minBy(_._2)
      println(f"trace  build driver + plan + action self + job time cover ${100 * Stats.median(accounted.map(_._2))}%.2f%% of query wall (median rep), ${100 * worst._2}%.2f%% at worst (${worst._1})")
    }
    layers.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"layer  $k%-22s ${Json.num(v)}%-14s $u") }

    val metrics = if (o.trace) layers else e2e.gated
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
    ))
    writeReport(o, w.name, context, result, passes.toSeq, tracer)
    println(result)
  }

  private def writeReport(o: Opts, workload: String, context: String, result: String,
      passes: Seq[PassResult], tracer: Tracer): Unit =
    try {
      val dir = Paths.get(o.reportDir)
      Files.createDirectories(dir)
      val stem = s"$workload-seed${o.seed}-trace${if (o.trace) 1 else 0}-cores${o.cores}"
      val ops = passes.flatMap(p => p.ops.map(r => Json.obj(Seq(
        "pass" -> p.index.toString, "traced" -> r.traced.toString, "op" -> Json.str(r.name),
        "wall_s" -> Json.num(r.wallS), "ok" -> r.ok.toString,
        "samples_ms" -> r.samplesMs.map(Json.num).mkString("[", ",", "]")))))
      Files.write(dir.resolve(s"$stem.json"), Json.obj(Seq(
        "context" -> context, "result" -> result, "ops" -> ops.mkString("[", ",", "]"),
      )).getBytes(StandardCharsets.UTF_8))
      if (tracer.spans.nonEmpty)
        Files.write(dir.resolve(s"$stem.spans.jsonl"),
          tracer.spans.map(Spans.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    } catch { case NonFatal(e) => log(s"report not written: $e") }

  /** Fingerprints every batch face at the timed dataset and writes them
    * as goldens. Only called after the oracle check passed. Unless every
    * face produced a fingerprint, it fails and leaves `file` untouched.
    */
  private def recordGoldens(env: Env, file: String): Unit = {
    val faces = Catalog.oneshot ++ Catalog.fixpoint
    val got = Seq("oneshot", "fixpoint").flatMap { n =>
      val w = Workload(n).asInstanceOf[BatchWorkload]
      w.setup(env)
      w.fingerprints.toSeq
    }.toMap
    env.cleanup.flush()
    env.spark.stop()
    val missing = faces.map(_.name).filterNot(got.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"no fingerprint for ${missing.mkString(", ")}; goldens not written")
    val lines = faces.map(f => s"${f.name}\t${got(f.name).rows}\t${got(f.name).fp}")
    Files.write(Paths.get(file),
      ("# query\trows\tfingerprint (perfbench.Fingerprint at sf0.1)\n" + lines.mkString("", "\n", "\n"))
        .getBytes(StandardCharsets.UTF_8))
    println(s"recorded ${lines.size} goldens to $file")
  }
}

/** End-to-end figures of an untraced run. */
final case class EndToEnd(
    gated: Map[String, (Double, String)],
    report: Seq[(String, Double, String, String)],
)

object EndToEnd {
  def apply(w: Workload, passes: Seq[PassResult], setupS: Double, rssMb: Double): EndToEnd = {
    val okOps = passes.flatMap(_.ops).filter(_.ok)
    val samples = okOps.flatMap(_.samplesMs)
    val passS = if (passes.nonEmpty) Stats.median(passes.map(_.wallS)) else -1.0
    val p50 = if (samples.nonEmpty) Stats.median(samples) else -1.0
    val tail = Stats.tailPercentile(samples.size)
    val n = s"n=${samples.size}"
    val tailNote = tail.map(p => s"p$p, $n").getOrElse(s"not reported: fewer than 10 samples beyond any percentile, $n")
    val tailV = tail.map(Stats.percentile(samples, _)).getOrElse(Double.NaN)
    val ps = s"passes=${passes.size}"
    val named =
      if (!w.streaming) Seq(
        ("query_p50_s", p50 / 1000, "s", n),
        ("query_p90_s", tailV / 1000, "s", tailNote),
        ("suite_s", passS, "s", ps),
      )
      else {
        val rows = passes.map(_.ops.map(_.inputRows).sum.toDouble)
        val rate = Stats.median(passes.map(p => p.ops.map(_.inputRows).sum / p.wallS))
        Seq(
          ("stream_rows_per_s", rate, "rows/s", s"$ps, ${rows.headOption.getOrElse(0.0).toLong} rows per pass"),
          ("batch_p50_ms", p50, "ms", n),
          ("batch_p90_ms", tailV, "ms", tailNote),
        )
      }
    val report = ("setup_s", setupS, "s", "") +: named :+ (("peak_rss_mb", rssMb, "MB", "VmHWM"))
    EndToEnd(Map("setup_s" -> (setupS, "s"), "pass_s" -> (passS, "s")), report)
  }
}
