package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one JSON result line.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> [--record <file>]
  * }}}
  *
  * `kgbench/run.py` builds the classes and launches this; see
  * `kgbench/README.md` for the workloads and metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, record: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), kv.get("record"))
  }

  val Workloads: Map[String, RunCtx => Outcome] = Map(
    "ingest_full" -> IngestFull.run,
    "serve" -> Serve.run,
    "corpus_dedup" -> CorpusDedup.run)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work)
    val cpus = sys.env.get("GRAFTBENCH_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    implicit val spark: SparkSession = session(cpus, work)
    val tracer = if (args.trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new RunCtx(spark, args, tracer, jvmStart, work, cpus)
    val out = workload(ctx)

    // host probe after the timed region: pure extraction compute at 1 and
    // N threads (never more threads than the run's own width)
    val probePages = 250
    graft.bench.CpuScaling.measure(cpus, probePages, quiet = true)
    val probe1 = graft.bench.CpuScaling.measure(1, probePages, quiet = true)
    val probeN = graft.bench.CpuScaling.measure(cpus, probePages, quiet = true)
    val sparkVersion = spark.version
    spark.stop()

    val correct = out.failed == 0 && ctx.checks.forall(_.ok)
    val metrics = if (args.trace) Metrics.perLayer(out.layer) else Metrics.endToEnd(out)
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, unit, v) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))

    args.record.foreach { path =>
      val context = Seq(
        "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
        "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0"),
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "local_n" -> cpus.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "spark_version" -> Json.str(sparkVersion),
        "git_commit" -> Json.str(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown")),
        "source_sha" -> Json.str(sys.env.getOrElse("GRAFTBENCH_SOURCE_SHA", "unknown")),
        "cpu_probe" -> Json.obj(Seq(
          "pages" -> probePages.toString,
          "docs_per_sec_1t" -> Json.num(probe1),
          s"docs_per_sec_${cpus}t" -> Json.num(probeN),
          "speedup" -> Json.num(probeN / probe1))))
      val record = Json.obj(Seq(
        "context" -> Json.obj(context),
        "result" -> line,
        "checks" -> Json.arr(ctx.checks.toSeq.map(c => Json.obj(Seq(
          "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
        "samples" -> Json.obj(out.samples.map { case (k, xs) => k -> Json.arr(xs.map(Json.num)) }),
        "details" -> Json.obj(out.details),
        "layer_all" -> Json.obj(out.layer.map { case (k, v) => k -> Json.num(v) })))
      Files.writeString(Paths.get(path), record + "\n")
    }
    System.err.println(s"[graftbench] ${args.workload} seed=${args.seed} correct=$correct " +
      out.details.filter(_._1 != "job_frames").map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(line)
    // end the JVM even if a library left a non-daemon thread behind
    sys.exit(0)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    // graft.Bench's settings, at this host's width
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    setupS: Double,
    firstOpS: Double,
    opMs: Seq[Double], // primary call latencies in the timed region
    commitMs: Seq[Double], // latencies of calls that commit a snapshot
    items: Double, // input items the timed calls processed
    itemsWallS: Double, // wall of those calls
    peakRssMb: Double, // VmHWM right after the timed region
    attempted: Int,
    failed: Int,
    layer: Seq[(String, Double)], // per-layer metrics (traced runs)
    samples: Seq[(String, Seq[Double])],
    details: Seq[(String, String)]) // extra JSON fields for the run record

final case class Check(name: String, ok: Boolean, detail: String)

/** Per-run state shared by the workloads: spans, labels, checks, trace. */
final class RunCtx(val spark: SparkSession, val args: Main.Args,
    val tracer: Option[LayerListener], val jvmStartMs: Long, val work: Path, val cpus: Int) {

  val checks = mutable.ArrayBuffer.empty[Check]
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def dir(name: String): String = work.resolve(name).toString

  /** Seconds since the JVM started. */
  def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Run `f`, record it as a span (epoch ms, for the trace) and return its
    * result with its wall time in seconds (monotonic clock).
    */
  def span[T](name: String)(f: => T): (T, Double) = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val d = (System.nanoTime() - t0) / 1e9
    spans += ((name, s, System.currentTimeMillis()))
    (r, d)
  }

  def spansOf(name: String): Seq[(Long, Long)] =
    spans.toSeq.collect { case (n, s, e) if n == name => (s, e) }

  /** Charge jobs without a `graft.*` frame that `f` starts to `label`. */
  def labelled[T](label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerListener.LabelKey)
    sc.setLocalProperty(LayerListener.LabelKey, label)
    try f finally sc.setLocalProperty(LayerListener.LabelKey, prev)
  }

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    val d = detail
    checks += Check(name, ok, d)
    if (!ok) System.err.println(s"[graftbench] CHECK FAILED $name: $d")
    ok
  }

  /** Repeat `op` until `seconds` have passed and at least `minCalls` calls
    * were made (the call in flight finishes); returns the number of calls.
    */
  def timedLoop(seconds: Double, minCalls: Int = 1)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCalls || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
    i
  }

  /** The trace of [from, to] once the listener has caught up. */
  def traceWindow(from: Long, to: Long): Option[TraceWindow] = tracer.map { l =>
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    l.window(from, to)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteDir(path: String): Unit = graft.Bench.deleteRecursively(Paths.get(path))
}

/** Minimal JSON rendering; numbers keep every digit. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
