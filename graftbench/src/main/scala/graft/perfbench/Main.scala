package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** graft's benchmark. One process, one client, closed loop: the next op
  * starts when the previous one has finished.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <tables dir> --work <scratch dir> --expected <fingerprints>
  *   Main --queries   (prints every query name the workloads run)
  *   Main --record <dump dir> [--record <dump dir>…] --data … --work …
  *        --expected <file to write>
  *
  * A run sets up (session, one untimed warm-up pass, and for ingest the
  * batch answers), then runs whole passes over the workload's fixed op
  * set in seed order, as many as fit in `--seconds` at the workload's
  * nominal pass length. It prints every metric by name with its unit
  * and ends with one JSON line. */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Int = 0,
      trace: Boolean = false, data: String = "", work: String = "", expected: String = "",
      record: Seq[String] = Nil)

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300)}"

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest =>
      require(v == "0" || v == "1", s"--trace takes 0 or 1, got $v")
      parse(rest, a.copy(trace = v == "1"))
    case "--data" :: v :: rest => parse(rest, a.copy(data = v))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--expected" :: v :: rest => parse(rest, a.copy(expected = v))
    case "--record" :: v :: rest => parse(rest, a.copy(record = a.record :+ v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Seq("--queries"))) { println(Workloads.allQueries.mkString(" ")); return }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val a = parse(argv.toList)
    require(a.data.nonEmpty && a.work.nonEmpty && a.expected.nonEmpty,
      "--data, --work and --expected are required")
    require(a.record.nonEmpty || (Workloads.names.contains(a.workload) && a.seconds >= 1),
      s"--workload must be one of ${Workloads.names.mkString(", ")} and --seconds >= 1")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(a, cores)
    val status = try {
      if (a.record.nonEmpty) { Record.write(spark, a.record, Paths.get(a.expected)); 0 }
      else run(spark, a, cores, jvmStart)
    } finally spark.stop()
    sys.exit(status)
  }

  private def session(a: Args, cores: Int): SparkSession = {
    val work = Paths.get(a.work)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      // A stream picks up new input within a millisecond, so a
      // micro-batch's latency is its own work, not the polling delay.
      .config("spark.sql.streaming.pollingDelay", "1ms")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.BucketCapMetrics.register(s)
    s
  }

  private def run(spark: SparkSession, a: Args, cores: Int, jvmStart: Long): Int = {
    val recorder = new Recorder(a.trace)
    spark.sparkContext.addSparkListener(recorder)
    if (a.trace) spark.listenerManager.register(recorder)
    val ctx = new Ctx(spark, a.data, Paths.get(a.work, "warehouse").toString, recorder,
      Record.load(Paths.get(a.expected)))
    val rng = new scala.util.Random(a.seed)

    val pass: (Int, Boolean, Boolean) => PassRun = a.workload match {
      case "batch" =>
        val runner = new BatchRunner(ctx, Workloads.batch)
        (i, measured, traced) => runner.pass(i, rng.shuffle(Workloads.batch), measured, traced)
      case _ =>
        val runner = new IngestRunner(ctx, batches = 6, compactEvery = 6)
        runner.prepare()
        (i, measured, traced) => runner.pass(i, rng, measured, traced)
    }
    pass(0, false, false) // warm-up: JIT, codegen caches, index tables
    val setupNs = Clock.now() - jvmStart
    ctx.setTracing(false)
    recorder.resetStoragePeak()

    // A fixed number of whole passes, so that two commits do the same
    // work: --seconds over the workload's nominal pass length. A traced
    // run alternates traced and untraced passes (at least one of each)
    // so that the tracing overhead is measured inside the same process;
    // the seed's parity picks which comes first, so that over many runs
    // the later, warmer pass favours neither side.
    val passes = math.max(if (a.trace) 2 else 1,
      math.round(a.seconds / Workloads.nominalPassSeconds(a.workload)).toInt)
    var jvm = JvmStats.Delta(0L, 0L, 0L)
    for (i <- 1 to passes) {
      val traced = a.trace && (i + a.seed) % 2 == 0
      ctx.setTracing(traced)
      val before = JvmStats.snapshot()
      pass(i, true, traced)
      if (traced) jvm = jvm + JvmStats.since(before)
    }
    ctx.setTracing(false)

    val report = new Report(ctx, cores, setupNs, jvm)
    val metrics = if (a.trace) report.perLayer ++ report.perOp else report.endToEnd
    println(s"graftbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores passes=${ctx.passes.size}")
    metrics.foreach { m =>
      println(f"  ${m.name}%-30s ${num(m.value)}%-24s ${m.unit}%-6s ${m.note}")
    }
    if (a.trace) {
      val spans = report.spans
      Stats.selfTimeByLayer(spans).toSeq.sortBy(_._1).foreach { case (layer, ns) =>
        println(f"  self_s.$layer%-23s ${num(ns / 1e9 / ctx.passes.count(_.traced))}%-24s s      per traced pass")
      }
      writeSpans(Paths.get(a.work, s"spans-${a.workload}-${a.seed}.jsonl"), spans)
    }
    // A run with a failed or wrong op reports no metrics and fails: no
    // gated number is ever computed from a partial op set.
    val correct = report.attempted > 0 && report.failed == 0
    println(json(correct, report.attempted, report.failed,
      if (correct) metrics.filter(_.inJson) else Nil))
    if (correct) 0 else 1
  }

  /** Every digit the double carries; JSON has no NaN or Infinity. */
  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  private def writeSpans(path: Path, spans: Seq[Stats.Span]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}"""
    }.asJava)
  }
}
