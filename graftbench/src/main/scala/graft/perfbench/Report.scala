package graft.perfbench

import Stats.Span

/** One reported number. `inJson` marks the metrics that go into the
  * final JSON line (the ones BENCHMARK.json names); the rest are
  * printed by name only. */
final case class Metric(name: String, value: Double, unit: String, inJson: Boolean = true,
    note: String = "")

/** Turns the recorded ops into metrics and the span forest. */
final class Report(ctx: Ctx, cores: Int, setupNs: Long, jvm: JvmStats.Delta) {
  private val MB = 1024.0 * 1024.0
  private def s(ns: Double): Double = ns / 1e9

  private val measured = ctx.ops.toSeq
  private val good = measured.filter(_.ok)
  val attempted: Int = measured.size
  val failed: Int = measured.count(!_.ok)

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def passWalls(traced: Boolean) = ctx.passes.filter(_.traced == traced).map(_.wallNs.toDouble).toSeq

  /** End-to-end metrics of an untraced run, plus the ones printed only. */
  def endToEnd: Seq[Metric] = {
    val lat = good.map(_.latencyNs.toDouble)
    val n = lat.size
    val tail = Stats.tailPermille(n).map { p =>
      Metric(f"latency_p${p / 10.0}%s_ms".replace(".0_", "_"), Stats.quantile(lat, p / 1000.0) / 1e6,
        "ms", inJson = false, s"n=$n")
    }
    val ingest = ctx.ingestPasses.toSeq
    // the fastest pass, as graft.Bench reports: host noise only adds time
    val wall = passWalls(traced = false).minOption.getOrElse(0.0)
    Seq(
      Metric("setup_s", s(setupNs.toDouble), "s"),
      Metric("wall_s", s(wall), "s", note = s"passes=${ctx.passes.size}"),
      Metric("latency_p50_ms", median(lat) / 1e6, "ms", inJson = false, s"n=$n"),
      Metric("storage_peak_mb", ctx.recorder.storagePeakBytes / MB, "MB", inJson = false)) ++
      tail ++ Seq(
      Metric("fail_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio",
        inJson = false, s"$failed/$attempted")) ++
      (if (ingest.isEmpty) Nil else Seq(
        Metric("rows_per_s", ingest.map(_.rows).sum / s(ctx.passes.map(_.wallNs).sum.toDouble),
          "1/s", inJson = false, s"${ingest.head.rows} rows a pass in ${ingest.head.steps} steps"),
        Metric("index_bytes_per_input_byte", ingest.map(_.indexGrowthBytes).sum.toDouble /
          ingest.map(_.textBytes).sum, "ratio", inJson = false)))
  }

  // ---- traced run -------------------------------------------------------

  private val traced = good.filter(_.traced)
  private val tracedPasses = math.max(1, ctx.passes.count(_.traced))
  private def perPass(x: Double): Double = x / tracedPasses
  private val floorMs = 1000000L

  /** Jobs an op caused during its timed part: its job group for batch
    * ops, the op's interval for micro-batches (which run in the
    * stream's own thread). */
  private val jobsOf: Map[Long, Seq[Recorder.Job]] = {
    val jobs = ctx.recorder.jobs
    traced.map { op =>
      val inTime = jobs.filter(j => j.start >= op.t0 / floorMs * floorMs && j.start <= op.t2)
      op.id -> (if (op.layer == "streaming") inTime else inTime.filter(_.group.contains(s"op-${op.id}")))
    }.toMap
  }
  private val allJobs = jobsOf.values.flatten.toSeq
  private val tasks = allJobs.map(ctx.recorder.tasksOf)
  private def sumT(f: Recorder.TaskAgg => Long): Double = tasks.map(f).sum.toDouble
  private val streamOps = traced.filter(_.layer == "streaming")

  private def progressMs(key: String)(op: OpRun): Double = op.progress.map(_.durationsMs.getOrElse(key, 0L)).sum / 1e3
  private def writesS(kind: String)(op: OpRun): Double =
    op.execs.filter(_.write.contains(kind)).map(_.durationNs).sum / 1e9

  def perLayer: Seq[Metric] = {
    val actions = traced.map(_.execs.size).sum.toDouble
    val stageCounts = allJobs.map(j => (j.stageIds.size, ctx.recorder.stagesRunOf(j).size))
    val stagesTotal = stageCounts.map(_._1).sum.toDouble
    val stagesRun = stageCounts.map(_._2).sum.toDouble
    val tracedWall = passWalls(traced = true).minOption.getOrElse(0.0)
    val cpuS = perPass(sumT(_.cpuNs) / 1e9)
    val stores = ctx.recorder.blockStores.filter(b => b.rdd && traced.exists(o => b.at >= o.t0 && b.at <= o.t2))
    val compactOps = streamOps.filter(_.progress.exists(p => p.stream == "compacting" &&
      ctx.ingestPasses.exists(_.compactBatches.contains(p.batchId))))
    val ingest = ctx.ingestPasses.filter(_.traced).toSeq
    Seq(
      Metric("driver.outside_jobs_s", perPass(traced.map(o =>
        Stats.uncovered(o.t0, o.t2, jobsOf(o.id).map(j => (j.start, j.end)))).sum / 1e9), "s"),
      Metric("driver.plan_s", perPass(traced.flatMap(_.execs).map(_.planMs).sum / 1e3), "s"),
      Metric("driver.codegen_compiles", perPass(traced.map(_.codegenCompiles).sum.toDouble), "count"),
      Metric("driver.actions", perPass(actions), "count"),
      Metric("scheduler.jobs", perPass(allJobs.size.toDouble), "count"),
      Metric("scheduler.stages", perPass(stagesRun), "count", inJson = false),
      Metric("scheduler.tasks", perPass(sumT(_.tasks)), "count"),
      Metric("scheduler.jobs_per_action", if (actions == 0) 0.0 else allJobs.size / actions, "ratio"),
      Metric("scheduler.skipped_stage_ratio",
        if (stagesTotal == 0) 0.0 else (stagesTotal - stagesRun) / stagesTotal, "ratio"),
      Metric("scheduler.task_deser_s", perPass(sumT(_.deserMs) / 1e3), "s"),
      Metric("scheduler.tasks_failed", perPass(sumT(_.failed)), "count", inJson = false),
      Metric("operators.construct_s", perPass((traced.map(o => o.t1 - o.t0).sum +
        ingest.map(_.constructNs).sum) / 1e9), "s"),
      Metric("operators.materialize_s", perPass(traced.map(o => o.t2 - o.t1).sum / 1e9), "s"),
      Metric("executor.run_s", perPass(sumT(_.runMs) / 1e3), "s"),
      Metric("executor.cpu_s", cpuS, "s"),
      Metric("executor.cpu_util", if (tracedWall == 0) 0.0 else cpuS / (s(tracedWall) * cores), "ratio"),
      Metric("executor.gc_s", perPass(sumT(_.gcMs) / 1e3), "s"),
      Metric("executor.peak_exec_mem_mb", tasks.map(_.peakExecMem).maxOption.getOrElse(0L) / MB,
        "MB", inJson = false),
      Metric("executor.spill_mb", perPass(sumT(_.spillBytes) / MB), "MB", inJson = false),
      Metric("sources.bytes_read_mb", perPass(sumT(_.inputBytes) / MB), "MB"),
      Metric("sources.records_read", perPass(sumT(_.inputRecords)), "count", inJson = false),
      Metric("shuffle.write_mb", perPass(sumT(_.shuffleWriteBytes) / MB), "MB"),
      Metric("shuffle.read_mb", perPass(sumT(_.shuffleReadBytes) / MB), "MB"),
      Metric("shuffle.records_written", perPass(sumT(_.shuffleWriteRecords)), "count", inJson = false),
      Metric("shuffle.fetch_wait_s", perPass(sumT(_.fetchWaitMs) / 1e3), "s", inJson = false),
      Metric("shuffle.write_s", perPass(sumT(_.shuffleWriteNs) / 1e9), "s", inJson = false),
      Metric("cache.blocks_stored", perPass(stores.size.toDouble), "count"),
      Metric("cache.mb_stored", perPass(stores.map(_.memBytes).sum / MB), "MB"),
      Metric("cache.disk_mb", perPass(stores.map(_.diskBytes).sum / MB), "MB", inJson = false),
      Metric("cache.release_s", perPass((traced.map(o => o.t4 - o.t3).sum +
        ingest.map(_.releaseNs).sum) / 1e9), "s"),
      Metric("index.write_mb", perPass(streamOps.flatMap(o => jobsOf(o.id))
        .map(j => ctx.recorder.tasksOf(j).outputBytes).sum / MB), "MB"),
      Metric("index.files_end", median(ingest.map(_.indexFilesEnd.toDouble)), "count", inJson = false),
      Metric("index.files_max", streamOps.map(_.indexFiles).maxOption.getOrElse(0L).toDouble, "count"),
      Metric("index.bytes_per_input_byte", if (ingest.isEmpty) 0.0 else
        ingest.map(_.indexGrowthBytes).sum.toDouble / ingest.map(_.textBytes).sum, "ratio"),
      Metric("index.append_batch_s", median(streamOps.map(writesS("append"))), "s", inJson = false),
      Metric("index.compact_batch_s", median(compactOps.map(writesS("create"))), "s", inJson = false),
      Metric("streaming.trigger_s", median(streamOps.map(progressMs("triggerExecution"))), "s",
        inJson = false),
      Metric("streaming.add_batch_s", median(streamOps.map(progressMs("addBatch"))), "s",
        inJson = false),
      Metric("streaming.planning_s", median(streamOps.map(progressMs("queryPlanning"))), "s",
        inJson = false),
      Metric("streaming.wal_commit_s", median(streamOps.map(progressMs("walCommit"))), "s",
        inJson = false),
      Metric("streaming.latest_offset_s", median(streamOps.map(progressMs("latestOffset"))), "s",
        inJson = false),
      Metric("streaming.state_rows", streamOps.flatMap(_.progress).map(_.stateRows.toDouble)
        .maxOption.getOrElse(0.0), "count"),
      Metric("streaming.state_mb", streamOps.flatMap(_.progress).map(_.stateBytes.toDouble)
        .maxOption.getOrElse(0.0) / MB, "MB", inJson = false),
      Metric("jvm.gc_s", perPass(jvm.gcMs / 1e3), "s"),
      Metric("jvm.heap_after_gc_mb", jvm.heapAfterGcBytes / MB, "MB", inJson = false),
      Metric("jvm.jit_s", perPass(jvm.jitMs / 1e3), "s"),
      Metric("trace.overhead_s", s(tracedWall - passWalls(traced = false).minOption.getOrElse(0.0)), "s",
        note = "traced wall_s minus untraced wall_s"))
  }

  /** The layer split of each op name per traced pass: latency,
    * construct and materialize time, jobs, task CPU, and time outside
    * any job. `cpu_util` is task CPU over latency × cores; it tells a
    * driver-bound loop (low) from a task-CPU-bound kernel (high). */
  def perOp: Seq[Metric] = traced.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ops) =>
    val jobs = ops.flatMap(o => jobsOf(o.id))
    val cpu = perPass(jobs.map(ctx.recorder.tasksOf(_).cpuNs).sum / 1e9)
    val latency = perPass(ops.map(_.latencyNs).sum / 1e9)
    Seq(
      Metric(s"op.$name.latency_s", latency, "s", inJson = false),
      Metric(s"op.$name.construct_s", perPass(ops.map(o => o.t1 - o.t0).sum / 1e9), "s", inJson = false),
      Metric(s"op.$name.materialize_s", perPass(ops.map(o => o.t2 - o.t1).sum / 1e9), "s", inJson = false),
      Metric(s"op.$name.jobs", perPass(jobs.size.toDouble), "count", inJson = false),
      Metric(s"op.$name.executor_cpu_s", cpu, "s", inJson = false),
      Metric(s"op.$name.outside_jobs_s", perPass(ops.map(o =>
        Stats.uncovered(o.t0, o.t2, jobsOf(o.id).map(j => (j.start, j.end)))).sum / 1e9), "s", inJson = false),
      Metric(s"op.$name.cpu_util", if (latency == 0) 0.0 else cpu / (latency * cores), "ratio",
        inJson = false))
  }

  /** The span forest of the traced ops: op → phases → jobs → stages. */
  def spans: Seq[Span] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    traced.flatMap { op =>
      val root = Span(id(), 0L, op.id, op.name, op.layer, op.t0, op.t4)
      val phases =
        if (op.layer == "streaming") op.progress.flatMap { p =>
          val keys = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          keys.scanLeft((p.startNs, Option.empty[Span])) { case ((at, _), k) =>
            val d = p.durationsMs.getOrElse(k, 0L) * 1000000L
            (at + d, if (d > 0) Some(Span(id(), root.id, op.id, k, "streaming", at, at + d)) else None)
          }.flatMap(_._2)
        }
        else Seq(
          Span(id(), root.id, op.id, "construct", "operators", op.t0, op.t1),
          Span(id(), root.id, op.id, "materialize", "driver", op.t1, op.t2),
          Span(id(), root.id, op.id, "check", "benchmark", op.t2, op.t3),
          Span(id(), root.id, op.id, "release", "cache", op.t3, op.t4))
      val jobs = jobsOf(op.id).flatMap { j =>
        val parent = phases.find(p => j.start >= p.start / floorMs * floorMs && j.start <= p.end)
          .getOrElse(root)
        val js = Span(id(), parent.id, op.id, s"job ${j.id}", "scheduler", j.start, math.max(j.start, j.end))
        js +: ctx.recorder.stagesRunOf(j).map { case (a, b) =>
          Span(id(), js.id, op.id, "stage", "executor", a, b)
        }
      }
      root +: (phases ++ jobs)
    }
  }
}

/** JVM-wide GC and JIT time, read from the platform MXBeans. */
object JvmStats {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  final case class Delta(gcMs: Long, jitMs: Long, heapAfterGcBytes: Long) {
    def +(o: Delta): Delta = Delta(gcMs + o.gcMs, jitMs + o.jitMs, o.heapAfterGcBytes)
  }

  def snapshot(): (Long, Long) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def since(before: (Long, Long)): Delta = {
    val (gc, jit) = snapshot()
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Delta(gc - before._1, jit - before._2, heapAfterGc)
  }
}
