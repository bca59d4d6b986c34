package graft.perfbench

import graft.CacheRegistry
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** Epoch-anchored nanosecond clock, so the benchmark's own timestamps
  * line up with the epoch-millisecond times Spark's listener events
  * carry. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One executed op. Batch ops: construct [t0, t1), materialize
  * [t1, t2), untimed check [t2, t3), release [t3, t4). A micro-batch
  * has no construct, check or release phase. `codegenCompiles` and
  * `execs` are filled only for traced ops. */
final case class OpRun(id: Long, pass: Int, traced: Boolean, name: String, layer: String,
    t0: Long, t1: Long, t2: Long, t3: Long, t4: Long, ok: Boolean, error: Option[String],
    codegenCompiles: Long = 0L, execs: Seq[Recorder.Exec] = Nil,
    progress: Seq[Progress] = Nil, indexFiles: Long = 0L) {
  def latencyNs: Long = t2 - t0
}

/** The durations Spark reports for one streaming micro-batch. */
final case class Progress(stream: String, batchId: Long, startNs: Long, durationsMs: Map[String, Long],
    stateRows: Long, stateBytes: Long)

final case class PassRun(pass: Int, traced: Boolean, wallNs: Long)

/** Per-pass facts of the ingest workload that only it has: the
  * streaming queries are constructed once and release their cached
  * intermediates once per pass, not per op. */
final case class IngestPass(pass: Int, traced: Boolean, steps: Int, rows: Long, textBytes: Long,
    indexGrowthBytes: Long, indexFilesEnd: Long, compactBatches: Set[Long],
    constructNs: Long, releaseNs: Long)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val dataDir: String, val warehouse: String,
    val recorder: Recorder, val expected: Map[String, String]) {
  private var nextId = 0L
  def newOpId(): Long = { nextId += 1; nextId }
  val ops = mutable.ArrayBuffer.empty[OpRun]
  val passes = mutable.ArrayBuffer.empty[PassRun]
  val ingestPasses = mutable.ArrayBuffer.empty[IngestPass]

  /** Make listener-side state current and switch recording on or off. */
  def setTracing(on: Boolean): Unit = {
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
    recorder.active = on
  }

  def flush(): Unit = org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Runs the batch workload: each op builds a query through
  * SparkEntry.queries, writes its full result to the `noop` sink, is
  * checked untimed against its stored fingerprint, and has its
  * persisted intermediates released. */
final class BatchRunner(ctx: Ctx, names: Seq[String]) {
  import ctx.spark

  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"no query named $n in SparkEntry.queries"))).toMap

  def pass(pass: Int, order: Seq[String], measured: Boolean, traced: Boolean): PassRun = {
    val runs = order.map(n => runOp(pass, n, measured, traced))
    if (measured) ctx.ops ++= runs
    val p = PassRun(pass, traced, runs.map(_.latencyNs).sum)
    if (measured) ctx.passes += p
    p
  }

  private def runOp(pass: Int, name: String, check: Boolean, traced: Boolean): OpRun = {
    val id = ctx.newOpId()
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name)
    val cg0 = if (traced) ctx.codegenCompiles else 0L
    val t0 = Clock.now()
    var t1 = t0
    var t2 = t0
    val attempt = try {
      val df = fns(name)(spark, ctx.dataDir)
      t1 = Clock.now()
      df.write.format("noop").mode("overwrite").save()
      t2 = Clock.now()
      Right(df)
    } catch { case e: Throwable => Left(Main.describe(e)) }
    val cg = if (traced) ctx.codegenCompiles - cg0 else 0L
    val execs = if (traced) { ctx.flush(); ctx.recorder.drainExecs() } else Nil
    val verdict = attempt.flatMap { df =>
      if (!check) Right(())
      else try {
        val got = Fingerprint.of(df)
        val want = ctx.expected.getOrElse(name, "(none recorded)")
        if (got == want) Right(()) else Left(s"wrong result: fingerprint $got, expected $want")
      } catch { case e: Throwable => Left(Main.describe(e)) }
    }
    val t3 = Clock.now()
    CacheRegistry.releaseAll()
    val t4 = Clock.now()
    sc.clearJobGroup()
    if (traced) { ctx.flush(); ctx.recorder.drainExecs() }
    verdict.left.foreach(e => System.err.println(s"[graftbench] $name failed: $e"))
    System.err.println(f"[graftbench] pass $pass $name%-24s construct ${(t1 - t0) / 1e6}%8.1f ms" +
      f"  materialize ${(t2 - t1) / 1e6}%8.1f ms  check ${(t3 - t2) / 1e6}%8.1f ms  release ${(t4 - t3) / 1e6}%6.1f ms")
    OpRun(id, pass, traced, name, "driver", t0, t1, t2, t3, t4,
      verdict.isRight, verdict.left.toOption, cg, execs)
  }
}

object BatchRunner {
  def collect(df: DataFrame): Array[Row] = try df.collect() finally CacheRegistry.releaseAll()
}
