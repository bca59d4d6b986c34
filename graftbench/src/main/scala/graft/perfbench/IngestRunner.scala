package graft.perfbench

import graft.{CacheRegistry, Tables}
import graft.operators.{IndexUtil, TextOps}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The ingest workload. Each pass rebuilds generation 0 of the
  * postings index from 90% of the documents, then streams the other
  * 10% through `compactingIndexStream` (bucketed append, compaction
  * every `compactEvery` batches with the fingerprint-verified
  * generation swap, refresh of the standing queries) and all events
  * through `sessionizeStateful` (keyed state). One micro-batch is in
  * flight at a time; one op is a step that feeds each stream its next
  * batch and waits for it. At the end of a pass both streams'
  * answers are checked against the batch queries StreamingSpec gates
  * them on. */
final class IngestRunner(ctx: Ctx, batches: Int, compactEvery: Int) {
  import ctx.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // Watermark delay longer than the events' whole span: no session is
  // sealed before the sentinels at the end of a pass, so session
  // ordinals match the batch query under any split.
  private val delay = "36500 days"

  private val delta: Seq[(Long, String)] = Tables.documents(spark, ctx.dataDir)
    .filter($"doc_id" % 10 === 0).select($"doc_id", $"text").as[(Long, String)]
    .collect().toSeq.sortBy(_._1)
  private val events: Seq[Ev] = Tables.events(spark, ctx.dataDir)
    .select($"event_id", $"ts", $"user_id", $"value").as[Ev]
    .collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
  require(delta.size >= batches && events.size >= batches,
    s"need at least $batches documents and events to split into $batches batches")

  type Hit = Seq[Any]
  private def rowsOf(df: DataFrame): Seq[Hit] = df.collect().toSeq.map(_.toSeq)
  private def sorted(hits: Seq[Hit]): Seq[String] = hits.map(_.mkString("\u0001")).sorted

  /** The batch answers, each checked against its stored fingerprint. */
  private lazy val truth: (Seq[String], Map[(Long, Long), Row]) = {
    val Seq(hits, sessions) = Workloads.ingestTruth.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, ctx.dataDir)
      val rows = BatchRunner.collect(df)
      val got = (Fingerprint.render _).tupled(
        Fingerprint.ofRows(rows.iterator, Fingerprint.columns(df.columns.toSeq)))
      if (!ctx.expected.get(n).contains(got))
        throw new IllegalStateException(s"batch answer $n is wrong: fingerprint $got")
      rows
    }
    (sorted(hits.toSeq.map(_.toSeq)), sessions.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap)
  }

  /** Split `xs` into `batches` non-empty runs at cut points drawn from `rng`. */
  private def split[T](xs: Seq[T], rng: scala.util.Random): Seq[Seq[T]] = {
    val cuts = rng.shuffle((1 until xs.size).toVector).take(batches - 1).sorted
    val bounds = 0 +: cuts :+ xs.size
    bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
  }

  def prepare(): Unit = truth

  def pass(pass: Int, rng: scala.util.Random, measured: Boolean, traced: Boolean): PassRun = {
    val tag = s"p$pass"
    val (base, baseN) = TextOps.searchCompactStreamTable(spark, ctx.dataDir, tag)
    val indexBytes0 = liveIndexBytes(base)
    val docBatches = split(rng.shuffle(delta), rng)
    val evBatches = split(events, rng).map(rng.shuffle(_))

    @volatile var lastHits: Seq[Hit] = Nil
    val docsIn = MemoryStream[(Long, String)]
    val evIn = MemoryStream[Ev]
    val sink = s"graftbench_sessions_$tag"
    val c0 = Clock.now()
    val streams: Seq[(String, StreamingQuery, Seq[() => Unit])] = Seq(
      ("compacting", StreamingOps.compactingIndexStream(docsIn.toDF().toDF("doc_id", "text"),
        base, baseN, compactEvery, res => lastHits = rowsOf(res)),
        docBatches.map(b => () => { docsIn.addData(b); () })),
      ("sessionize", StreamingOps.sessionizeStateful(
        evIn.toDS().withWatermark("ts", delay).as[Ev])
        .writeStream.format("memory").queryName(sink).outputMode("append").start(),
        evBatches.map(b => () => { evIn.addData(b); () })))
    val constructNs = Clock.now() - c0
    var seen = Map.empty[String, Long].withDefaultValue(-1L)
    val runs = (0 until batches).map { i =>
      val id = ctx.newOpId()
      val cg0 = if (traced) ctx.codegenCompiles else 0L
      val t0 = Clock.now()
      val r = try { streams.foreach { case (_, q, feeds) => feeds(i)(); q.processAllAvailable() }; None }
      catch { case e: Throwable => Some(Main.describe(e)) }
      val t2 = Clock.now()
      System.err.println(f"[graftbench] pass $pass step $i ${(t2 - t0) / 1e6}%8.1f ms")
      val cg = if (traced) ctx.codegenCompiles - cg0 else 0L
      val progress = streams.flatMap { case (name, q, _) =>
        val ps = q.recentProgress.toSeq.filter(_.batchId > seen(name)).map(progressOf(name, _))
        ps.lastOption.foreach(p => seen += name -> p.batchId)
        ps
      }
      val execs = if (traced) { ctx.flush(); ctx.recorder.drainExecs() } else Nil
      val files = if (traced) IndexUtil.dataFileCount(spark, liveGeneration(base)) else 0L
      OpRun(id, pass, traced, "ingest_step", "streaming", t0, t0, t2, t2, t2,
        r.isEmpty, r, cg, execs, progress, files)
    }
    // Two sentinel batches far past the last event move the watermark
    // and then seal every open session.
    val sentinelTs = new Timestamp(events.last.ts.getTime + 36501L * 86400000L)
    val verdict = try {
      Seq(-1L, -2L).foreach { id =>
        evIn.addData(Seq(Ev(id, sentinelTs, -1L, 0.0))); streams(1)._2.processAllAvailable()
      }
      check(lastHits, spark.table(sink).filter($"user_id" >= 0).collect())
    } catch { case e: Throwable => Some(Main.describe(e)) }
    finally streams.foreach(_._2.stop())
    verdict.foreach(e => System.err.println(s"[graftbench] ingest pass $pass failed: $e"))
    val marked = if (verdict.isEmpty) runs else runs.map(_.copy(ok = false, error = verdict))
    val growth = liveIndexBytes(base) - indexBytes0
    val r0 = Clock.now()
    CacheRegistry.releaseAll()
    val releaseNs = Clock.now() - r0
    val compactIds = (0 until batches).filter(b => (b + 1) % compactEvery == 0).map(_.toLong).toSet
    if (measured) {
      ctx.ops ++= marked
      ctx.ingestPasses += IngestPass(pass, traced, batches, delta.size.toLong + events.size,
        delta.map(_._2.getBytes("UTF-8").length.toLong).sum, growth,
        IndexUtil.dataFileCount(spark, liveGeneration(base)), compactIds,
        constructNs, releaseNs)
    }
    IndexUtil.dropIndexTable(spark, liveGeneration(base))
    spark.sql(s"DROP VIEW IF EXISTS $sink")
    val p = PassRun(pass, traced, marked.map(_.latencyNs).sum)
    if (measured) ctx.passes += p
    p
  }

  private def check(hits: Seq[Hit], sessions: Array[Row]): Option[String] = {
    val (wantHits, wantSessions) = truth
    val got = sessions.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    def sameSession(a: Row, b: Row): Boolean =
      a.getLong(2) == b.getLong(2) && a.get(3) == b.get(3) && a.get(4) == b.get(4) &&
        math.abs(math.round(a.getDouble(5) * 100) / 100.0 - b.getDouble(5)) < 0.011
    if (sorted(hits) != wantHits) Some("final index refresh differs from text_search_index_delta")
    else if (got.keySet != wantSessions.keySet ||
      !got.forall { case (k, r) => sameSession(r, wantSessions(k)) })
      Some("streamed sessions differ from ev_sessionize")
    else None
  }

  private def progressOf(stream: String, p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Progress = {
    val start = java.time.Instant.parse(p.timestamp)
    val state = p.stateOperators.toSeq
    Progress(stream, p.batchId, start.getEpochSecond * 1000000000L + start.getNano,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum)
  }

  private def liveGeneration(base: String): String = {
    val gens = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${base}_g")).flatMap(_.stripPrefix(s"${base}_g").toLongOption)
    s"${base}_g${if (gens.isEmpty) 0L else gens.max}"
  }

  private def liveIndexBytes(base: String): Long = {
    val dir = java.nio.file.Paths.get(ctx.warehouse, liveGeneration(base))
    if (!java.nio.file.Files.isDirectory(dir)) 0L
    else java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(java.nio.file.Files.size).sum
  }
}
