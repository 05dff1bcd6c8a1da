package org.apache.spark.perfbench

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.{col, lit, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{KeyedEvent, Replay, StateMachines}

/** Open-loop streaming workload: the reference apps as `graft.streaming`
  * state machines in one streaming query (a union of the four machines'
  * outputs over one source, so every micro-batch advances all four), fed
  * by ONE generator thread that pushes seeded [[KeyedEvent]]s into an
  * in-process memory stream on a fixed schedule (it never waits for the
  * engine), stamping each 10 ms chunk with the time it was due.
  *
  * Phases:
  *   - set-up starts the query and runs a warm batch through it;
  *   - the live query then takes a ladder of fixed offered rates, lowest
  *     first; the lowest is below saturation and gives the latency
  *     figures;
  *   - then a closed-loop drain: [[DrainBatches]] backlogs of
  *     [[DrainEvents]] events, each queued once the previous is committed;
  *   - a sentinel flush closes every window and timer, and each machine's
  *     output is checked against graft.streaming.Replay.
  *
  * Latency of an event = commit time of the micro-batch that consumed it
  * minus the time it was due at the generator. */
object StreamWorkload {

  val DrainEvents = 4000
  val DrainBatches = 2
  val WarmEvents = 2000
  val TickMs = 10
  /** Above the generator's out-of-order bound (gen.py STREAM_OOO_MAX_S),
    * so no event is dropped as late. */
  val WatermarkDelay = "10 seconds"

  final case class App(name: String, kinds: Set[String], build: Dataset[KeyedEvent] => DataFrame)

  val Apps = Seq(
    App("hot_items", Set("pv"), ds =>
      StateMachines.windowTopN(ds, sizeUs = 3600000000L, slideUs = 300000000L, n = 5,
        watermarkDelay = WatermarkDelay).toDF()),
    App("ad_blacklist", Set("click"), ds =>
      StateMachines.dailyThreshold(ds, "click", threshold = 20L, WatermarkDelay).toDF()),
    App("order_timeout", Set("create", "pay"), ds =>
      StateMachines.matchWithTimeout(ds, "create", "pay", timeoutSec = 900L, WatermarkDelay).toDF()),
    App("reconcile", Set("pay", "receipt"), ds =>
      StateMachines.reconcile(ds, "pay", "receipt", toleranceSec = 120L, WatermarkDelay).toDF()))

  /** One app's output rows as (app, JSON row): the four machines emit
    * different shapes, and the union needs one. */
  private def tagged(app: App, ds: Dataset[KeyedEvent]): DataFrame = {
    val in = ds.filter(col("kind").isin((app.kinds + Replay.Sentinel).toSeq: _*))
    val outDf = app.build(in)
    outDf.select(lit(app.name).as("app"), to_json(struct(outDf.columns.map(col).toIndexedSeq: _*)).as("row"))
  }

  private val streamIds = new java.util.concurrent.atomic.AtomicInteger(1000)

  /** A chunk pushed to the stream: its offset, its size, and when it was
    * due / actually pushed (epoch ms). */
  final case class Pushed(offset: Long, n: Int, dueMs: Long, pushMs: Long)

  /** The workload's query on its own memory stream. The stream spreads
    * each micro-batch's rows over `cores` input partitions; by default it
    * would make one task per pushed chunk. */
  final class Running(spark: SparkSession, out: String, val sink: String, cores: Int) {
    val stream: MemoryStream[KeyedEvent] = {
      import spark.implicits._
      MemoryStream[KeyedEvent](streamIds.incrementAndGet(), spark, Some(cores))
    }
    val pushed = mutable.ArrayBuffer[Pushed]()
    var query: StreamingQuery = _
    /** Seconds spent constructing the machines' DataFrames (layer `entry`). */
    var buildS = 0.0

    def start(): Unit = {
      spark.sparkContext.setLocalProperty(LayerListener.TagKey, "streaming")
      val (df, s) = Probes.timed(pipeline(stream.toDS()))
      buildS = s
      query = df.writeStream
        .format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", s"$out/ckpt/$sink")
        .start()
    }

    def push(events: Seq[KeyedEvent], dueMs: Long): Unit =
      if (events.nonEmpty) {
        val off = stream.addData(events).asInstanceOf[LongOffset].offset
        pushed += Pushed(off, events.size, dueMs, System.currentTimeMillis())
      }

    def await(): Unit = query.processAllAvailable()

    def stop(): Unit = if (query != null) query.stop()
  }

  private def sentinel(j: Int): KeyedEvent =
    KeyedEvent(Replay.Sentinel, new Timestamp(4102444800000L + j * 1000L), Replay.Sentinel, s"s$j")

  /** Fire every timer and close every window: two sentinel batches (a
    * watermark takes effect one batch late), as graft.streaming.Replay. */
  private def flush(r: Running): Unit =
    for (j <- 0 until 2) {
      r.stream.addData(Seq(sentinel(j)))
      r.await()
    }

  /** Open loop at `rate` events/s for `seconds`, starting at
    * `events(from)`: the calling thread is the generator. Returns the
    * index after the last event pushed and each chunk's lateness against
    * its schedule (ms). */
  def openLoop(r: Running, events: Array[KeyedEvent], from: Int, rate: Int,
      seconds: Double): (Int, Seq[Long]) = {
    val ticks = (seconds * 1000 / TickMs).toInt
    val lag = mutable.ArrayBuffer[Long]()
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis()
    var sent = from
    for (k <- 0 until ticks) {
      val dueNs = startNs + k.toLong * TickMs * 1000000L
      val waitNs = dueNs - System.nanoTime()
      if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
      val hi = math.min(events.length, from + ((k + 1).toLong * TickMs * rate / 1000).toInt)
      val dueMs = startMs + k.toLong * TickMs
      r.push(events.slice(sent, hi).toSeq, dueMs)
      lag += System.currentTimeMillis() - dueMs
      sent = hi
    }
    (sent, lag.toSeq)
  }

  /** Progress events of the query, in batch order. */
  private def progressOf(pl: ProgressListener, q: StreamingQuery): Seq[StreamingQueryProgress] =
    pl.events.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId)

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)

  /** Latency (ms) of each chunk due in [fromMs, toMs). */
  def latencies(prog: Seq[StreamingQueryProgress], r: Running, fromMs: Long, toMs: Long): Seq[Long] = {
    val withData = prog.filter(_.numInputRows > 0)
    r.pushed.toSeq.filter(c => c.dueMs >= fromMs && c.dueMs < toMs).flatMap { c =>
      withData.find(p => endOffset(p) >= c.offset).map(p => endMs(p) - c.dueMs)
    }
  }

  /** Backlog (events pushed but not yet committed) at each commit. */
  def backlog(prog: Seq[StreamingQueryProgress], r: Running): Seq[(Long, Long)] =
    prog.map { p =>
      val (t, done) = (endMs(p), endOffset(p))
      (t, r.pushed.filter(c => c.pushMs <= t && c.offset > done).map(_.n.toLong).sum)
    }

  def run(dir: String, out: String, seconds: Double, trace: Boolean, cores: Int, reps: Int,
      rates: Seq[Int]): Map[String, Any] = {
    var sinks = 0
    def sink(): String = { sinks += 1; s"perfbench_stream_$sinks" }
    val pl = new ProgressListener
    val errors = mutable.ArrayBuffer[String]()
    def fail(what: String, e: Exception): Unit =
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    var events: Array[KeyedEvent] = null
    var live: Running = null

    // set-up: session, the query started, and a warm batch through it; the
    // last set-up's query stays live for the rate ladder
    val (spark, setupS) = PerfBench.setup(cores, out, reps, () => live.stop()) { s =>
      s.streams.addListener(pl)
      if (events == null) {
        import s.implicits._
        events = s.read.parquet(s"$dir/stream_events.parquet").orderBy("seq")
          .select("key", "ts", "kind", "id").as[KeyedEvent].collect()
      }
      live = new Running(s, out, sink(), cores)
      live.start()
      live.push(events.take(WarmEvents).toSeq, System.currentTimeMillis())
      live.await()
    }
    val sc = spark.sparkContext
    val layer = if (trace) Some(new LayerListener) else None
    layer.foreach(sc.addSparkListener)
    val tr = new Tracer(trace)

    // ---- open-loop rate ladder on the live query, lowest rate first; the
    // lowest (latency) rate gets 60 % of the time ----
    val phaseS = rates.indices.map(i => if (i == 0) seconds * 0.6 else seconds * 0.4 / (rates.size - 1))
    var next = WarmEvents
    val ladder = mutable.ArrayBuffer[Map[String, Any]]()
    var drain = Map[String, Any]("error" -> true)
    var check = Map.empty[String, Any]
    var progress = Seq.empty[StreamingQueryProgress]
    var layers = Map.empty[String, Any]
    try {
      for ((rate, phase) <- rates.zip(phaseS)) {
        val t0 = System.currentTimeMillis()
        val (sent, lag) = tr.span(s"rate:$rate", "bench")(openLoop(live, events, next, rate, phase))
        ladder += Map("rate" -> rate, "events" -> (sent - next), "t0_ms" -> t0,
          "stop_ms" -> System.currentTimeMillis(), "generator_lag_ms" -> lag)
        next = sent
      }
      live.await()

      // ---- closed-loop drain: each backlog is queued once the previous
      // one is committed ----
      val t0 = System.nanoTime()
      tr.span("drain", "bench") {
        for (_ <- 0 until DrainBatches) {
          val hi = math.min(events.length, next + DrainEvents)
          live.push(events.slice(next, hi).toSeq, System.currentTimeMillis())
          next = hi
          live.await()
        }
      }
      drain = Map("events" -> DrainBatches * DrainEvents, "s" -> (System.nanoTime() - t0) / 1e9)

      // the live query's jobs only: the correctness replay below is untimed
      layers = layer.map(l => l.take(sc, "streaming").toMap).getOrElse(Map.empty)
      progress = progressOf(pl, live.query)
      ladder.mapInPlace { ph =>
        val (t0, t1) = (ph("t0_ms").asInstanceOf[Long], ph("stop_ms").asInstanceOf[Long])
        ph ++ Map(
          "latency" -> latencies(progress, live, t0, t1),
          "backlog" -> backlog(progress, live).filter(b => b._1 >= t0 && b._1 < t1)
            .map { case (t, b) => Seq(t - t0, b) })
      }
      flush(live)
      check = correctness(spark, dir, live, next)
    } catch { case e: Exception => fail("stream", e) }
    if (trace) progress.foreach { p =>
      tr.recordWall(s"batch:${p.batchId}", "streaming", Instant.parse(p.timestamp).toEpochMilli, endMs(p))
    }
    live.stop()
    // the same single-layer probes as the batch workloads' traced passes
    val probes =
      if (!trace) Map.empty[String, Any]
      else {
        val (scanRows, scanS) = Probes.timed(tr.span("io.scan", "io") {
          spark.read.parquet(s"$dir/stream_events.parquet").queryExecution.toRdd.count()
        })
        Map("build_s" -> live.buildS, "scan_s" -> scanS, "scan_rows" -> scanRows,
          "expr" -> Probes.ngram(spark, tr, dir))
      }

    if (trace) Trace.keep(tr)
    spark.stop()
    Map("setup_s" -> setupS, "ladder" -> ladder.toSeq, "check" -> check, "drain" -> drain,
      "progress" -> progress.map(progressRecord), "layers" -> layers, "probes" -> probes,
      "errors" -> errors.toSeq, "attempted" -> 1)
  }

  private def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    Map("batch" -> p.batchId, "rows" -> p.numInputRows, "end_ms" -> endMs(p),
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L), "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "plan_ms" -> d.getOrElse("queryPlanning", 0L), "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "late_rows" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  /** The four machines over one source, as the live query runs them. */
  private def pipeline(ds: Dataset[KeyedEvent]): DataFrame = Apps.map(tagged(_, ds)).reduce(_ unionByName _)

  /** Each machine's final output (after the sentinel flush) against
    * graft.streaming.Replay of the same pipeline over the same events in
    * event-time order. Untimed. */
  private def correctness(spark: SparkSession, dir: String, r: Running, sent: Int): Map[String, Any] = {
    def byApp(df: DataFrame): Map[String, Seq[String]] =
      df.collect().groupBy(_.getString(0)).map { case (app, rows) => app -> rows.map(_.getString(1)).sorted.toSeq }
    val got = byApp(spark.table(r.sink))
    val prepared = Replay.prepareKeyed(
      spark.read.parquet(s"$dir/stream_events.parquet").filter(col("seq") < sent).select("key", "ts", "kind", "id"),
      nChunks = 1)
    val want = try byApp(prepared.replay(pipeline)) finally prepared.close()
    Apps.map { app =>
      val (g, w) = (got.getOrElse(app.name, Seq.empty), want.getOrElse(app.name, Seq.empty))
      app.name -> Map("rows" -> g.size, "want_rows" -> w.size, "match" -> (g == w))
    }.toMap
  }
}
