package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The open-loop schedule of the stream workload, over `seconds`:
  *
  *   start ─ warm-in ─┬ steady window ┬ settle ┬ stop ─ down ─ restart ─ tail ┬ ×Restarts ┬ drain
  *                    └─ lag measured ┘        └──────── catch-up ───────────┘           └ generator stops
  *
  * Each restart is on the same checkpoint while the generator keeps going,
  * so the restarted query replays the downtime's backlog. Events created in
  * the settle gap are not measured: the planned stop would cut their batch. */
object StreamRun {

  val WarmMs = 1000L
  val SettleMs = 1500L
  val DownMs = 1000L
  val TailMs = 2000L
  /** Stop/restart cycles per run; `replay_eps` is their median. */
  val Restarts = 2
  /** The reference's safe-checkpoint period: the lag an event may have. */
  val EnvelopeMs = 5000L

  private def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  /** Stream set-up: a short run of the same lane on its own input and one
    * read of its sink, so codegen, JIT, the state store and the read path
    * are warm before measurement. Returns the run's directory. */
  def setup(ctx: Ctx, spark: SparkSession, lane: OpsLane): String = {
    val dir = ctx.dir("setup")
    lane.prepare(dir, System.currentTimeMillis())
    val q = lane.startQuery(spark, dir)
    lane.startGenerator()
    try {
      Thread.sleep(500)
      lane.stopGenerator()
      q.processAllAvailable()
    } finally { lane.stopGenerator(); q.stop() }
    Reads.digest(graft.streaming.TimeMachineSink.latestRows(spark, s"$dir/sink"))
    dir
  }

  def run(ctx: Ctx, spark: SparkSession, lane: OpsLane, label: String, cycles: Int = Restarts): Unit = {
    val t = ctx.tracer
    val r = ctx.result
    val dir = ctx.dir(s"run-$label")
    // start on a whole second so the trigger grid and the generator's
    // schedule keep the same phase from run to run
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000
    val cycleMs = DownMs + TailMs
    val firstStop = t0 + ctx.args.seconds * 1000L - cycles * cycleMs
    val steady0 = t0 + WarmMs
    val steady1 = firstStop - SettleMs
    require(steady1 - steady0 >= 2000, "--seconds leaves no steady window")
    lane.prepare(dir, t0)
    sleepUntil(t0)
    var q: StreamingQuery = t.span("stream.start") { lane.startQuery(spark, dir) }
    lane.startGenerator()
    val runs = scala.collection.mutable.ArrayBuffer(q.runId.toString)
    val stops = scala.collection.mutable.ArrayBuffer.empty[Long]
    val restarts = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until cycles).foreach { k =>
      val stopAt = firstStop + k * cycleMs
      sleepUntil(stopAt)
      // stop just after a batch commits, so the stop cuts the same amount
      // of work from run to run
      val id = q.runId.toString
      while (!t.progresses.exists(p => p.runId == id && p.endMs >= stopAt) &&
        System.currentTimeMillis() < stopAt + 10000) Thread.sleep(5)
      t.span("stream.stop") { q.stop() }
      stops += System.currentTimeMillis()
      q.exception.foreach(e => r.check(s"$label: query terminated: ${e.getMessage}", 1, 1))
      sleepUntil(stops.last + DownMs)
      restarts += System.currentTimeMillis()
      q = t.span("stream.restart") { lane.startQuery(spark, dir) }
      runs += q.runId.toString
    }
    sleepUntil(restarts.last + TailMs)
    lane.stopGenerator()
    t.span("stream.drain") {
      try q.processAllAvailable()
      catch { case e: Exception => r.check(s"$label: drain failed: ${e.getMessage}", 1, 1) }
      q.stop()
    }
    q.exception.foreach(e => r.check(s"$label: restarted query terminated: ${e.getMessage}", 1, 1))
    Thread.sleep(200) // let the listener bus deliver the last progress events

    val run1 = runs.head
    // the final word on each batch id: a batch a stop interrupted is re-run
    // and reported by the next query
    val byBatch = t.progresses.filter(x => runs.contains(x.runId))
      .groupBy(_.batchId).map { case (b, ps) => b -> ps.maxBy(_.startMs) }

    // outputs: every generated cell in the sink exactly once
    val sink = s"$dir/sink"
    val (want, stamps) = lane.summary
    val (got, committed) = t.span("check.sink") { Cells.scanSink(spark, sink) }
    val events = stamps.values.sum
    val bad = if (got == want) 0L else t.span("check.audit") {
      System.err.println(s"[perfbench] $label: sink digest $got, expected $want")
      math.max(1L, Cells.audit(spark, lane.expected(spark), sink))
    }
    r.check(s"$label: row events in the sink exactly once", events, bad)

    // lag of each steady-window event: commit of its batch − its creation
    val lags = scala.collection.mutable.ArrayBuffer.empty[Double]
    val early = scala.collection.mutable.HashMap.empty[Long, Long]
    var inTime = 0L
    committed.foreach { case (ts, batch, n) =>
      if (ts >= steady0 && ts < steady1) byBatch.get(batch).filter(_.runId == run1).foreach { b =>
        val lag = (b.endMs - ts).toDouble
        if (lag <= EnvelopeMs) inTime += n
        (0L until n).foreach(_ => lags += lag)
        early(ts) = early.getOrElse(ts, 0L) + n
      }
    }
    // an event the first query did not commit before the planned stop has
    // a lag of at least stop − creation
    val window = stamps.filter { case (ts, _) => ts >= steady0 && ts < steady1 }
    window.foreach { case (ts, n) =>
      (0L until n - early.getOrElse(ts, 0L)).foreach(_ => lags += (stops.head - ts).toDouble)
    }
    val total = window.values.sum
    r.check(s"$label: steady-window events generated", 1, if (total > 0) 0 else 1)
    r.metric("latency_p50_ms", Ctx.quantile(lags.toSeq, 0.5))
    r.metric("latency_p95_ms", Ctx.quantile(lags.toSeq, 0.95))
    r.metric("lag_miss_frac", if (total == 0) 1.0 else (total - inTime).toDouble / total)
    r.metric("lag.events", total.toDouble)

    // catch-up of each restart: its backlog is every event created before
    // it that the restarted query committed
    val catchups = restarts.indices.flatMap { k =>
      val run = runs(k + 1)
      var backlog = 0L
      var clearedMs = restarts(k)
      committed.foreach { case (ts, batch, n) =>
        byBatch.get(batch).filter(_.runId == run).foreach { b =>
          if (ts < restarts(k)) { backlog += n; clearedMs = math.max(clearedMs, b.endMs) }
        }
      }
      val first = byBatch.values.filter(_.runId == run)
      if (backlog == 0 || first.isEmpty) None
      else Some((backlog / math.max(1e-3, (clearedMs - restarts(k)) / 1000.0), backlog.toDouble,
        (first.minBy(_.batchId).endMs - restarts(k)) / 1000.0))
    }
    r.check(s"$label: every restart replayed a backlog", restarts.size, restarts.size - catchups.size)
    r.metric("replay_eps", Ctx.median(catchups.map(_._1)))
    r.metric("catchup.backlog_events", Ctx.median(catchups.map(_._2)))
    r.metric("checkpoint.restore_s", Ctx.median(catchups.map(_._3)))
    r.metric("gen.late_ms", lane.lateMs)
    // a generator that fell behind its schedule invalidates the run
    r.check(s"$label: generator kept its schedule", 1, if (lane.lateMs <= 1000) 0 else 1)

    val steady = byBatch.values.toSeq.filter(b => b.runId == run1 && b.startMs >= steady0)
      .sortBy(_.batchId)
    r.metric("lag.batches", steady.size.toDouble)
    // backlog at each steady batch start: events created − events committed
    val created = stamps.toSeq.sortBy(_._1)
    val done = committed.flatMap(x => byBatch.get(x._2).map(b => (b.endMs, x._3))).sortBy(_._1)
    def upTo(xs: Seq[(Long, Long)], t: Long) = xs.iterator.takeWhile(_._1 <= t).map(_._2).sum
    r.metric("sources.backlog_events",
      steady.map(b => (upTo(created, b.startMs) - upTo(done, b.startMs)).toDouble).foldLeft(0.0)(math.max))

    StreamLayers.record(ctx, steady, run1, events, dir)
    if (ctx.tracer.enabled) lane.sourceMetrics(ctx, steady)

    // a reader of the sink the stream just wrote: the "now" view must
    // equal the generator's final state
    val now = Reads.streamRead(ctx, spark, sink, label)
    r.check(s"$label: latest rows = generator state", 1,
      if (now == Reads.digest(Reads.rowsDf(spark, lane.liveRows))) 0 else 1)
    Ctx.rmrf(dir)
  }
}
