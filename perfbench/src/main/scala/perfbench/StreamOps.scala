package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sources.{FileSupplier, OpLogCodec}
import graft.streaming.Op

/** The ops lane: a generator thread appends `graft-oplog` lines on a fixed
  * schedule (each line's tsMs is its scheduled creation time) and the
  * pipeline reads them through the `graft-oplog` source with TRID routing,
  * a 1 s trigger and no catalog or validation. */
final class OpsLane(seed: Long, txnPerSec: Int, cores: Int) {
  private val tables = Seq("accounts", "orders", "items")
  private var prepared = 0
  private var gen: CdcGen = _
  private var log: String = _
  private var t0 = 0L
  @volatile private var stop = false
  @volatile private var late = 0.0
  private var thread: Thread = _
  private var digest: Cells.DigestBuilder = _
  private val stamps = scala.collection.mutable.HashMap.empty[Long, Long]

  def lateMs: Double = late

  def prepare(dir: String, t0Ms: Long): Unit = {
    prepared += 1
    gen = new CdcGen(seed * 1000003L + prepared, tables, 20000, s"ops$prepared")
    log = s"$dir/oplog"
    new java.io.File(log).createNewFile()
    t0 = t0Ms
    late = 0.0
    digest = new Cells.DigestBuilder
    stamps.synchronized(stamps.clear())
  }

  def startGenerator(): Unit = {
    stop = false
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(log, true), "UTF-8"), 1 << 16)
    thread = new Thread(() => {
      try {
        var i = 0L
        while (!stop) {
          val now = System.currentTimeMillis()
          var first = -1L
          var due = t0 + i * 1000L / txnPerSec
          while (due <= now) {
            if (first < 0) first = due
            val ops = gen.next(due)
            ops.foreach { o =>
              out.write(OpLogCodec.encode(o.kind, o.txnId, o.xxid, o.eventId, o.tsMs,
                o.table, o.rowKey, o.before, o.after))
              out.write('\n')
            }
            val rows = ops.filter(o => o.kind != "BEGIN" && o.kind != "COMMIT")
            rows.foreach(o => digest.add(Cells.cellsOf(o.kind, o.txnId, o.table, o.rowKey, o.before, o.after)))
            stamps.synchronized(stamps(due) = stamps.getOrElse(due, 0L) + rows.size)
            i += 1
            due = t0 + i * 1000L / txnPerSec
          }
          out.flush()
          if (first >= 0) late = math.max(late, (System.currentTimeMillis() - first).toDouble)
          Thread.sleep(2)
        }
      } finally out.close()
    }, "perfbench-ops-generator")
    thread.setDaemon(true)
    thread.start()
  }

  def stopGenerator(): Unit = if (thread != null) {
    stop = true
    thread.join()
    thread = null
  }

  def config(dir: String): PipelineConfig =
    PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitioner = "TRID", partitions = cores,
      triggerMs = 1000L)

  def startQuery(spark: SparkSession, dir: String): StreamingQuery = {
    import spark.implicits._
    val ops = spark.readStream.format("graft-oplog").option("path", log).load().as[Op]
    ReplicatorPipeline.start(ops, config(dir))
  }

  /** The digest of every cell the log implies, and the row events created
    * at each stamp (the drain reads the whole log). */
  def summary: (Cells.Digest, Map[Long, Long]) = (digest.result, stamps.synchronized(stamps.toMap))

  /** Live rows once the generator has stopped. */
  def liveRows: Cells.Rows = gen.liveRows

  /** The log parsed by the benchmark itself (tab-separated fields, `k=v&…`
    * maps; generated names and values need no URL decoding). */
  def expected(spark: SparkSession): DataFrame = {
    def m(c: org.apache.spark.sql.Column) =
      when(c === "", map().cast("map<string,string>")).otherwise(str_to_map(c, lit("&"), lit("=")))
    val f = split(col("value"), "\t", -1)
    Cells.expectedCells(spark.read.text(log).select(
      f(0).as("kind"), f(1).as("txnId"), f(5).as("table"),
      f(6).as("rowKey"), m(f(7)).as("before"), m(f(8)).as("after")))
  }

  /** Source-layer costs as a function of log position: one frontier count
    * over the whole log and the read of each steady batch's line range,
    * replayed after the run through the supplier binding. */
  def sourceMetrics(ctx: Ctx, steady: Seq[Progress]): Unit = {
    val t = ctx.tracer
    val frontier = t.span("sources.frontier") { FileSupplier.frontier(log) }
    ctx.result.metric("sources.frontier_ms",
      t.allSpans.filter(_.name == "sources.frontier").last.seconds * 1000)
    ctx.result.metric("sources.log_lines", frontier.toDouble)
    val ends = steady.map(_.endOffset.trim.toLong)
    val reads = ends.zip(ends.tail).map { case (s, e) =>
      val t0 = System.nanoTime()
      val it = FileSupplier.read(log, s, e)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      (System.nanoTime() - t0) / 1e6
    }
    ctx.result.metric("sources.read_ms", Ctx.median(reads))
  }
}

object StreamOps {
  /** Offered load: transactions per second (≈ 2.5 row events each). */
  val TxnPerSec = 200

  /** The single-core baseline of traced runs: offered load, and a shorter
    * schedule with one restart. */
  val BaselineTxnPerSec = 100
  val BaselineSeconds = 12

  def run(ctx: Ctx): Unit = {
    val spark = Setup.session(ctx)
    val lane = new OpsLane(ctx.args.seed, TxnPerSec, ctx.args.cores)
    Ctx.rmrf(StreamRun.setup(ctx, spark, lane))
    Setup.done(ctx)
    StreamRun.run(ctx, spark, lane, "stream_ops")
    if (ctx.tracer.enabled) singleCore(ctx, spark)
  }

  /** The same traced run at local[1] and a lower rate, reported per layer
    * as `scaling.*`: which layers' per-event cost falls with cores. */
  private def singleCore(ctx: Ctx, spark: SparkSession): Unit = {
    spark.stop()
    val sub = new Ctx(ctx.args.copy(cores = 1, seconds = BaselineSeconds, work = ctx.dir("c1")),
      ctx.result.sub)
    val s1 = Main.session(1, sub.args.work)
    sub.tracer.install(s1)
    val lane = new OpsLane(ctx.args.seed, BaselineTxnPerSec, 1)
    Ctx.rmrf(StreamRun.setup(sub, s1, lane))
    StreamRun.run(sub, s1, lane, "stream_ops_c1", cycles = 1)
    val m = sub.result
    val events = m.get("pipeline.rows_per_batch").getOrElse(0.0)
    val cN = ctx.result
    def perEvent(r: Result, k: String) =
      r.get(k).getOrElse(0.0) * 1000 / math.max(1.0, r.get("pipeline.rows_per_batch").getOrElse(1.0))
    Seq("pipeline.add_batch_ms" -> "add_batch", "sink.write_ms" -> "sink_write",
      "checkpoint.state_commit_ms" -> "state_commit", "assembler_state.update_ms" -> "assembler_update")
      .foreach { case (k, name) =>
        cN.metric(s"scaling.$name.c1_us_per_row", perEvent(m, k))
        cN.metric(s"scaling.$name.cN_us_per_row", perEvent(cN, k))
      }
    cN.metric("scaling.c1.latency_p50_ms", m.get("latency_p50_ms").getOrElse(0.0))
    cN.metric("scaling.c1.rows_per_batch", events)
    s1.stop()
  }
}
