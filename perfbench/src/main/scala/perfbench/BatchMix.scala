package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.augment.SchemaCatalog
import graft.model.{RawEvent, RawEventType => RT, RowImage}
import graft.operators.{Cdc, RawBinlogAdapter}
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sources.OpSource
import graft.streaming.Op

/** Closed loop, one client.
  *
  * Set-up writes a seeded change log twice, as the same binlog: as raw
  * binlog events of one source server (GTID → TABLE_MAP/rows events → XID
  * per transaction, ALTER TABLE … ADD COLUMN blocks, and one table the
  * filter excludes) and as the ops those events normalize to. It streams
  * the ops into a sink over several micro-batches (`OpSource.parquetStream`,
  * one file per trigger), so readers see the stream path's batch_id/table
  * layout.
  *
  * Each pass then
  *  (a) backfills the raw events with `RawBinlogAdapter.toOps` and
  *      `runBatch` — schema catalog, versioned decode, schema history, Avro
  *      registry, validation sampling — into a fresh directory; its cells
  *      must equal the streamed sink's,
  *  (b) runs the time-travel read set over the streamed sink.
  * A run makes [[passes]] passes (two at `--seconds 16`); metrics are
  * medians over passes.
  *
  * Traced runs also run the pinned `SparkEntry.queries` slice once, each
  * query cold, on generated library tables, and stream the raw events
  * through the supplier state machine (`RawBinlogAdapter.toOpsStreaming`)
  * with the same catalog configuration, for that layer's and the augment
  * layer's metrics. */
object BatchMix {
  val Txns = 480
  val Files = 3
  val Tables = Seq("accounts", "orders", "items", "audit_log")
  val Replicated = Tables.filterNot(_.startsWith("audit_"))
  val ExcludePattern = "audit_.*"
  val DdlEvery = 240
  val Base = 1700000000000L
  val StepMs = 10L
  val Attrs = Seq("qty", "name", "score")
  /** `rowsAsOf` cuts per pass, evenly spaced over the change log: the
    * calls `latency_p50_ms`/`latency_p95_ms` are taken over. */
  val Cuts = 4
  val Creates: Seq[String] = Replicated.map(t =>
    s"CREATE TABLE $t (id INT PRIMARY KEY, qty INT, name VARCHAR(32), score INT)")
  /** Event ordinal of binlog file bin.000001 (file sequence × 2^40 + position). */
  val FileBase: Long = 1L << 40

  final case class Fixture(dir: String, opsDir: String, rawDir: String, sinkDir: String,
                           rowEvents: Long, digest: Cells.Digest, cutsMs: Seq[Long],
                           latest: Cells.Rows, asOf: Seq[Cells.Rows])

  /** One transaction as the binlog carries it — GTID, then per run of
    * same-table same-kind rows a TABLE_MAP and one multi-row rows event,
    * then XID, all stamped with the commit time — and the ops it
    * normalizes to, each carrying the ordinal of the event it came from. */
  def block(txn: Seq[Op], pos0: Long): (Seq[RawEvent], Seq[Op]) = {
    val ts = txn.last.tsMs
    val gtid = txn.head.txnId
    var pos = pos0
    def ev(code: Int) = { pos += 1; RawEvent(code, 1L, "bin.000001", pos, ts) }
    def op(o: Op, p: Long) = o.copy(txnId = gtid, eventId = FileBase + p, tsMs = ts)
    val rows = txn.filter(o => o.kind != "BEGIN" && o.kind != "COMMIT")
    val runs = rows.foldLeft(List.empty[List[Op]]) {
      case (cur :: done, o) if cur.head.table == o.table && cur.head.kind == o.kind => (o :: cur) :: done
      case (acc, o) => List(o) :: acc
    }.reverse.map(_.reverse)
    val begin = ev(RT.GTID).copy(gtid = Some(gtid))
    val body = runs.zipWithIndex.map { case (run, i) =>
      val id = Some(100L + i)
      val code = run.head.kind match {
        case "INSERT" => RT.WRITE_ROWS; case "UPDATE" => RT.UPDATE_ROWS; case _ => RT.DELETE_ROWS
      }
      val map = ev(RT.TABLE_MAP).copy(tableId = id, db = Some("shop"), table = Some(run.head.table),
        pkColumns = Seq("id"))
      val rowsEv = ev(code).copy(tableId = id, rows = run.map(o => RowImage(o.before, o.after)))
      (Seq(map, rowsEv), run.map(op(_, rowsEv.position)))
    }
    val xid = ev(RT.XID).copy(xid = Some(txn.head.xxid))
    ((begin +: body.flatMap(_._1)) :+ xid,
      (op(txn.head, begin.position) +: body.flatMap(_._2)) :+ op(txn.last, xid.position))
  }

  def ddlBlock(n: Int, ts: Long, pos: Long): (Seq[RawEvent], Seq[Op]) = {
    val table = Replicated(n % Replicated.size)
    val sql = s"ALTER TABLE $table ADD COLUMN c$n INT"
    (Seq(RawEvent(RT.GTID, 1L, "bin.000001", pos + 1, ts, gtid = Some(s"ddl:$n")),
      RawEvent(RT.QUERY, 1L, "bin.000001", pos + 2, ts, sql = Some(sql))),
      Seq(Op("BEGIN", s"ddl:$n", 0L, FileBase + pos + 1, ts, "", "", Map.empty, Map.empty),
        Op("DDL", s"ddl:$n", 0L, FileBase + pos + 2, ts, table, "", Map.empty, Map("ddl" -> sql))))
  }

  /** The ops path: no catalog, as the stream workload runs. */
  def opsConfig(dir: String, cores: Int): PipelineConfig =
    PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitioner = "TRID", partitions = cores, triggerMs = 0L)

  /** The raw path with the augment layer. A fresh catalog per pipeline run,
    * bootstrapped from the CREATEs: replaying the same DDL into one catalog
    * twice gives it duplicate columns. */
  def rawConfig(dir: String, cores: Int): PipelineConfig = {
    val cat = new SchemaCatalog("shop")
    Creates.foreach(cat.applyDdl(_, 0L))
    opsConfig(dir, cores).copy(validationDir = Some(s"$dir/validation"), schemaCatalog = Some(cat),
      schemaHistoryDir = Some(s"$dir/history"), schemaRegistryDir = Some(s"$dir/registry"),
      decodeWithCatalog = true)
  }

  /** The table filter as the library's column gate on the op stream:
    * `PipelineConfig.tables` cannot be combined with a schema catalog (its
    * filter closure captures the whole config, and SchemaCatalog is not
    * Serializable, so every task fails to serialize). */
  def filtered(ops: Dataset[Op]): Dataset[Op] =
    Cdc.tableFilter(ops.toDF(), col("table"), Nil, Some(ExcludePattern)).as(Encoders.product[Op])

  def rawEvents(spark: SparkSession, fx: Fixture): Dataset[RawEvent] =
    spark.read.parquet(fx.rawDir).as(Encoders.product[RawEvent])

  def setup(ctx: Ctx, spark: SparkSession): Fixture = {
    import spark.implicits._
    val dir = ctx.dir("fixture")
    val gen = new CdcGen(ctx.args.seed, Tables, 3000, "fx")
    val cutIdx = (1 to Cuts).map(k => k * Txns / (Cuts + 1))
    val digest = new Cells.DigestBuilder
    val asOf = scala.collection.mutable.ArrayBuffer.empty[Cells.Rows]
    var rowEvents = 0L
    var pos = 3L
    val blocks = (1 to Txns).map { i =>
      val ts = Base + i * StepMs
      val txn = gen.next(ts)
      txn.filter(o => o.kind != "BEGIN" && o.kind != "COMMIT" && !o.table.startsWith("audit_"))
        .foreach { o =>
          digest.add(Cells.cellsOf(o.kind, o.txnId, o.table, o.rowKey, o.before, o.after))
          rowEvents += 1
        }
      if (cutIdx.contains(i)) asOf += live(gen)
      val b = block(txn, pos)
      pos = b._1.last.position
      val d = if (i % DdlEvery == DdlEvery / 2) {
        val x = ddlBlock(i / DdlEvery, ts, pos)
        pos = x._1.last.position
        Seq(x)
      } else Nil
      b +: d
    }
    // one file per contiguous range of the binlog, written in binlog order
    val opsDir = s"$dir/ops"
    val rawDir = s"$dir/raw"
    blocks.grouped((blocks.size + Files - 1) / Files).foreach { chunk =>
      spark.createDataset(chunk.flatten.flatMap(_._2)).coalesce(1).write.mode("append").parquet(opsDir)
      spark.createDataset(chunk.flatten.flatMap(_._1)).coalesce(1).write.mode("append").parquet(rawDir)
    }
    val q = ReplicatorPipeline.start(filtered(OpSource.parquetStream(spark, opsDir, maxFilesPerTrigger = 1)),
      opsConfig(dir, ctx.args.cores))
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => ctx.result.check(s"fixture stream failed: ${e.getMessage}", 1, 1))
    Fixture(dir, opsDir, rawDir, s"$dir/sink", rowEvents, digest.result,
      cutIdx.map(i => Base + i * StepMs), live(gen), asOf.toSeq)
  }

  private def live(gen: CdcGen): Cells.Rows = gen.liveRows.filterNot(_._1.startsWith("audit_"))

  /** Passes per run: one per 8 s of `--seconds`, at least 2. A traced run
    * makes one, to leave time for the library slice and the raw stream. */
  def passes(seconds: Int, traced: Boolean): Int = if (traced) 1 else math.max(2, seconds / 8)

  def run(ctx: Ctx): Unit = {
    val spark = Setup.session(ctx)
    val t = ctx.tracer
    val r = ctx.result
    val fx = t.span("setup.fixture")(setup(ctx, spark))
    Setup.done(ctx)

    // each pass's outputs, checked after the passes
    val backfilled = scala.collection.mutable.ArrayBuffer.empty[Reads.Digest]
    val readSets = scala.collection.mutable.ArrayBuffer.empty[Map[String, Reads.Digest]]
    val n = passes(ctx.args.seconds, t.enabled)
    (1 to n).foreach { pass =>
      // (a) backfill from the raw binlog
      val bf = ctx.dir(s"backfill$pass")
      spark.sparkContext.setJobGroup("backfill", "backfill")
      try t.span("call.backfill") {
        ReplicatorPipeline.runBatch(filtered(RawBinlogAdapter.toOps(rawEvents(spark, fx))),
          rawConfig(bf, ctx.args.cores))
      } finally spark.sparkContext.clearJobGroup()
      backfilled += Reads.digest(spark.read.parquet(s"$bf/sink").select(Reads.cellCols.map(col): _*))
      Ctx.rmrf(bf)
      // (b) time travel
      readSets += Reads.readSet(ctx, spark, fx.sinkDir, fx.cutsMs.map(_ * 1000L), Attrs, s"pass$pass")
    }
    // traced runs: the pinned library slice, once, on its own tables
    if (t.enabled) {
      val libDir = ctx.dir("lib")
      t.span("library_data")(LibraryData.write(spark, libDir))
      Library.runSlice(ctx, spark, Library.load(ctx), libDir)
      Library.record(ctx)
    }

    t.span("check.passes") {
      // the streamed sink holds every generated cell exactly once, the
      // backfill wrote the same cells, and the row reads match the
      // generator's state now and at each cut
      val got = Cells.sinkDigest(spark, fx.sinkDir)
      r.check("streamed fixture: row events in the sink exactly once", fx.rowEvents,
        if (got == fx.digest) 0L else math.max(1L, Cells.audit(spark,
          Cells.expectedCells(filtered(OpSource.parquetBatch(spark, fx.opsDir)).toDF()), fx.sinkDir)))
      val streamedCells = Reads.digest(spark.read.parquet(fx.sinkDir).select(Reads.cellCols.map(col): _*))
      backfilled.foreach(d => r.check("backfill sink = streamed sink cells", 1, if (d == streamedCells) 0 else 1))
      val wantLatest = Reads.digest(Reads.rowsDf(spark, fx.latest))
      val wantAsOf = fx.asOf.map(rows => Reads.digest(Reads.rowsDf(spark, rows)))
      readSets.foreach { reads =>
        r.check("latest rows = generator state", 1, if (reads("latest_rows") == wantLatest) 0 else 1)
        wantAsOf.zipWithIndex.foreach { case (want, i) =>
          r.check(s"rows as of cut $i = generator state", 1, if (reads(s"rows_as_of_$i") == want) 0 else 1)
        }
      }
    }

    val spans = t.allSpans
    def per(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds)
    val asOf = per("read.rows_as_of").map(_ * 1000)
    r.metric("latency_p50_ms", Ctx.quantile(asOf, 0.5))
    r.metric("latency_p95_ms", Ctx.quantile(asOf, 0.95))
    r.metric("replay_eps", Ctx.median(per("call.backfill").map(fx.rowEvents / _)))
    val readsets = spans.filter(_.name.startsWith("readset.pass")).map(_.seconds)
    r.metric("read_s", Ctx.median(readsets))
    r.metric("timetravel_s", Ctx.median(readsets))
    r.metric("passes", n.toDouble)
    StreamLayers.recordReads(ctx, fx.sinkDir, n)
    if (t.enabled) traceLayers(ctx, spark, fx, n)
    Ctx.rmrf(fx.dir)
  }

  /** Traced runs only: the backfill's jobs by phase, the batch assembler
    * alone, and the raw events streamed through the supplier state machine
    * with the augment layer on. */
  private def traceLayers(ctx: Ctx, spark: SparkSession, fx: Fixture, passes: Int): Unit = {
    val t = ctx.tracer
    val r = ctx.result
    val backfill = t.allJobs.filter(_.group == "backfill")
    r.metric("backfill.jobs", backfill.size.toDouble / passes)
    val t1 = System.nanoTime()
    ReplicatorPipeline.transform(filtered(OpSource.parquetBatch(spark, fx.opsDir)),
      opsConfig(s"${fx.dir}/assemble", ctx.args.cores)).write.format("noop").mode("overwrite").save()
    r.metric("backfill.assemble_s", (System.nanoTime() - t1) / 1e9)

    import spark.implicits._
    val dir = ctx.dir("augment")
    val cfg = rawConfig(dir, ctx.args.cores)
    val stream = spark.readStream.schema(Encoders.product[RawEvent].schema)
      .option("maxFilesPerTrigger", 1).parquet(fx.rawDir).as[RawEvent]
    val q = ReplicatorPipeline.start(filtered(RawBinlogAdapter.toOpsStreaming(stream)), cfg)
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => r.check(s"raw stream failed: ${e.getMessage}", 1, 1))
    Thread.sleep(200)
    val batches = t.progresses.filter(p => p.runId == q.runId.toString && p.inputRows > 0)
    StreamLayers.record(ctx, batches, q.runId.toString, fx.rowEvents, dir)
    r.metric("augment.catalog_versions",
      Replicated.map(cfg.schemaCatalog.get.versionsOf(_).size).sum.toDouble)
    val got = Cells.sinkDigest(spark, s"$dir/sink")
    r.check("raw stream: row events in the sink exactly once", fx.rowEvents,
      if (got == fx.digest) 0L else 1L)
  }
}
