package perfbench

/** Per-layer attribution of a stream run, from outside the program: the
  * engine's progress events (phase durations, state operators) and, when
  * tracing, the jobs each micro-batch ran, classified by the output path
  * in the plan of their SQL execution. */
object StreamLayers {

  /** The `writeBatch` phase a micro-batch job belongs to, from the plan of
    * its SQL execution: a write names its output directory; the one read
    * to the driver is the DDL collect. */
  def phase(tracer: Tracer, j: JobRec): String = {
    val plan = tracer.planOf(j)
    if (plan.contains("InsertIntoHadoopFsRelationCommand")) {
      if (plan.contains("/history")) "augment.history_write"
      else if (plan.contains("/validation")) "sink.validation"
      else "sink.write"
    } else "augment.ddl_collect"
  }

  private def jobMs(j: JobRec): Long = if (j.endMs < 0) 0L else j.endMs - j.startMs

  def record(ctx: Ctx, steady: Seq[Progress], runId: String, events: Long, dir: String): Unit = {
    val r = ctx.result
    def q(f: Progress => Double, p: Double = 0.5) = Ctx.quantile(steady.map(f), p)
    r.metric("pipeline.batch_p50_ms", q(_.d("triggerExecution").toDouble))
    r.metric("pipeline.batch_p95_ms", q(_.d("triggerExecution").toDouble, 0.95))
    r.metric("pipeline.add_batch_ms", q(_.d("addBatch").toDouble))
    r.metric("pipeline.planning_ms", q(_.d("queryPlanning").toDouble))
    r.metric("pipeline.rows_per_batch", q(_.inputRows.toDouble))
    r.metric("sources.latest_offset_ms", q(_.d("latestOffset").toDouble))
    r.metric("checkpoint.wal_commit_ms", q(_.d("walCommit").toDouble))
    r.metric("checkpoint.commit_offsets_ms", q(_.d("commitOffsets").toDouble))
    r.metric("checkpoint.state_commit_ms", q(_.state.map(_.commitMs).sum.toDouble))
    r.metric("checkpoint.dir_bytes", Ctx.dirBytes(s"$dir/ckpt").toDouble)
    // the assembler is the topmost stateful operator of the plan; the raw
    // lane's supplier state machine sits below it
    def st(i: Int)(f: StateOp => Long) = q(_.state.lift(i).map(f).getOrElse(0L).toDouble)
    r.metric("assembler_state.update_ms", st(0)(_.updateMs))
    r.metric("assembler_state.rows_total", st(0)(_.rowsTotal))
    r.metric("assembler_state.rows_updated", st(0)(_.rowsUpdated))
    r.metric("assembler_state.memory_bytes", st(0)(_.memoryBytes))
    r.metric("assembler_state.commit_ms", st(0)(_.commitMs))
    if (steady.exists(_.state.length > 1)) {
      r.metric("supplier_state.update_ms", st(1)(_.updateMs))
      r.metric("supplier_state.rows_total", st(1)(_.rowsTotal))
      r.metric("supplier_state.commit_ms", st(1)(_.commitMs))
    }

    val sink = s"$dir/sink"
    val files = steady.map(b => Ctx.dataFiles(s"$sink/batch_id=${b.batchId}").size.toDouble)
    r.metric("sink.files_per_batch", Ctx.median(files))
    r.metric("sink.bytes_per_event", Ctx.dataFiles(sink).map(_.length()).sum.toDouble / math.max(1L, events))

    if (ctx.tracer.enabled) {
      // a streaming query's jobs carry its run id as their job group
      val byBatch = ctx.tracer.allJobs.filter(j => j.group == runId && j.batch >= 0).groupBy(_.batch)
      val batches = steady.map(b => b -> byBatch.getOrElse(b.batchId, Nil).map(j => phase(ctx.tracer, j) -> j))
      r.metric("pipeline.jobs_per_batch", Ctx.median(batches.map(_._2.size.toDouble)))
      def phaseMs(name: String) = Ctx.median(batches.flatMap { case (_, js) =>
        val ms = js.filter(_._1 == name).map(x => jobMs(x._2))
        if (ms.isEmpty) None else Some(ms.sum.toDouble)
      })
      r.metric("sink.write_ms", phaseMs("sink.write"))
      r.metric("sink.validation_ms", phaseMs("sink.validation"))
      r.metric("augment.ddl_collect_ms", phaseMs("augment.ddl_collect"))
      r.metric("augment.history_write_ms", phaseMs("augment.history_write"))
      r.metric("pipeline.driver_ms", Ctx.median(batches.map { case (b, js) =>
        (b.d("addBatch") - ctx.tracer.unionMs(js.map(x => (x._2.startMs, x._2.endMs)))).toDouble
      }))
      val shuffle = batches.flatMap(_._2.map(_._2.shuffleWrite)).sum
      r.metric("pipeline.shuffle_bytes_per_event",
        shuffle.toDouble / math.max(1L, steady.map(_.inputRows).sum))
    }
  }

  /** Per-read times of `passes` read sets, per pass. */
  def recordReads(ctx: Ctx, sinkDir: String, passes: Int = 1): Unit = {
    val r = ctx.result
    val spans = ctx.tracer.allSpans
    def secs(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum / passes
    r.metric("timetravel.latest_rows_s", secs("read.latest_rows"))
    r.metric("timetravel.rows_as_of_s", secs("read.rows_as_of"))
    r.metric("timetravel.incremental_s", secs("read.latest_cells") + secs("read.incremental"))
    r.metric("timetravel.scd2_s", secs("read.scd2"))
    r.metric("timetravel.snapshot_diff_s", secs("read.snapshot_diff"))
    r.metric("timetravel.files_read", Ctx.dataFiles(sinkDir).size.toDouble)
    if (ctx.tracer.enabled)
      r.metric("timetravel.bytes_read",
        ctx.tracer.allJobs.filter(_.group.startsWith("readset")).map(_.inputBytes).sum.toDouble / passes)
  }
}
