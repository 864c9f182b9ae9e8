package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.pipeline.{PipelineConfig, ReplicatorPipeline, TableFilterConfig}
import graft.streaming.{Op, TimeMachineSink, TransactionAssembler}
import graft.sink.Sinks

/** Streaming CDC semantics: transaction assembly, time-machine sink golden
  * cells, end-to-end pipeline with checkpointed restart, seek dedup. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def op(kind: String, txn: String, ev: Long, table: String = "t", key: String = "k1",
                 before: Map[String, String] = null, after: Map[String, String] = null,
                 ts: Long = 1704067200000L): Op =
    Op(kind, txn, txn.hashCode.toLong & 0xFFFF, ev, ts, table, key,
      Option(before).getOrElse(Map.empty), Option(after).getOrElse(Map.empty))

  test("assembler: buffers until COMMIT, stamps commit ts, drops uncommitted") {
    val ops = Seq(
      op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("UPDATE", "t1", 3, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("COMMIT", "t1", 4, ts = 1704067205000L),
      op("BEGIN", "t2", 5),
      op("INSERT", "t2", 6, after = Map("b" -> "9")) // never commits
    ).toDS()
    val out = TransactionAssembler.assemble(ops).collect()
    assert(out.length == 2)
    assert(out.forall(_.commitTsMs == 1704067205000L))
    assert(out.forall(_.txnUuid == "t1"))
    assert(out.map(_.kind).toSet == Set("INSERT", "UPDATE"))
  }

  test("batch assembler matches the stateful form on committed, uncommitted, and DDL ops") {
    val ops = Seq(
      op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("UPDATE", "t1", 3, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("COMMIT", "t1", 4, ts = 1704067205000L),
      Op("DDL", "ddl1", 0, 5, 1704067206000L, "t", "",
        Map.empty, Map("ddl" -> "ALTER TABLE t ADD COLUMN b INT")),
      op("BEGIN", "t2", 6),
      op("INSERT", "t2", 7, after = Map("b" -> "9")) // never commits
    ).toDS()
    def key(s: graft.streaming.StampedOp) = (s.txnUuid, s.eventId)
    val stateful = TransactionAssembler.assemble(ops).collect().map(s => key(s) -> s).toMap
    val batch = TransactionAssembler.assembleBatch(ops).collect().map(s => key(s) -> s).toMap
    assert(batch == stateful)
    assert(batch.size == 3) // 2 committed rows + DDL barrier; t2 dropped
  }

  test("assembler: out-of-order group delivery assembles identically to ordered") {
    // the fast path skips the sort when a group's batch is already ordered;
    // this pins the slow path: a COMMIT delivered before its row events
    // must still stamp them (ordinal order is restored before processing)
    val ordered = Seq(
      op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("UPDATE", "t1", 3, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("COMMIT", "t1", 4, ts = 1704067205000L))
    val shuffled = Seq(ordered(3), ordered(1), ordered(0), ordered(2))
    def key(s: graft.streaming.StampedOp) = (s.txnUuid, s.eventId)
    val a = TransactionAssembler.assemble(ordered.toDS()).collect().map(s => key(s) -> s).toMap
    val b = TransactionAssembler.assemble(shuffled.toDS().coalesce(1)).collect()
      .map(s => key(s) -> s).toMap
    assert(a == b && a.size == 2)
    // the helper itself: ordered input passes through, violations sort
    import graft.streaming.TransactionAssembler.nearSorted
    assert(nearSorted(Iterator(1L, 2L, 5L, 9L))(identity) == Seq(1L, 2L, 5L, 9L))
    assert(nearSorted(Iterator(9L, 1L, 5L, 2L))(identity) == Seq(1L, 2L, 5L, 9L))
    assert(nearSorted(Iterator.empty[Long])(identity).isEmpty)
  }

  test("assembler: oversize transaction emits chunks instead of stalling") {
    val rows = (1 to 7).map(i => op("INSERT", "big", i.toLong, after = Map("i" -> i.toString)))
    val ops = (op("BEGIN", "big", 0) +: rows :+ op("COMMIT", "big", 99)).toDS()
    val out = TransactionAssembler.assemble(ops, sizeLimit = 3).collect()
    assert(out.length == 7)
    assert(out.map(_.chunk).toSet == Set(0, 1, 2)) // 3+3+1 chunked emit
  }

  test("time-machine cells: INSERT all cols, UPDATE changed-only, DELETE marker") {
    val stamped = Seq(
      ("u1", 7L, 1000L, 0, 1L, 1000L, "t", "INSERT", "k1", Map.empty[String, String], Map("a" -> "1", "b" -> "x")),
      ("u1", 7L, 1000L, 0, 2L, 1000L, "t", "UPDATE", "k1", Map("a" -> "1", "b" -> "x"), Map("a" -> "2", "b" -> "x")),
      ("u2", 8L, 2000L, 0, 3L, 2000L, "t", "DELETE", "k1", Map("a" -> "2", "b" -> "x"), Map.empty[String, String])
    ).toDF("txnUuid", "xxid", "commitTsMs", "chunk", "eventId", "tsMs", "table", "kind", "rowKey", "before", "after")
    val cells = TimeMachineSink.mutationCells(stamped)
      .select("column", "value", "event_id").as[(String, String, Long)].collect().toSet
    // INSERT: both cols + status + audit; UPDATE: only changed col 'a'; DELETE: status only
    assert(cells.contains(("a", "1", 1L)) && cells.contains(("b", "x", 1L)))
    assert(cells.contains(("a", "2", 2L)) && !cells.contains(("b", "x", 2L)))
    assert(cells.contains(("row_status", "I", 1L)) && cells.contains(("row_status", "U", 2L))
      && cells.contains(("row_status", "D", 3L)))
    assert(cells.contains(("_transaction_uuid", "u1", 1L)))
  }

  test("timestamp organizing + latest/as-of reads over a sink dir") {
    val dir = Files.createTempDirectory("tm").toString
    val stamped = Seq(
      ("u1", 7L, 1000L, 0, 1L, 900L, "t", "INSERT", "k1", Map.empty[String, String], Map("a" -> "1")),
      ("u1", 7L, 1000L, 0, 2L, 950L, "t", "UPDATE", "k1", Map("a" -> "1"), Map("a" -> "2")),
      ("u2", 8L, 5000L, 0, 3L, 4900L, "t", "UPDATE", "k1", Map("a" -> "2"), Map("a" -> "3"))
    ).toDF("txnUuid", "xxid", "commitTsMs", "chunk", "eventId", "tsMs", "table", "kind", "rowKey", "before", "after")
    TimeMachineSink.write(stamped, dir)

    // intra-txn ordering: event 1 at commitMicros-50, event 2 at -49
    val ts = spark.read.parquet(dir).filter(col("column") === "a")
      .select("event_id", "cell_ts").as[(Long, Long)].collect().toMap
    assert(ts(1L) == 1000L * 1000 - 50 && ts(2L) == 1000L * 1000 - 49)

    val latest = TimeMachineSink.latestRows(spark, dir)
      .select(element_at(col("cols"), "a")).as[String].collect()
    assert(latest.toSeq == Seq("3"))
    val asOf = TimeMachineSink.rowsAsOf(spark, dir, 1000L * 1000)
      .select(element_at(col("cols"), "a")).as[String].collect()
    assert(asOf.toSeq == Seq("2")) // before the second txn
  }

  test("transaction state carries across micro-batches: COMMIT in a later batch emits") {
    implicit val sq = spark.sqlContext
    val sink = Files.createTempDirectory("xbatch").toString
    val ckpt = Files.createTempDirectory("xbatchck").toString
    val mem = MemoryStream[Op]
    val q = ReplicatorPipeline.start(mem.toDS(), PipelineConfig(sink, ckpt, partitions = 2))
    mem.addData(op("BEGIN", "tx", 1), op("INSERT", "tx", 2, after = Map("a" -> "1")))
    q.processAllAvailable()
    // nothing committed yet -> no cells
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(sink)).iterator().hasNext
      || spark.read.parquet(sink).isEmpty)
    mem.addData(op("UPDATE", "tx", 3, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("COMMIT", "tx", 4, ts = 1704067209000L))
    q.processAllAvailable()
    q.stop()
    val cells = spark.read.parquet(sink).filter(col("column") === "a")
      .select("value").as[String].collect().toSet
    assert(cells == Set("1", "2")) // both ops emitted at commit, from carried state
  }

  test("pipeline end-to-end over a stream with restart from checkpoint") {
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val cfg = PipelineConfig(sink, ckpt, partitions = 2)
    implicit val sq = spark.sqlContext

    val mem = MemoryStream[Op]
    val q1 = ReplicatorPipeline.start(mem.toDS(), cfg)
    mem.addData(op("BEGIN", "t1", 1), op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("COMMIT", "t1", 3))
    q1.processAllAvailable()
    q1.stop()

    // restart: same checkpoint, new data only
    val q2 = ReplicatorPipeline.start(mem.toDS(), cfg)
    mem.addData(op("BEGIN", "t2", 4), op("UPDATE", "t2", 5,
      before = Map("a" -> "1"), after = Map("a" -> "2")), op("COMMIT", "t2", 6))
    q2.processAllAvailable()
    q2.stop()

    val latest = TimeMachineSink.latestRows(spark, sink)
      .select(element_at(col("cols"), "a")).as[String].collect()
    assert(latest.toSeq == Seq("2"))
    // exactly-once: only two 'a' versions despite restart
    assert(spark.read.parquet(sink).filter(col("column") === "a").count() == 2)
  }

  test("batch-id partitioned write is idempotent under retries") {
    val dir = Files.createTempDirectory("idem").toString
    val stamped = Seq(
      ("u1", 7L, 1000L, 0, 1L, 900L, "t", "INSERT", "k1", Map.empty[String, String], Map("a" -> "1"))
    ).toDF("txnUuid", "xxid", "commitTsMs", "chunk", "eventId", "tsMs", "table", "kind", "rowKey", "before", "after")
    TimeMachineSink.write(stamped, dir, batchId = 5L)
    TimeMachineSink.write(stamped, dir, batchId = 5L) // retry of the same batch
    assert(spark.read.parquet(dir).filter(col("column") === "a").count() == 1)
    TimeMachineSink.write(stamped, dir, batchId = 6L) // a genuinely new batch appends
    assert(spark.read.parquet(dir).filter(col("column") === "a").count() == 2)
  }

  test("payload table rows are keyed by transaction uuid, others by row key") {
    val sink = Files.createTempDirectory("paysink").toString
    val cfg = graft.pipeline.PipelineConfig(sink, "", payloadTable = Some("txn_context"))
    val ops = Seq(
      op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, table = "data", key = "k1", after = Map("a" -> "1")),
      op("INSERT", "t1", 3, table = "txn_context", key = "ignored",
        after = Map("ctx" -> "job42")),
      op("COMMIT", "t1", 4)).toDS()
    ReplicatorPipeline.runBatch(ops, cfg)
    val keys = spark.read.parquet(sink).select("table", "row_key").distinct()
      .as[(String, String)].collect().toMap
    assert(keys("data") == "k1")
    assert(keys("txn_context") == "t1") // txn uuid, not the source row key
  }

  test("forced-rewind drill: crash after sink write, restart replays exactly-once") {
    // The reference handles a mid-pipeline failure with ForceRewindException →
    // seek(last safe checkpoint) → replay, relying on KafkaSeeker to drop the
    // re-delivered prefix (Replicator.java:208-223). The Spark shape: the
    // batch's offsets are logged before foreachBatch runs, the commit after —
    // so a crash BETWEEN sink write and commit re-runs the same batch id on
    // restart, and the batch-id dynamic-partition overwrite makes the replay
    // overwrite the orphaned first write instead of duplicating it.
    val sink = Files.createTempDirectory("rwsink").toString
    val ckpt = Files.createTempDirectory("rwckpt").toString
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Op]
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run() = TransactionAssembler.assemble(mem.toDS()).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.StampedOp], batchId: Long) =>
        TimeMachineSink.write(batch.toDF(), sink, batchId)
        if (!batch.isEmpty && crashOnce.getAndSet(false))
          sys.error("forced rewind") // after the write, before the engine commit
      }.start()

    val q1 = run()
    mem.addData(op("BEGIN", "t1", 1), op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("COMMIT", "t1", 3))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // the doomed attempt DID land cells — a plain append sink would double them
    assert(spark.read.parquet(sink).filter(col("column") === "a").count() == 1)

    val q2 = run()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(sink).filter(col("column") === "a").count() == 1)
    assert(TimeMachineSink.latestRows(spark, sink)
      .select(element_at(col("cols"), "a")).as[String].collect().toSeq == Seq("1"))
  }

  test("seek watermarks drop replayed events below the sink tail") {
    val log = Files.createTempDirectory("log").toString
    val batch1 = Seq(("u1", "t", 1L), ("u2", "t", 2L), ("u3", "t", 3L))
      .toDF("txnUuid", "table", "eventId")
    Sinks.kafkaLikeJson(batch1, partitions = 2, partitionKey = "txnUuid", log)
    val wm = Sinks.seekWatermarks(spark, log)
    assert(wm.nonEmpty)
    val replay = Seq(("u1", "t", 1L), ("u2", "t", 2L), ("u4", "t", 9L))
      .toDF("txnUuid", "table", "eventId")
    val kept = Sinks.seekFilter(replay, 2, "txnUuid", wm).select("eventId").as[Long].collect().toSet
    assert(kept == Set(9L))
  }

  test("kafka sink column include-filter drops unlisted columns from the payload only") {
    val log = Files.createTempDirectory("kcollog").toString
    val df = Seq(("t1", "t", 1L,
        Map("id" -> "1", "secret" -> "x", "amt" -> "10"),
        Map("id" -> "1", "secret" -> "y", "amt" -> "20")))
      .toDF("txnUuid", "table", "eventId", "before", "after")
    Sinks.kafkaLikeJson(df, partitions = 1, partitionKey = "txnUuid", log,
      includeColumns = Some(Seq("id", "amt")))
    val value = spark.read.parquet(log).select("value").as[String].collect()(0)
    assert(value.contains("\"amt\":\"20\"") && value.contains("\"id\":\"1\""))
    assert(!value.contains("secret")) // filtered from the serialized message
  }

  test("validation sampler emits a deterministic 1-in-N subset") {
    val df = (1 to 1000).map(i => (s"k$i", i)).toDF("rowKey", "v")
    val n = Sinks.validationSample(df, 10, "rowKey").count()
    assert(n > 50 && n < 200) // hash-uniform ~100
    assert(Sinks.validationSample(df, 10, "rowKey").count() == n) // deterministic
  }

  test("DDL barrier flows through the pipeline: catalog versioned, history written, cells clean") {
    val sink = Files.createTempDirectory("sink2").toString
    val hist = Files.createTempDirectory("hist2").toString
    val cat = new graft.augment.SchemaCatalog("mydb")
    val cfg = PipelineConfig(sink, "/tmp/unused-ckpt", partitions = 2,
      schemaCatalog = Some(cat), schemaHistoryDir = Some(hist))
    val ops = Seq(
      Op("DDL", "ddl1", 0, 1, 500L, "organisms", "",
        Map.empty, Map("ddl" -> "CREATE TABLE organisms (id INT PRIMARY KEY, name VARCHAR(30))")),
      op("BEGIN", "t1", 2),
      op("INSERT", "t1", 3, table = "organisms", after = Map("id" -> "1", "name" -> "cat")),
      op("COMMIT", "t1", 4),
      Op("DDL", "ddl2", 0, 5, 1500L, "organisms", "",
        Map.empty, Map("ddl" -> "ALTER TABLE organisms ADD COLUMN lifespan INT")),
      op("BEGIN", "t2", 6),
      op("INSERT", "t2", 7, table = "organisms",
        after = Map("id" -> "2", "name" -> "dog", "lifespan" -> "13")),
      op("COMMIT", "t2", 8),
      // a type change mid-stream: the decoder must see the new type from
      // this barrier onward while positions stay law for the row images
      Op("DDL", "ddl3", 0, 9, 2500L, "organisms", "",
        Map.empty, Map("ddl" -> "ALTER TABLE organisms MODIFY lifespan SMALLINT UNSIGNED NOT NULL"))
    ).toDS()
    ReplicatorPipeline.runBatch(ops, cfg)
    assert(cat.current("organisms").get.columns.map(_.name) == Seq("id", "name", "lifespan"))
    assert(cat.current("organisms").get.version == 2)
    assert(cat.current("organisms").get.columns.find(_.name == "lifespan").get
      .mysqlType.equalsIgnoreCase("smallint unsigned"))
    // position-resolved: rows decoded between the barriers see INT,
    // rows after the MODIFY barrier see SMALLINT UNSIGNED
    assert(cat.at("organisms", 2000L).get.columns.find(_.name == "lifespan").get
      .mysqlType.equalsIgnoreCase("int"))
    assert(spark.read.parquet(hist).count() == 3)
    // DDL events did not become cells
    assert(spark.read.parquet(sink).filter(col("column") === "ddl").count() == 0)
    assert(TimeMachineSink.latestRows(spark, sink).count() == 1)
  }

  test("decodeWithCatalog: cells land DECODED, each row against the schema " +
      "version active at its position (DataAugmenter order)") {
    val sink = Files.createTempDirectory("sinkdec").toString
    val cat = new graft.augment.SchemaCatalog("mydb")
    val cfg = PipelineConfig(sink, "/tmp/unused-ckpt", partitions = 2,
      schemaCatalog = Some(cat), decodeWithCatalog = true)
    val ops = Seq(
      Op("DDL", "ddl1", 0, 1, 500L, "organisms", "",
        Map.empty, Map("ddl" -> "CREATE TABLE organisms (id INT PRIMARY KEY, lifespan INT)")),
      // t1 commits at ts 1000 — BEFORE the MODIFY barrier: lifespan is a
      // signed INT, the wire string passes through
      op("BEGIN", "t1", 2, table = "organisms", ts = 1000L),
      op("INSERT", "t1", 3, table = "organisms", key = "1",
        after = Map("id" -> "1", "lifespan" -> "-13"), ts = 1000L),
      op("COMMIT", "t1", 4, table = "organisms", ts = 1000L),
      Op("DDL", "ddl2", 0, 5, 2500L, "organisms", "",
        Map.empty, Map("ddl" -> "ALTER TABLE organisms MODIFY lifespan SMALLINT UNSIGNED NOT NULL")),
      // t2 commits at ts 3000 — AFTER the barrier: the SAME wire string
      // now decodes through the unsigned-smallint mask
      op("BEGIN", "t2", 6, table = "organisms", ts = 3000L),
      op("INSERT", "t2", 7, table = "organisms", key = "2",
        after = Map("id" -> "2", "lifespan" -> "-13"), ts = 3000L),
      op("COMMIT", "t2", 8, table = "organisms", ts = 3000L)).toDS()
    ReplicatorPipeline.runBatch(ops, cfg)
    val lifespans = spark.read.parquet(sink)
      .filter(col("column") === "lifespan")
      .select(col("row_key"), col("value")).as[(String, String)].collect().toMap
    assert(lifespans("1") == "-13", s"pre-barrier row must decode as signed INT: $lifespans")
    assert(lifespans("2") == "65523", s"post-barrier row must decode unsigned: $lifespans")
    // without a catalog the config is rejected up front, not mid-batch
    intercept[IllegalArgumentException](PipelineConfig(sink, "/tmp/unused-ckpt", decodeWithCatalog = true))
  }

  test("validation loop: source-vs-target compare finds drift and missing rows") {
    val sink = Files.createTempDirectory("sink3").toString
    val ops = Seq(
      op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, key = "1", after = Map("v" -> "10")),
      op("INSERT", "t1", 3, key = "2", after = Map("v" -> "20")),
      op("COMMIT", "t1", 4)).toDS()
    ReplicatorPipeline.runBatch(ops, PipelineConfig(sink, "/tmp/unused", partitions = 2))
    val latest = TimeMachineSink.latestRows(spark, sink)
    // source agrees on key 1, drifts on key 2, and has an extra key 3
    val source = Seq(("1", "10"), ("2", "99"), ("3", "30")).toDF("k", "v")
    val mismatches = Sinks.validateAgainstSource(source, "k", Seq("v"), latest)
      .select("row_key").as[String].collect().toSet
    assert(mismatches == Set("2", "3"))
    // the "now" view is the as-of read at the end of time
    assert(latest.collect().toSet == TimeMachineSink.rowsAsOf(spark, sink, Long.MaxValue).collect().toSet)
  }

  test("table filter config: whitelist AND blacklist in the pipeline transform") {
    // reference semantics (AugmenterContext.java:711-730): a table passes
    // only if NOT excluded AND (include list empty OR table included);
    // BEGIN/COMMIT/DDL ops are never gated. Every case also runs through
    // runBatch and a streaming start with a schemaCatalog set, which the
    // gate must not capture (SchemaCatalog is not serializable).
    implicit val sq = spark.sqlContext
    val ops = Seq(
      Op("DDL", "ddl1", 0, 1, 1704067100000L, "other", "",
        Map.empty, Map("ddl" -> "CREATE TABLE other (id INT PRIMARY KEY)")),
      op("BEGIN", "t1", 2),
      op("INSERT", "t1", 3, table = "keep_2018", after = Map("a" -> "1")),
      op("INSERT", "t1", 4, table = "drop_2018", after = Map("a" -> "2")),
      op("INSERT", "t1", 5, table = "plain", after = Map("a" -> "3")),
      op("INSERT", "t1", 6, table = "x_audit_log", after = Map("a" -> "4")),
      op("COMMIT", "t1", 7))
    def check(tables: TableFilterConfig, want: Set[String]): Unit = {
      def cfg(sink: String, ckpt: String) = PipelineConfig(sink, ckpt, tables = tables,
        partitions = 2, triggerMs = 0L, schemaCatalog = Some(new graft.augment.SchemaCatalog("mydb")))
      def sinkTables(sink: String) =
        spark.read.parquet(sink).select("table").distinct().as[String].collect().toSet
      // transform: the DDL barrier passes whatever the gate says
      val stamped = ReplicatorPipeline.transform(ops.toDS(), cfg("/tmp/x", "/tmp/y")).collect()
      assert(stamped.filter(_.kind != "DDL").map(_.table).toSet == want, s"transform, $tables")
      assert(stamped.filter(_.kind == "DDL").map(_.table).toSeq == Seq("other"))
      // runBatch
      val batchSink = Files.createTempDirectory("tfbatch").toString
      val batchCfg = cfg(batchSink, "/tmp/unused")
      ReplicatorPipeline.runBatch(ops.toDS(), batchCfg)
      assert(sinkTables(batchSink) == want, s"runBatch, $tables")
      assert(batchCfg.schemaCatalog.get.current("other").isDefined)
      // streaming start
      val streamSink = Files.createTempDirectory("tfstream").toString
      val streamCfg = cfg(streamSink, Files.createTempDirectory("tfck").toString)
      val mem = MemoryStream[Op]
      val q = ReplicatorPipeline.start(mem.toDS(), streamCfg)
      try {
        mem.addData(ops: _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(sinkTables(streamSink) == want, s"start, $tables")
      assert(streamCfg.schemaCatalog.get.current("other").isDefined)
    }
    // include-only: unlisted tables must NOT pass; the unlisted BEGIN,
    // COMMIT ("t") and DDL ("other") ops still do
    check(TableFilterConfig(include = Seq("plain")), Set("plain"))
    // include + exclude: an included-but-excluded table must NOT pass
    check(TableFilterConfig(include = Seq("keep_2018", "plain"), excludePattern = Some(".*_\\d+$")),
      Set("plain"))
    // exclude-only
    check(TableFilterConfig(excludePattern = Some(".*_\\d+$")), Set("plain", "x_audit_log"))
    // an unanchored exclude pattern matches anywhere in the name
    check(TableFilterConfig(excludePattern = Some("audit_")), Set("keep_2018", "drop_2018", "plain"))
    // an unset gate costs nothing: Catalyst prunes the always-true filter
    val ds = ops.toDS()
    def plan(d: org.apache.spark.sql.Dataset[_]) = d.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "")
    assert(plan(ReplicatorPipeline.transform(ds, PipelineConfig("/tmp/x", "/tmp/y")))
      == plan(TransactionAssembler.assembleBatch(ds)))
  }

  /** An augment-lane op log in two halves: a CREATE and a transaction, then
    * an ALTER TABLE … ADD COLUMN and a transaction that writes the new
    * column (SMALLINT UNSIGNED, so the versioned decode changes the value).
    * Three row keys are ones the 1-in-100 validation sample keeps. */
  private def augmentOps(): (Seq[Op], Seq[Op]) = {
    val Seq(a, b, c) = (0 until 5000).map(i => s"r$i").toDF("k")
      .filter(pmod(xxhash64(col("k")), lit(ReplicatorPipeline.ValidationSampleN.toLong)) === 0)
      .as[String].collect().take(3).toSeq
    def row(kind: String, txn: String, ev: Long, key: String, before: Map[String, String],
            after: Map[String, String], ts: Long) =
      op(kind, txn, ev, table = "organisms", key = key, before = before, after = after, ts = ts)
    val first = Seq(
      Op("DDL", "ddl1", 0, 1, 500L, "organisms", "", Map.empty,
        Map("ddl" -> "CREATE TABLE organisms (id INT PRIMARY KEY, name VARCHAR(30))")),
      op("BEGIN", "t1", 2, table = "organisms", ts = 1000L),
      row("INSERT", "t1", 3, a, null, Map("id" -> "1", "name" -> "cat"), 1000L),
      row("INSERT", "t1", 4, b, null, Map("id" -> "2", "name" -> "dog"), 1000L),
      row("INSERT", "t1", 5, "unsampled", null, Map("id" -> "4", "name" -> "ant"), 1000L),
      op("COMMIT", "t1", 6, table = "organisms", ts = 1000L))
    val second = Seq(
      Op("DDL", "ddl2", 0, 7, 1500L, "organisms", "", Map.empty,
        Map("ddl" -> "ALTER TABLE organisms ADD COLUMN lifespan SMALLINT UNSIGNED")),
      op("BEGIN", "t2", 8, table = "organisms", ts = 2000L),
      row("INSERT", "t2", 9, c, null, Map("id" -> "3", "name" -> "eel", "lifespan" -> "20"), 2000L),
      row("UPDATE", "t2", 10, a, Map("id" -> "1", "name" -> "cat"),
        Map("id" -> "1", "name" -> "cat", "lifespan" -> "-13"), 2000L),
      op("COMMIT", "t2", 11, table = "organisms", ts = 2000L))
    (first, second)
  }

  /** The augment lane's config: catalog, versioned decode, history,
    * registry and validation, each under `dir` unless `validation` says
    * otherwise. */
  private def augmentCfg(dir: String, validation: Option[String] = None): PipelineConfig =
    PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitions = 2, triggerMs = 0L,
      validationDir = validation.orElse(Some(s"$dir/validation")),
      schemaCatalog = Some(new graft.augment.SchemaCatalog("mydb")),
      schemaHistoryDir = Some(s"$dir/history"), schemaRegistryDir = Some(s"$dir/registry"),
      decodeWithCatalog = true)

  test("writeBatch releases the batch it persists, also when a write fails") {
    val (first, second) = augmentOps()
    val ops = (first ++ second).toDS()
    spark.catalog.clearCache() // whatever earlier specs left cached
    val dir = Files.createTempDirectory("release").toString
    ReplicatorPipeline.runBatch(ops, augmentCfg(dir))
    assert(spark.read.parquet(s"$dir/validation").count() == 4) // 3 sampled keys, 4 row events
    assert(spark.sharedState.cacheManager.isEmpty, "runBatch left its batch cached")
    // the validation write fails: its dir is a regular file
    val notADir = Files.createTempFile("validation", ".txt").toString
    val failing = Files.createTempDirectory("releasefail").toString
    intercept[Exception](ReplicatorPipeline.runBatch(ops, augmentCfg(failing, Some(notADir))))
    assert(spark.read.parquet(s"$failing/sink").count() > 0) // the sink write ran first
    assert(spark.sharedState.cacheManager.isEmpty, "a failed write left the batch cached")
  }

  test("writeBatch plans: with a catalog and validation both writes scan the cached " +
      "stamped batch, not the assembler; the ops config caches nothing") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    // executed plans of the parquet writes, by output dir
    val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }.foreach {
          case c: InsertIntoHadoopFsRelationCommand => writes.put(c.outputPath.toUri.getPath, qe.executedPlan)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def await(dirs: String*): Seq[SparkPlan] = { // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!dirs.forall(writes.containsKey) && System.nanoTime() < deadline) Thread.sleep(20)
      dirs.map(d => Option(writes.get(d)).getOrElse(fail(s"no write plan captured for $d")))
    }
    def txnWindows(p: SparkPlan) = Plans.collect(p) {
      case w: WindowExec if w.partitionSpec.flatMap(_.references).exists(_.name == "txnId") => w
    }
    val (first, second) = augmentOps()
    val ops = (first ++ second).toDS()
    val stampedCols = Encoders.product[graft.streaming.StampedOp].schema.fieldNames.toSeq
    spark.listenerManager.register(listener)
    try {
      val dir = Files.createTempDirectory("plancached").toString
      ReplicatorPipeline.runBatch(ops, augmentCfg(dir))
      for ((name, plan) <- Seq("sink", "validation").zip(await(s"$dir/sink", s"$dir/validation"))) {
        val scans = Plans.collect(plan) { case s: InMemoryTableScanExec => s }
        assert(scans.nonEmpty, s"$name write does not read the cached batch:\n$plan")
        scans.foreach { s =>
          assert(s.relation.output.map(_.name) == stampedCols, s"$name caches something else:\n$plan")
          assert(txnWindows(s.relation.cachedPlan).nonEmpty, s"$name cache is not the assembled batch")
        }
        assert(txnWindows(plan).isEmpty, s"$name write re-runs the assembler window:\n$plan")
      }
      // the stream_ops config: one reader, nothing persisted, the plan as it was
      val opsDir = Files.createTempDirectory("planops").toString
      ReplicatorPipeline.runBatch(ops, PipelineConfig(s"$opsDir/sink", s"$opsDir/ckpt",
        partitioner = "TRID", partitions = 2, triggerMs = 0L))
      val Seq(plain) = await(s"$opsDir/sink")
      assert(!plain.treeString.contains("InMemoryRelation"), s"ops config cached its batch:\n$plain")
      assert(txnWindows(plain).nonEmpty, s"ops config sink write lost its assembler:\n$plain")
    } finally spark.listenerManager.unregister(listener)
  }

  test("augment lane under foreachBatch: catalog, decode, history, registry and " +
      "validation with ADD COLUMN in the second micro-batch match runBatch") {
    implicit val sq = spark.sqlContext
    val (first, second) = augmentOps()
    spark.catalog.clearCache()
    val batchDir = Files.createTempDirectory("augbatch").toString
    val batchCfg = augmentCfg(batchDir)
    ReplicatorPipeline.runBatch((first ++ second).toDS(), batchCfg)
    val streamDir = Files.createTempDirectory("augstream").toString
    val streamCfg = augmentCfg(streamDir)
    val mem = MemoryStream[Op]
    val q = ReplicatorPipeline.start(mem.toDS(), streamCfg)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    assert(spark.sharedState.cacheManager.isEmpty, "a micro-batch left its batch cached")

    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.groupBy(identity).map {
      case (r, rs) => r -> rs.size
    }
    def cells(dir: String) = spark.read.parquet(s"$dir/sink")
      .select("table", "row_key", "column", "value", "cell_ts", "event_id")
    assert(multiset(cells(streamDir)) == multiset(cells(batchDir)))
    // the post-ALTER update decoded against the new version: -13 as SMALLINT UNSIGNED
    val lifespans = cells(streamDir).filter(col("column") === "lifespan")
      .select("value").as[String].collect().toSet
    assert(lifespans == Set("20", "65523"), s"lifespans $lifespans")
    // validation rows; the task's emitted_at is a wall clock, its key is not
    def validation(dir: String) = spark.read.parquet(s"$dir/validation")
      .withColumn("task_key", get_json_object(col("validation_task"), "$.key"))
      .drop("validation_task")
    assert(multiset(validation(streamDir)) == multiset(validation(batchDir)))
    assert(validation(streamDir).count() == 4)

    for (cfg <- Seq(batchCfg, streamCfg); cat = cfg.schemaCatalog.get) {
      assert(cat.versionsOf("organisms").map(_.version) == Seq(0, 1))
      assert(cat.current("organisms").get.columns.map(_.name) == Seq("id", "name", "lifespan"))
    }
    assert(spark.read.parquet(s"$streamDir/history").count() ==
      spark.read.parquet(s"$batchDir/history").count())
    // the registry takes every schema a DDL produced, in log order, so
    // the backfill and the two-batch stream register the same versions
    val subject = graft.sink.AvroPresenter.subject("mydb", "organisms")
    def registry(dir: String) = new graft.sink.FileSchemaRegistry(s"$dir/registry")
    def versions(dir: String) = registry(dir).versions(subject).map(v => v -> registry(dir).schemaOf(subject, v))
    assert(registry(batchDir).versions(subject) == Seq(1, 2))
    assert(versions(streamDir) == versions(batchDir))
  }

  test("maintainKeyedJoin: untouched rows carry verbatim, touched keys " +
      "re-join from new state, keys absent from either side drop") {
    import graft.streaming.TimeMachineSink
    val vOld = Seq(("k1", "a1", "b1"), ("k2", "a2", "b2"), ("k4", "a4", "b4"))
      .toDF("k", "a", "b")
    val aNew = Seq(("k2", "a2x"), ("k3", "a3")).toDF("k", "a")
    val bNew = Seq(("k2", "b2x"), ("k3", "b3")).toDF("k", "b")
    // k2 updated, k3 inserted, k4 touched but gone from A (deleted row):
    // inner-join semantics must drop it from the view
    val touched = Seq("k2", "k3", "k4").toDF("k")
    val got = TimeMachineSink.maintainKeyedJoin(vOld, aNew, bNew, touched, "k")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("k1", "a1", "b1"), ("k2", "a2x", "b2x"),
      ("k3", "a3", "b3")))
  }

  test("streaming sessionization: native session_window aggregation matches " +
      "the batch sessionize operator session-for-session") {
    // the streaming form of q_sessionize: Structured Streaming's
    // session_window (gap measured from the LAST event — the same idle
    // semantics Cdc.sessionize folds with lag+running-sum) under a
    // watermark, so session state closes and emits as event time advances.
    // The cross-check pins the two forms to one definition: every
    // (user, session) the stream emits must match a batch session's
    // (start, n_events) exactly.
    implicit val sq = spark.sqlContext
    val ckpt = Files.createTempDirectory("sessck").toString
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = mem.toDS().toDF("user_id", "ms", "event_id", "value")
      .withColumn("ts", timestamp_millis(col("ms")))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "1 second"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n_events"))
      .writeStream.format("memory").queryName("sess_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val rows = Seq(
      (1L, 1000L, 1L, 1.0), (1L, 1800L, 2L, 1.0), (1L, 2500L, 3L, 1.0),
      (1L, 9000L, 4L, 1.0),
      (2L, 1000L, 5L, 1.0))
    mem.addData(rows: _*)
    q.processAllAvailable()
    // advance the watermark far past every session gap so all sessions close
    mem.addData((9L, 100000L, 99L, 1.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_stream")
      .filter(col("user_id") < 9)
      .select("user_id", "session_start_ms", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.operators.Cdc.sessionize(
        rows.toDF("user_id", "ms", "event_id", "value")
          .withColumn("ts", timestamp_millis(col("ms"))),
        col("user_id"), col("ts"), col("event_id"), col("value"),
        idleMs = 1000L)
      .filter(col("user_id") < 9)
      .select(col("user_id"), col("session_start_ms"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(batch == Set((1L, 1000L, 3L), (1L, 9000L, 1L), (2L, 1000L, 1L)))
  }

  test("streaming corpus dedup: fingerprint state dedups across micro-batches") {
    // the streaming form of incremental exact dedup: dropDuplicates on the
    // content fingerprint keeps per-key state across batches, so a doc
    // arriving again later (re-crawl) is dropped without any corpus join —
    // state is the bloom/corpus analog, managed by the engine
    implicit val sq = spark.sqlContext
    val sink = Files.createTempDirectory("dedupsink").toString
    val ckpt = Files.createTempDirectory("dedupck").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text")
      .withColumn("fp", graft.operators.Text.fingerprint(col("text")))
      .dropDuplicates("fp")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData((1L, "alpha beta"), (2L, "gamma delta"))
    q.processAllAvailable()
    // batch 2: one true duplicate (different id, same normalized text), one new
    mem.addData((3L, "Alpha  Beta"), (4L, "epsilon zeta"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L)) // doc 3 deduped against batch-1 state
  }

  test("streaming clean-room: gopher gate + c4 clean + hash split compose append-mode") {
    // the whole scan-local text family (native-kernel gates, line rules,
    // hash split) is streaming-composable AS-IS: stateless projections
    // plan identically under readStream, so a crawl feed can be gated,
    // cleaned, and split-assigned in-flight with zero state stores —
    // batch results and streaming results must agree row-for-row
    implicit val sq = spark.sqlContext
    val sink = Files.createTempDirectory("cleansink").toString
    val ckpt = Files.createTempDirectory("cleanck").toString
    // passes the gate: ≥10 words, mean word length in [3,10], ≥2 stopword
    // types (the/with/and), all-alpha, line ends in sentence punctuation
    val good = ("the quick brown fox jumps with energy and determination today. " * 3).trim
    val short = "tiny doc."                                // fails min words
    def pipe(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val gated = graft.operators.Text.gopherQuality(df, col("text"),
        minWords = 10, minStopTypes = 2).filter(col("keep"))
      val cleaned = graft.operators.Text.c4Clean(gated, col("text"),
        minWordsPerLine = 3, minLinesPerDoc = 1)
      graft.operators.Sampling.hashSplit(cleaned, col("doc_id"),
          Seq("train" -> 0.9, "valid" -> 0.1))
        .select("doc_id", "split", "cleaned_text")
    }
    val mem = MemoryStream[(Long, String)]
    val q = pipe(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData((1L, good), (2L, short))
    q.processAllAvailable()
    mem.addData((3L, good), (4L, good))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(sink)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    val batch = pipe(Seq((1L, good), (2L, short), (3L, good), (4L, good))
        .toDF("doc_id", "text"))
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.map(_._1) == Set(1L, 3L, 4L)) // the short doc gated out
  }

  test("maintained snapshot: per-batch incremental fold, idempotent redelivery, retention") {
    implicit val sq = spark.sqlContext
    val snap = Files.createTempDirectory("snapdir").toString
    val ckpt = Files.createTempDirectory("snapck").toString
    val mem = MemoryStream[Op]
    val q = TransactionAssembler.assemble(mem.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StampedOp], id: Long) =>
        TimeMachineSink.maintainSnapshot(b.toDF(), snap, id)
      }
      .start()
    mem.addData(op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("INSERT", "t1", 3, key = "k2", after = Map("a" -> "5")),
      op("COMMIT", "t1", 4))
    q.processAllAvailable()
    def state(): Map[String, String] =
      TimeMachineSink.snapshotRows(spark, snap)
        .select(col("row_key"), element_at(col("cols"), "a")).as[(String, String)]
        .collect().toMap
    assert(state() == Map("k1" -> "1", "k2" -> "5"))
    // batch 2: update k1, delete k2 — folds onto v=0, k2 vanishes
    mem.addData(op("BEGIN", "t2", 5),
      op("UPDATE", "t2", 6, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("DELETE", "t2", 7, key = "k2", before = Map("a" -> "5")),
      op("COMMIT", "t2", 8, ts = 1704067209000L))
    q.processAllAvailable()
    q.stop()
    assert(state() == Map("k1" -> "2"))
    // redelivery: re-running the SAME batch id rebuilds its version from
    // the same base instead of double-applying — state unchanged
    val redelivered = Seq(
      op("BEGIN", "t2", 5),
      op("UPDATE", "t2", 6, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("DELETE", "t2", 7, key = "k2", before = Map("a" -> "5")),
      op("COMMIT", "t2", 8, ts = 1704067209000L))
    val restamped = TransactionAssembler.assembleBatch(redelivered.toDS()).toDF()
    val lastV = new java.io.File(snap).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong).max
    TimeMachineSink.maintainSnapshot(restamped, snap, lastV)
    assert(state() == Map("k1" -> "2"))
    // retention: keep only the newest version dir
    TimeMachineSink.pruneSnapshots(snap, keep = 1)
    val dirs = new java.io.File(snap).listFiles().filter(_.getName.startsWith("v="))
    assert(dirs.length == 1 && state() == Map("k1" -> "2"))
  }

  test("streaming maintained chunk checksum: mutation images fold the " +
      "stored table per batch behind a batch-id fence; a forced rewind " +
      "replays the batch and the fence prevents the xor double-apply") {
    import graft.operators.Cdc
    implicit val sq = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckfence").toString
    val mem = MemoryStream[Op]
    val cols = Seq("a")
    // driver-held stored chunk table + the batch-id fence the operator's
    // scaladoc demands (xor is NOT redelivery-idempotent)
    var stored = Cdc.chunkFold(
      Seq.empty[(String, String)].toDF("row_key", "a"), "row_key", cols, 8)
      .collect().toSeq // empty
    val applied = new java.util.concurrent.atomic.AtomicLong(-1L)
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def storedDf() =
      if (stored.isEmpty)
        Seq.empty[(Long, Long, Long)].toDF("chunk_id", "n", "sig")
      else stored.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("chunk_id", "n", "sig")
    def run() = TransactionAssembler.assemble(mem.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StampedOp], id: Long) =>
        // ONE action over the stateful batch (a second evaluation would
        // re-run the state-store commit for the same batch id)
        val muts = b.collect()
        if (id > applied.get()) { // THE FENCE: skip an already-applied batch
          val added = muts
            .filter(m => m.kind == "INSERT" || m.kind == "UPDATE")
            .map(m => (m.rowKey, m.after.getOrElse("a", null))).toSeq
            .toDF("row_key", "a")
          val removed = muts
            .filter(m => m.kind == "UPDATE" || m.kind == "DELETE")
            .map(m => (m.rowKey, m.before.getOrElse("a", null))).toSeq
            .toDF("row_key", "a")
          stored = Cdc.maintainChunkChecksum(storedDf(), added, removed,
            "row_key", cols, 8).collect().toSeq
          applied.set(id)
        }
        if (muts.nonEmpty && crashOnce.getAndSet(false))
          sys.error("forced rewind") // applied, fence advanced, commit lost
      }.start()

    val q1 = run()
    mem.addData(op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("INSERT", "t1", 3, key = "k2", after = Map("a" -> "5")),
      op("COMMIT", "t1", 4))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // restart replays the same batch id — the fence must swallow it,
    // otherwise the xor would CANCEL the whole batch (sig reverts)
    val q2 = run()
    q2.processAllAvailable()
    mem.addData(op("BEGIN", "t2", 5),
      op("UPDATE", "t2", 6, before = Map("a" -> "1"), after = Map("a" -> "2")),
      op("DELETE", "t2", 7, key = "k2", before = Map("a" -> "5")),
      op("COMMIT", "t2", 8, ts = 1704067209000L))
    q2.processAllAvailable()
    q2.stop()
    // the maintained table equals the from-scratch fold of the final
    // state (k1 -> "2"; k2 deleted)
    val want = Cdc.chunkFold(Seq(("k1", "2")).toDF("row_key", "a"),
        "row_key", cols, 8)
      .as[(Long, Long, Long)].collect().toSet
    val got = storedDf().as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"maintained $got != recompute $want")
  }

  test("stream-stream interval join: in-window clicks join, watermark drops stale late input") {
    implicit val sq = spark.sqlContext
    val imp = MemoryStream[(Long, Long)] // (id, epoch sec)
    val clk = MemoryStream[(Long, Long)]
    val impDf = imp.toDS().toDF("imp_id", "isec")
      .withColumn("imp_time", timestamp_seconds(col("isec")))
      .withWatermark("imp_time", "5 seconds")
    val clkDf = clk.toDS().toDF("clk_id", "csec")
      .withColumn("clk_time", timestamp_seconds(col("csec")))
      .withWatermark("clk_time", "5 seconds")
    val joined = impDf.join(clkDf,
      col("imp_id") === col("clk_id") &&
        col("clk_time") >= col("imp_time") &&
        col("clk_time") <= col("imp_time") + expr("interval 10 seconds"))
    val q = joined.select("imp_id", "isec", "csec").writeStream
      .format("memory").queryName("ssj_t").outputMode("append").start()
    imp.addData((1L, 1000L), (2L, 1000L))
    clk.addData((1L, 1005L)) // within the 10 s window — joins
    q.processAllAvailable()
    clk.addData((2L, 1020L)) // outside the window — never joins
    q.processAllAvailable()
    assert(spark.table("ssj_t").collect().map(_.getLong(0)).toSet == Set(1L))
    // march both watermarks far past the impressions' state lifetime...
    imp.addData((8L, 2000L))
    clk.addData((9L, 3000L))
    q.processAllAvailable()
    // ...then a click that WOULD match imp 2 arrives below the watermark:
    // stale late input, dropped — state for imp 2 is gone
    clk.addData((2L, 1006L))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("ssj_t").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("maintained sketch table: per-batch sketches, merge-on-read distinct, idempotent redelivery") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("skdir").toString
    val ckpt = Files.createTempDirectory("skck").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("uid", "tpe").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.Sketches.maintainSketchTable(
          b, dir, id, Seq("tpe"), xxhash64(col("uid")), k = 1024)
      }
      .start()
    mem.addData((1L, "x"), (2L, "x"), (3L, "y"), (1L, "x"))
    q.processAllAvailable()
    def distinct(): Map[String, Long] =
      graft.operators.Sketches.sketchTableDistinct(spark, dir, Seq("tpe"))
        .as[(String, Long)].collect().toMap
    assert(distinct() == Map("x" -> 2L, "y" -> 1L))
    // batch 2: overlapping uids dedupe across batches via sketch merge
    mem.addData((2L, "x"), (4L, "x"), (3L, "y"), (5L, "z"))
    q.processAllAvailable()
    q.stop()
    assert(distinct() == Map("x" -> 3L, "y" -> 1L, "z" -> 1L))
    // redelivery: rewriting the same batch partition must not double-count
    val lastBatch = Seq((2L, "x"), (4L, "x"), (3L, "y"), (5L, "z"))
      .toDF("uid", "tpe")
    // partition discovery infers batch_id as int32 from the dir names
    val lastId = spark.read.parquet(dir).agg(max("batch_id")).head
      .getAs[Number](0).longValue()
    graft.operators.Sketches.maintainSketchTable(
      lastBatch, dir, lastId, Seq("tpe"), xxhash64(col("uid")), k = 1024)
    assert(distinct() == Map("x" -> 3L, "y" -> 1L, "z" -> 1L))
  }

  test("maintained aggregate view: per-batch delta fold, group move and delete, idempotent redelivery") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("aggdir").toString
    val ckpt = Files.createTempDirectory("aggck").toString
    val mem = MemoryStream[Op]
    val q = TransactionAssembler.assemble(mem.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StampedOp], id: Long) =>
        TimeMachineSink.maintainAggView(b.toDF(), dir, id, "g", "a")
      }
      .start()
    mem.addData(op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("g" -> "x", "a" -> "10.00")),
      op("INSERT", "t1", 3, key = "k2", after = Map("g" -> "x", "a" -> "5.00")),
      op("INSERT", "t1", 4, key = "k3", after = Map("g" -> "y", "a" -> "1.00")),
      op("COMMIT", "t1", 5))
    q.processAllAvailable()
    def view(): Map[String, (Long, BigDecimal)] =
      TimeMachineSink.aggViewRows(spark, dir)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
        .toMap
    assert(view() == Map(
      "x" -> ((2L, BigDecimal("15.00"))), "y" -> ((1L, BigDecimal("1.00")))))
    // batch 2: k1 value update, k2 moves x->y, k3 deleted
    val b2 = Seq(op("BEGIN", "t2", 6),
      op("UPDATE", "t2", 7, before = Map("g" -> "x", "a" -> "10.00"),
        after = Map("g" -> "x", "a" -> "12.00")),
      op("UPDATE", "t2", 8, key = "k2", before = Map("g" -> "x", "a" -> "5.00"),
        after = Map("g" -> "y", "a" -> "5.00")),
      op("DELETE", "t2", 9, key = "k3", before = Map("g" -> "y", "a" -> "1.00")),
      op("COMMIT", "t2", 10, ts = 1704067209000L))
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(view() == Map(
      "x" -> ((1L, BigDecimal("12.00"))), "y" -> ((1L, BigDecimal("5.00")))))
    // redelivery of the same batch id rebuilds from the same base
    val restamped = TransactionAssembler.assembleBatch(b2.toDS()).toDF()
    val lastV = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong).max
    TimeMachineSink.maintainAggView(restamped, dir, lastV, "g", "a")
    assert(view() == Map(
      "x" -> ((1L, BigDecimal("12.00"))), "y" -> ((1L, BigDecimal("5.00")))))
  }

  test("maintained SCD2 view: streaming interval fold tracks history across micro-batches") {
    implicit val sq = spark.sqlContext
    val snap = Files.createTempDirectory("scd2dir").toString
    val ckpt = Files.createTempDirectory("scd2ck").toString
    val mem = MemoryStream[Op]
    val q = TransactionAssembler.assemble(mem.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StampedOp], id: Long) =>
        TimeMachineSink.maintainScd2(b.toDF(), snap, id, Seq("a"))
      }
      .start()
    mem.addData(op("BEGIN", "t1", 1),
      op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("COMMIT", "t1", 3))
    q.processAllAvailable()
    def intervals(): Seq[(String, Boolean, String)] = {
      val vs = new java.io.File(snap).listFiles()
        .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong)
      spark.read.parquet(s"$snap/v=${vs.max}")
        .select(col("row_key"), col("is_current"), col("a"))
        .as[(String, Boolean, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    }
    assert(intervals() == Seq(("k1", true, "1")))
    // batch 2 (later commit ts): update k1 — the open interval closes, a
    // new current one opens; history is now two intervals
    mem.addData(op("BEGIN", "t2", 4, ts = 1704067209000L),
      op("UPDATE", "t2", 5, before = Map("a" -> "1"), after = Map("a" -> "2"),
        ts = 1704067209000L),
      op("COMMIT", "t2", 6, ts = 1704067209000L))
    q.processAllAvailable()
    q.stop()
    assert(intervals() == Seq(("k1", false, "1"), ("k1", true, "2")))
    // the maintained view equals the full batch rebuild over all ops
    val allOps = Seq(
      op("BEGIN", "t1", 1), op("INSERT", "t1", 2, after = Map("a" -> "1")),
      op("COMMIT", "t1", 3),
      op("BEGIN", "t2", 4, ts = 1704067209000L),
      op("UPDATE", "t2", 5, before = Map("a" -> "1"), after = Map("a" -> "2"),
        ts = 1704067209000L),
      op("COMMIT", "t2", 6, ts = 1704067209000L))
    val full = TimeMachineSink.scd2Intervals(
      TimeMachineSink.organize(TimeMachineSink.mutationCells(
        TransactionAssembler.assembleBatch(allOps.toDS()).toDF())), Seq("a"))
      .select(col("row_key"), col("is_current"), col("a"))
      .as[(String, Boolean, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(intervals() == full)
  }
}
