package graft

import org.apache.spark.sql.functions._

import graft.model.{RawEvent, RawEventType => RT, RowImage}
import graft.operators.RawBinlogAdapter
import graft.streaming.TransactionAssembler

/** Raw-event long tail (reference RawEventType.java:4-43): supplier-edge
  * normalization into the op stream. */
class RawBinlogAdapterSpec extends SparkTestBase {
  import spark.implicits._

  private val F = "binlog.000001"
  private def ev(code: Int, pos: Long, ts: Long = 1000L): RawEvent =
    RawEvent(code = code, serverId = 1L, file = F, position = pos, tsMs = ts)

  private def txn1: Seq[RawEvent] = Seq(
    ev(RT.FORMAT_DESCRIPTION, 4),
    ev(RT.PREVIOUS_GTIDS, 10).copy(gtidSet = Some("s1:1-41")),
    ev(RT.GTID, 100).copy(gtid = Some("s1:42")),
    ev(RT.QUERY, 110).copy(sql = Some("BEGIN")),
    ev(RT.TABLE_MAP, 120).copy(tableId = Some(7L), db = Some("shop"),
      table = Some("orders"), pkColumns = Seq("id")),
    ev(RT.ROWS_QUERY, 125).copy(sql = Some("INSERT INTO orders VALUES (1),(2)")),
    ev(RT.WRITE_ROWS, 130, ts = 1500L).copy(tableId = Some(7L), rows = Seq(
      RowImage(Map.empty, Map("id" -> "1", "amt" -> "10")),
      RowImage(Map.empty, Map("id" -> "2", "amt" -> "20")))),
    ev(RT.XID, 140, ts = 2000L).copy(xid = Some(99L)))

  test("gtid + table_map + write_rows + xid normalize to stamped INSERTs") {
    val ops = RawBinlogAdapter.toOps(spark.createDataset(txn1)).collect()
    val inserts = ops.filter(_.kind == "INSERT").sortBy(_.rowKey)
    assert(inserts.length == 2)
    assert(inserts.forall(o => o.txnId == "s1:42" && o.table == "orders"))
    assert(inserts.map(_.rowKey).toSeq == Seq("1", "2"))
    assert(ops.count(_.kind == "BEGIN") == 2) // GTID begin + explicit BEGIN query
    val commit = ops.filter(_.kind == "COMMIT")
    assert(commit.map(_.xxid).toSeq == Seq(99L))
    // end-to-end: assembler stamps rows with the XID commit timestamp
    val stamped = TransactionAssembler.assembleBatch(spark.createDataset(ops.toSeq))
      .collect().filter(_.kind == "INSERT")
    assert(stamped.forall(s => s.commitTsMs == 2000L && s.xxid == 99L))
  }

  test("interleaved table maps resolve per tableId; update/delete kinds and pk from before-image") {
    val raw = Seq(
      ev(RT.GTID, 100).copy(gtid = Some("s1:50")),
      ev(RT.TABLE_MAP, 110).copy(tableId = Some(1L), db = Some("d"),
        table = Some("users"), pkColumns = Seq("uid")),
      ev(RT.TABLE_MAP, 111).copy(tableId = Some(2L), db = Some("d"),
        table = Some("carts"), pkColumns = Seq("cid", "uid")),
      ev(RT.EXT_UPDATE_ROWS, 120).copy(tableId = Some(1L), rows = Seq(
        RowImage(Map("uid" -> "u1", "n" -> "a"), Map("uid" -> "u1", "n" -> "b")))),
      ev(RT.EXT_DELETE_ROWS, 130).copy(tableId = Some(2L), rows = Seq(
        RowImage(Map("cid" -> "c9", "uid" -> "u1"), Map.empty))),
      // re-mapped tableId 1 later in the log: as-of picks the NEW map
      ev(RT.TABLE_MAP, 140).copy(tableId = Some(1L), db = Some("d"),
        table = Some("users_v2"), pkColumns = Seq("uid")),
      ev(RT.WRITE_ROWS, 150).copy(tableId = Some(1L), rows = Seq(
        RowImage(Map.empty, Map("uid" -> "u7")))),
      ev(RT.XID, 160).copy(xid = Some(1L)))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val upd = ops.find(_.kind == "UPDATE").get
    assert(upd.table == "users" && upd.rowKey == "u1" && upd.before("n") == "a")
    val del = ops.find(_.kind == "DELETE").get
    assert(del.table == "carts" && del.rowKey == "c9;u1") // composite pk, before-image
    val ins = ops.find(_.kind == "INSERT").get
    assert(ins.table == "users_v2" && ins.rowKey == "u7")
  }

  test("QUERY classification: DDL becomes a barrier op, OTHER drops; bare XA_PREPARE parks") {
    val raw = Seq(
      ev(RT.GTID, 100).copy(gtid = Some("s1:60")),
      ev(RT.QUERY, 110).copy(sql = Some("ALTER TABLE orders ADD COLUMN note text")),
      ev(RT.QUERY, 120).copy(sql = Some("GRANT SELECT ON *.* TO 'x'")), // OTHER → dropped
      ev(RT.XA_PREPARE, 130).copy(xaId = Some("xa-1")))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val ddl = ops.find(_.kind == "DDL").get
    assert(ddl.table == "orders" && ddl.after("ddl").startsWith("ALTER TABLE"))
    assert(!ops.exists(_.after.get("ddl").exists(_.startsWith("GRANT"))))
    // a prepared branch with NO decision yet must not commit — a later
    // XA ROLLBACK would make those rows phantoms
    assert(ops.count(_.kind == "COMMIT") == 0)
  }

  test("XA: prepare→rollback yields zero data ops; prepare→commit commits the branch") {
    def branch(gtid: String, basePos: Long, xid: String, rowId: String) = Seq(
      ev(RT.GTID, basePos).copy(gtid = Some(gtid)),
      ev(RT.TABLE_MAP, basePos + 10).copy(tableId = Some(7L), db = Some("shop"),
        table = Some("orders"), pkColumns = Seq("id")),
      ev(RT.WRITE_ROWS, basePos + 20).copy(tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("id" -> rowId)))),
      ev(RT.XA_PREPARE, basePos + 30).copy(xaId = Some(xid)))
    val raw =
      branch("s1:70", 100, "xa-keep", "1") ++
      branch("s1:71", 200, "xa-void", "2") ++ Seq(
        // decisions arrive later, each in its own transaction, xid-linked
        ev(RT.GTID, 300).copy(gtid = Some("s1:72")),
        ev(RT.QUERY, 310, ts = 9000L).copy(sql = Some("XA COMMIT 'xa-keep'")),
        ev(RT.GTID, 400).copy(gtid = Some("s1:73")),
        ev(RT.QUERY, 410).copy(sql = Some("XA ROLLBACK 'xa-void'")))

    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    // exactly one commit: the kept branch, AT THE DECISION position/time
    val commits = ops.filter(_.kind == "COMMIT")
    assert(commits.map(_.txnId).toSeq == Seq("s1:70"))
    assert(commits.head.tsMs == 9000L)
    // through the assembler: the rolled-back branch's rows are DROPPED
    val stamped = TransactionAssembler.assembleBatch(
      spark.createDataset(ops.toSeq)).collect().filter(_.kind == "INSERT")
    assert(stamped.map(_.rowKey).toSeq == Seq("1"))
    assert(stamped.forall(_.commitTsMs == 9000L))

    // streaming form agrees — including decisions in a LATER micro-batch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawEvent]
    val q = RawBinlogAdapter.toOpsStreaming(mem.toDS())
      .writeStream.format("memory").queryName("xa_stream")
      .outputMode("append").start()
    try {
      mem.addData(raw.take(8): _*) // both branches prepared, no decisions
      q.processAllAvailable()
      assert(!spark.table("xa_stream").as[graft.streaming.Op].collect()
        .exists(_.kind == "COMMIT"))
      mem.addData(raw.drop(8): _*) // decisions cross the batch boundary
      q.processAllAvailable()
      val streamed = spark.table("xa_stream").as[graft.streaming.Op].collect()
      assert(streamed.filter(_.kind == "COMMIT").map(_.txnId).toSeq == Seq("s1:70"))
    } finally q.stop()
  }

  test("XA COMMIT ... ONE PHASE (never prepared) commits its own transaction") {
    val raw = Seq(
      ev(RT.GTID, 100).copy(gtid = Some("s1:80")),
      ev(RT.TABLE_MAP, 110).copy(tableId = Some(7L), db = Some("shop"),
        table = Some("orders"), pkColumns = Seq("id")),
      ev(RT.WRITE_ROWS, 120).copy(tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("id" -> "9")))),
      ev(RT.QUERY, 130, ts = 5000L).copy(sql = Some("XA COMMIT 'xa-1p' ONE PHASE")))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val commits = ops.filter(_.kind == "COMMIT")
    assert(commits.map(c => (c.txnId, c.tsMs)).toSeq == Seq(("s1:80", 5000L)))
    val stamped = TransactionAssembler.assembleBatch(
      spark.createDataset(ops.toSeq)).collect().filter(_.kind == "INSERT")
    assert(stamped.map(_.rowKey).toSeq == Seq("9"))
  }

  test("table maps are per server: two servers reusing a tableId with interleaved ordinals") {
    def on(server: Long)(e: RawEvent) = e.copy(serverId = server)
    val raw = Seq(
      on(1)(ev(RT.GTID, 100).copy(gtid = Some("s1:1"))),
      on(1)(ev(RT.TABLE_MAP, 110).copy(tableId = Some(7L), db = Some("shop"),
        table = Some("orders"), pkColumns = Seq("id"))),
      on(2)(ev(RT.GTID, 105).copy(gtid = Some("s2:1"))),
      // server 2 maps the same tableId to another table, between server 1's
      // map and server 1's rows event in ordinal terms
      on(2)(ev(RT.TABLE_MAP, 115).copy(tableId = Some(7L), db = Some("crm"),
        table = Some("users"), pkColumns = Seq("uid"))),
      on(1)(ev(RT.WRITE_ROWS, 120).copy(tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("id" -> "1"))))),
      on(2)(ev(RT.WRITE_ROWS, 125).copy(tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("uid" -> "u9"))))),
      on(1)(ev(RT.XID, 130).copy(xid = Some(1L))),
      on(2)(ev(RT.XID, 135).copy(xid = Some(2L))))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val inserts = ops.filter(_.kind == "INSERT").map(o => (o.txnId, o.table, o.rowKey)).toSet
    assert(inserts == Set(("s1:1", "orders", "1"), ("s2:1", "users", "u9")))
  }

  test("XA xid reuse: a later ONE PHASE commit of a decided xid commits its own rows") {
    val map = ev(RT.TABLE_MAP, 0).copy(tableId = Some(7L), db = Some("shop"),
      table = Some("orders"), pkColumns = Seq("id"))
    def rows(pos: Long, id: String) = ev(RT.WRITE_ROWS, pos).copy(tableId = Some(7L),
      rows = Seq(RowImage(Map.empty, Map("id" -> id))))
    val raw = Seq(
      ev(RT.GTID, 100).copy(gtid = Some("s1:90")), map.copy(position = 110), rows(120, "1"),
      ev(RT.XA_PREPARE, 130).copy(xaId = Some("x")),
      ev(RT.GTID, 200).copy(gtid = Some("s1:91")),
      ev(RT.QUERY, 210, ts = 3000L).copy(sql = Some("XA COMMIT 'x'")),
      // the same xid again, committed in one phase: nothing is parked
      // under it any more, so it commits its own transaction
      ev(RT.GTID, 300).copy(gtid = Some("s1:92")), map.copy(position = 310), rows(320, "2"),
      ev(RT.QUERY, 330, ts = 5000L).copy(sql = Some("XA COMMIT 'x' ONE PHASE")))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val commits = ops.filter(_.kind == "COMMIT").map(c => (c.txnId, c.tsMs)).toSet
    assert(commits == Set(("s1:90", 3000L), ("s1:92", 5000L)))
    val stamped = TransactionAssembler.assembleBatch(
      spark.createDataset(ops.toSeq)).collect().filter(_.kind == "INSERT")
    assert(stamped.map(s => (s.rowKey, s.commitTsMs)).toSet == Set(("1", 3000L), ("2", 5000L)))
  }

  test("building toOps launches no Spark job") {
    val jobs = jobsLaunchedBy {
      RawBinlogAdapter.toOps(spark.createDataset(txn1 :+
        ev(RT.XA_PREPARE, 150).copy(xaId = Some("x"))))
    }
    assert(jobs == 0, s"building toOps launched $jobs job(s)")
  }

  test("runBatch over toOps with a catalog and validation leaves nothing cached") {
    import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
    spark.catalog.clearCache() // whatever earlier specs left cached
    val dir = java.nio.file.Files.createTempDirectory("toopscache").toString
    val cfg = PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitions = 2,
      validationDir = Some(s"$dir/validation"),
      schemaCatalog = Some(new graft.augment.SchemaCatalog("shop")))
    val raw = ev(RT.QUERY, 50).copy(sql = Some("CREATE TABLE orders (id INT PRIMARY KEY, amt INT)")) +: txn1
    ReplicatorPipeline.runBatch(RawBinlogAdapter.toOps(spark.createDataset(raw)), cfg)
    assert(spark.read.parquet(s"$dir/sink").filter(col("table") === "orders")
      .select("row_key").distinct().count() == 2)
    assert(spark.sharedState.cacheManager.isEmpty, "runBatch over toOps left a cache")
  }

  test("streaming supplier state: table-map/gtid context crosses micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawEvent]
    val q = RawBinlogAdapter.toOpsStreaming(mem.toDS())
      .writeStream.format("memory").queryName("raw_stream_ops")
      .outputMode("append").start()
    try {
      // batch 1 ends mid-transaction: context (gtid, table map, rows query)
      // is set but no rows event has arrived yet
      mem.addData(txn1.take(6): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("raw_stream_ops").as[graft.streaming.Op].collect()
      assert(!afterB1.exists(_.kind == "INSERT"))
      // batch 2 delivers the rows + commit: the stateful supplier must
      // resolve them against batch 1's context
      mem.addData(txn1.drop(6): _*)
      q.processAllAvailable()
      val streamed = spark.table("raw_stream_ops").as[graft.streaming.Op].collect()
      val batch = RawBinlogAdapter.toOps(spark.createDataset(txn1)).collect()
      def sorted(ops: Seq[graft.streaming.Op]) =
        ops.sortBy(o => (o.eventId, o.kind, o.rowKey)).toList
      // every op, BEGINs included, agrees with the bounded walk
      assert(sorted(streamed.toSeq) == sorted(batch.toSeq))
    } finally q.stop()
  }

  test("raw stream end-to-end: supplier state machine → per-batch assembly → time-machine sink") {
    // Spark allows ONE flatMapGroupsWithState per streaming query, so the
    // deployment shape is: stateful supplier normalization in the query,
    // transaction assembly + sink inside foreachBatch (the batch-form
    // assembler is exact on the committed prefix of each micro-batch)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
    implicit val sqlCtx = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("rawsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rawckpt").toString
    val cfg = PipelineConfig(sink, ckpt, partitions = 2)
    val mem = MemoryStream[RawEvent]
    val q = RawBinlogAdapter.toOpsStreaming(mem.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.Op], _: Long) =>
        ReplicatorPipeline.runBatch(batch, cfg)
      }.start()
    try {
      mem.addData(txn1: _*)
      q.processAllAvailable()
      val latest = graft.streaming.TimeMachineSink.latestRows(spark, sink)
      val vals = latest.select(col("row_key"), element_at(col("cols"), "amt"))
        .as[(String, String)].collect().toMap
      assert(vals == Map("1" -> "10", "2" -> "20"))
    } finally q.stop()
  }

  test("table-map resolution survives binlog rotation (positions reset per file)") {
    // positions RESET across files: the rows event in file 1 at pos 1000
    // must resolve to file 1's map even though file 2's re-map has a
    // NUMERICALLY smaller position (600 < 1000)
    val raw = Seq(
      ev(RT.GTID, 100).copy(gtid = Some("s1:70")),
      ev(RT.TABLE_MAP, 500).copy(tableId = Some(7L), db = Some("d"),
        table = Some("orders_v1"), pkColumns = Seq("id")),
      ev(RT.WRITE_ROWS, 1000).copy(tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("id" -> "1")))),
      ev(RT.ROTATE, 2000).copy(nextFile = Some("binlog.000002")),
      ev(RT.TABLE_MAP, 600).copy(file = "binlog.000002", tableId = Some(7L),
        db = Some("d"), table = Some("orders_v2"), pkColumns = Seq("id")),
      ev(RT.WRITE_ROWS, 700).copy(file = "binlog.000002", tableId = Some(7L),
        rows = Seq(RowImage(Map.empty, Map("id" -> "2")))),
      ev(RT.XID, 800).copy(file = "binlog.000002", xid = Some(3L)))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    val byKey = ops.filter(_.kind == "INSERT").map(o => o.rowKey -> o.table).toMap
    assert(byKey == Map("1" -> "orders_v1", "2" -> "orders_v2"))
  }

  test("control tail surfaces with names and payloads, never as data ops") {
    val raw = txn1 ++ Seq(
      ev(RT.ROTATE, 200).copy(nextFile = Some("binlog.000002")),
      ev(RT.HEARTBEAT, 210),
      ev(RT.INTVAR, 220).copy(intVar = Some(5L)))
    val ops = RawBinlogAdapter.toOps(spark.createDataset(raw)).collect()
    assert(ops.length == RawBinlogAdapter.toOps(spark.createDataset(txn1)).count())
    val ctl = RawBinlogAdapter.controlEvents(spark.createDataset(raw))
      .select("event_type").as[String].collect().toSet
    assert(ctl == Set("FORMAT_DESCRIPTION", "PREVIOUS_GTIDS", "ROTATE",
      "HEARTBEAT", "INTVAR"))
    // full name registry parity with the reference enum: 39 codes, 0..38
    assert(RT.names.size == 39 && RT.names.keySet == (0 to 38).toSet)
  }
}
