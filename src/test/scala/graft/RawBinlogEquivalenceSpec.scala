package graft

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.augment.DdlClassifier
import graft.model.{RawEvent, RawEventType => RT, RowImage}
import graft.operators.{RawBinlogAdapter, TemporalJoins}
import graft.streaming.Op

/** The bounded supplier walk (`toOps`) against the streamed one
  * (`toOpsStreaming` over random micro-batch splits) and against the
  * column-native normalization it replaced, on generated raw logs. */
class RawBinlogEquivalenceSpec extends SparkTestBase {
  import spark.implicits._
  import RawBinlogEquivalenceSpec.Action

  private val action: Gen[Action] = for {
    kind <- Gen.frequency(4 -> 0, 2 -> 1, 1 -> 2, 4 -> 3, 8 -> 4, 3 -> 5, 1 -> 6,
      1 -> 7, 2 -> 8, 1 -> 9, 2 -> 10, 2 -> 11, 1 -> 12, 1 -> 13)
    server <- Gen.choose(0, 2)
    a <- Gen.choose(0, 999)
    b <- Gen.choose(0, 999)
    rows <- Gen.choose(0, 3)
  } yield Action(kind, server, a, b, rows)

  private val actions: Gen[List[Action]] = Gen.choose(10, 60).flatMap(Gen.listOfN(_, action))

  private val tables = Vector("orders" -> Seq("id"), "carts" -> Seq("cid", "uid"),
    "users" -> Seq("uid"), "logs" -> Seq.empty[String])
  private val ddl = Vector("ALTER TABLE orders ADD COLUMN note TEXT",
    "CREATE TABLE carts (cid INT, uid INT)", "/* c */ ALTER TABLE `users` DROP COLUMN n",
    "DROP VIEW v1", "ANALYZE TABLE orders", "CREATE TRIGGER tr BEFORE INSERT ON orders")
  private val other = Vector("GRANT SELECT ON *.* TO 'x'", "SET @a = 1", "FLUSH LOGS")
  private val controls = Vector(RT.FORMAT_DESCRIPTION, RT.HEARTBEAT, RT.PREVIOUS_GTIDS,
    RT.INTVAR, RT.ROWS_QUERY, RT.ANONYMOUS_GTID, RT.IGNORABLE)
  private val rowCodes = RT.rowCodes.toVector.sorted

  /** Log `ix` as raw events in generation order (binlog order per server).
    * Its servers, files (sequence `ix * 100 + n`), tableIds and xids are its
    * own, so many logs can share one input and `eventId >> 40` / 100 tells
    * whose an op is. Within a log, the servers share tableIds; `reuse`
    * draws xids from a pool of two instead of fresh ones; `nulls` lets
    * GTID, TABLE_MAP, rows and XID events miss their payload. */
  private def interpret(ix: Int, acts: List[Action], servers: Int, reuse: Boolean,
                        nulls: Boolean): Seq[RawEvent] = {
    final class Server(val id: Long) {
      var fileSeq = ix * 100 + 1
      var pos = 4L
      var gtidN = 0
    }
    val srv = Vector.tabulate(servers)(s => new Server(ix * 10L + s + 1))
    var prepared = Vector.empty[String]
    var fresh = 0
    var ts = 1000L
    def freshXid() = { fresh += 1; s"x${ix}_$fresh" }
    def decided(a: Int) =
      if (reuse) s"p${ix}_${a % 2}"
      else if (prepared.nonEmpty) {
        val x = prepared(a % prepared.size); prepared = prepared.filterNot(_ == x); x
      } else freshXid()
    def image(code: Int, a: Int, b: Int, i: Int) = {
      val img = Map("id" -> s"${a % 5}", "cid" -> s"${(b + i) % 4}", "uid" -> s"u${(a + i) % 3}",
        "n" -> s"$i")
      if (RT.writeRowCodes(code)) RowImage(Map.empty, img)
      else if (RT.updateRowCodes(code)) RowImage(img, img + ("n" -> s"v$b"))
      else RowImage(img, Map.empty)
    }
    acts.flatMap { case Action(kind, server, a, b, n) =>
      val s = srv(server % servers)
      s.pos += 1 + a % 40
      ts += b % 3
      val e = RawEvent(code = RT.UNKNOWN, serverId = s.id, file = f"binlog.${s.fileSeq}%06d",
        position = s.pos, tsMs = ts)
      val tableIdBase = ix * 10L
      kind match {
        case 0 =>
          s.gtidN += 1
          Seq(e.copy(code = RT.GTID,
            gtid = if (nulls && a % 7 == 0) None else Some(s"srv${s.id}:${s.gtidN}")))
        case 1 => Seq(e.copy(code = RT.QUERY, sql = Some(if (b % 2 == 0) "BEGIN" else "START TRANSACTION")))
        case 2 => Seq(e.copy(code = RT.QUERY, sql = Some("COMMIT")))
        case 3 =>
          val (table, pk) = tables(b % tables.size)
          Seq(e.copy(code = RT.TABLE_MAP,
            tableId = if (nulls && b % 9 == 0) None else Some(tableIdBase + a % 3),
            db = Some("shop"), table = if (nulls && b % 9 == 1) None else Some(table),
            pkColumns = pk))
        case 4 =>
          // tableId base + 3 is never mapped: its rows have no map
          val code = rowCodes(a % rowCodes.size)
          Seq(e.copy(code = code,
            tableId = if (nulls && b % 9 == 0) None else Some(tableIdBase + b % 4),
            rows = (0 until n).map(image(code, a, b, _))))
        case 5 => Seq(e.copy(code = RT.XID, xid = if (nulls && b % 5 == 0) None else Some(b.toLong)))
        case 6 => Seq(e.copy(code = RT.QUERY, sql = Some(ddl(a % ddl.size))))
        case 7 => Seq(e.copy(code = RT.QUERY, sql = Some(other(a % other.size))))
        case 8 =>
          val code = controls(a % controls.size)
          Seq(e.copy(code = code, sql = if (code == RT.ROWS_QUERY) Some("INSERT INTO orders VALUES (1)") else None))
        case 9 =>
          // rotation: positions restart in the next file
          val rotate = e.copy(code = RT.ROTATE, nextFile = Some(f"binlog.${s.fileSeq + 1}%06d"))
          s.fileSeq += 1
          s.pos = 4L
          Seq(rotate)
        case 10 =>
          val x = if (reuse) s"p${ix}_${a % 2}" else freshXid()
          if (!reuse) prepared :+= x
          Seq(e.copy(code = RT.XA_PREPARE, xaId = Some(if (b % 2 == 0) s"'$x'" else x)))
        case 11 => Seq(e.copy(code = RT.QUERY, sql = Some(s"XA COMMIT '${decided(a)}'")))
        case 12 => Seq(e.copy(code = RT.QUERY, sql = Some(s"XA ROLLBACK '${decided(a)}'")))
        case _ =>
          val x = if (reuse) s"p${ix}_${a % 2}" else freshXid()
          Seq(e.copy(code = RT.QUERY, sql = Some(s"XA COMMIT '$x' ONE PHASE")))
      }
    }
  }

  private def logOf(o: Op): Int = ((o.eventId >> 40) / 100).toInt

  private def bags(ops: Seq[Op]): Map[Int, Map[Op, Int]] =
    ops.groupBy(logOf).view.mapValues(_.groupMapReduce(identity)(_ => 1)(_ + _)).toMap

  private def assertSameOps(what: String, logs: Seq[Seq[RawEvent]], got: Seq[Op], want: Seq[Op]): Unit = {
    val (g, w) = (bags(got), bags(want))
    logs.indices.foreach { ix =>
      val (gi, wi) = (g.getOrElse(ix, Map.empty), w.getOrElse(ix, Map.empty))
      assert(gi == wi, s"$what, log $ix:\n  only in toOps: ${gi.keySet -- wi.keySet}\n" +
        s"  only in the other: ${wi.keySet -- gi.keySet}\n  log: ${logs(ix).mkString("\n    ")}")
    }
  }

  test("toOps equals toOpsStreaming over random micro-batch splits: 1-3 servers, rotations, " +
      "re-mapped and shared tableIds, xid reuse, missing payloads") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    for (round <- 0 until 3) {
      val logs = (0 until 12).map { ix =>
        val seed = Seed(round * 1000L + ix)
        val acts = actions.pureApply(Gen.Parameters.default, seed)
        val servers = Gen.choose(1, 3).pureApply(Gen.Parameters.default, seed.next)
        interpret(ix, acts, servers, reuse = ix % 2 == 1, nulls = ix % 3 != 0)
      }
      // each log split at up to three random points; micro-batch k carries
      // every log's k-th piece
      val pieces = logs.zipWithIndex.map { case (log, ix) =>
        val cuts = Gen.listOfN(3, Gen.choose(0, log.size))
          .pureApply(Gen.Parameters.default, Seed(round * 1000L + ix + 500)).sorted
        val bounds = 0 +: cuts :+ log.size
        bounds.zip(bounds.tail).map { case (from, to) => log.slice(from, to) }
      }
      val bounded = RawBinlogAdapter.toOps(logs.flatten.toDS()).collect().toSeq
      val mem = MemoryStream[RawEvent]
      val name = s"supplier_equiv_$round"
      val q = RawBinlogAdapter.toOpsStreaming(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        pieces.transpose.foreach { batch =>
          mem.addData(batch.flatten: _*)
          q.processAllAvailable()
        }
        val streamed = spark.table(name).as[Op].collect().toSeq
        assertSameOps(s"round $round, streamed", logs, bounded, streamed)
      } finally q.stop()
    }
  }

  test("toOps equals the column-native normalization on one server without xid reuse") {
    val logs = (0 until 40).map { ix =>
      interpret(ix, actions.pureApply(Gen.Parameters.default, Seed(7000L + ix)),
        servers = 1, reuse = false, nulls = false)
    }
    val raw = logs.flatten.toDS()
    assertSameOps("column form", logs, RawBinlogAdapter.toOps(raw).collect().toSeq,
      columnForm(raw).collect().toSeq)
  }

  /** The column-native normalization `toOps` ran before the supplier state
    * machine served both forms: GTID context by a running window, TABLE_MAP
    * resolution by an as-of join on tableId, XA decisions by two joins on
    * the xid. Its joins do not key on the server and it pairs a decision
    * with every earlier prepare of its xid, so it is only a reference on
    * single-server logs whose xids are prepared and decided at most once;
    * it also reads a GTID event without a gtid, a TABLE_MAP without a
    * table and a tableId-less map differently. */
  private def columnForm(raw: Dataset[RawEvent]): Dataset[Op] = {
    def seqAny(s: Set[Int]): Seq[Any] = s.toSeq
    def ordinal(df: Dataset[_]) = RawBinlogAdapter.binlogOrdinal(df("file"), df("position"))
    val ord = RawBinlogAdapter.binlogOrdinal(col("file"), col("position"))
    def classify(sql: Column): Column = {
      import DdlClassifier._
      def m(re: scala.util.matching.Regex) = sql.rlike(re.pattern.pattern())
      when(m(beginRe), Begin.name).when(m(commitRe), Commit.name)
        .when(m(xaCommitRe), XaCommit.name).when(m(xaRollbackRe), XaRollback.name)
        .when(m(definerRe), DdlDefiner.name).when(m(tempTableRe), DdlTemporaryTable.name)
        .when(m(viewRe), DdlView.name).when(m(analyzeRe), DdlAnalyze.name)
        .when(m(tableRe), DdlTable.name).otherwise(Other.name)
    }
    def normXid(c: Column): Column = regexp_replace(c, "['`\"\\s]", "")
    def xaXid(sql: Column): Column = normXid(regexp_replace(regexp_replace(sql,
      "(?i)^\\s*(?:/\\*.*?\\*/\\s*)?xa\\s+(?:commit|rollback)\\s+", ""),
      "(?i)\\s+one\\s+phase\\s*$", ""))
    val w = Window.partitionBy(col("serverId")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ctx = raw.toDF().withColumn("curGtid",
      last(when(col("code") === RT.GTID, col("gtid")), ignoreNulls = true).over(w))
    val txnId = coalesce(col("curGtid"), concat(lit("pos:"), col("position")))
    val emptyMap = typedLit(Map.empty[String, String])
    def marker(kind: String, txn: Column, xxid: Column, eventId: Column, ts: Column) =
      Seq(lit(kind).as("kind"), txn.as("txnId"), xxid.as("xxid"), eventId.as("eventId"),
        ts.as("tsMs"), lit("").as("table"), lit("").as("rowKey"),
        emptyMap.as("before"), emptyMap.as("after"))

    val rowEvents = ctx.filter(col("code").isin(seqAny(RT.rowCodes): _*))
    val tableMaps = ctx.filter(col("code") === RT.TABLE_MAP)
    val resolved = TemporalJoins.asOfJoin(rowEvents, col("tableId"), ord,
      tableMaps, tableMaps("tableId"), ordinal(tableMaps),
      Seq("mapTable" -> tableMaps("table"), "mapPks" -> tableMaps("pkColumns")))
    val rowOps = resolved.withColumn("row", explode(col("rows"))).select(
      when(col("code").isin(seqAny(RT.writeRowCodes): _*), "INSERT")
        .when(col("code").isin(seqAny(RT.updateRowCodes): _*), "UPDATE")
        .otherwise("DELETE").as("kind"),
      txnId.as("txnId"), lit(0L).as("xxid"), ord.as("eventId"), col("tsMs"),
      col("mapTable").as("table"),
      array_join(transform(col("mapPks"), c => coalesce(element_at(col("row.after"), c),
        element_at(col("row.before"), c))), ";").as("rowKey"),
      coalesce(col("row.before"), emptyMap).as("before"),
      coalesce(col("row.after"), emptyMap).as("after"))

    val queries = ctx.filter(col("code") === RT.QUERY).withColumn("cls", classify(col("sql")))
    val isDdl = col("cls").startsWith("DDL")
    val queryOps = queries
      .filter(!col("cls").isin(DdlClassifier.Other.name, DdlClassifier.XaCommit.name,
        DdlClassifier.XaRollback.name))
      .select(when(isDdl, "DDL").otherwise(col("cls")).as("kind"),
        txnId.as("txnId"), lit(0L).as("xxid"), ord.as("eventId"), col("tsMs"),
        coalesce(regexp_extract(col("sql"), "(?i)table\\s+`?([A-Za-z0-9_]+)`?", 1), lit(""))
          .as("table"),
        lit("").as("rowKey"), emptyMap.as("before"),
        when(isDdl, map(lit("ddl"), col("sql"))).otherwise(emptyMap).as("after"))
    val beginOps = ctx.filter(col("code") === RT.GTID)
      .select(marker("BEGIN", col("gtid"), lit(0L), ord, col("tsMs")): _*)
    val commitOps = ctx.filter(col("code") === RT.XID)
      .select(marker("COMMIT", txnId, coalesce(col("xid"), lit(0L)), ord, col("tsMs")): _*)

    // a prepare commits at the first decision on its xid after it, if that
    // decision is XA COMMIT; an XA COMMIT with no earlier prepare of its
    // xid commits its own transaction
    val xaPrep = ctx.filter(col("code") === RT.XA_PREPARE)
      .select(txnId.as("braTxn"), normXid(col("xaId")).as("braXid"), ord.as("braOrd"))
    val xaDec = queries
      .filter(col("cls").isin(DdlClassifier.XaCommit.name, DdlClassifier.XaRollback.name))
      .select(col("cls").as("decCls"), xaXid(col("sql")).as("decXid"), ord.as("decOrd"),
        col("tsMs").as("decTs"), txnId.as("decTxn"))
    val after = col("braXid") === col("decXid") && col("decOrd") > col("braOrd")
    val xaCommitOps = xaPrep.join(xaDec, after, "left")
      .groupBy(col("braTxn"), col("braOrd"))
      .agg(min(when(col("decCls").isNotNull,
        struct(col("decOrd"), col("decCls"), col("decTs")))).as("d"))
      .filter(col("d").isNotNull && col("d.decCls") === DdlClassifier.XaCommit.name)
      .select(marker("COMMIT", col("braTxn"), lit(0L), col("d.decOrd"), col("d.decTs")): _*)
    val xaOnePhase = xaDec.filter(col("decCls") === DdlClassifier.XaCommit.name)
      .join(xaPrep, after, "left_anti")
      .select(marker("COMMIT", col("decTxn"), lit(0L), col("decOrd"), col("decTs")): _*)

    Seq(queryOps, beginOps, commitOps, xaCommitOps, xaOnePhase).foldLeft(rowOps)(_ unionByName _)
      .as[Op]
  }
}

object RawBinlogEquivalenceSpec {
  /** One generator step; `kind` picks the event, the rest parameterize it. */
  final case class Action(kind: Int, server: Int, a: Int, b: Int, rows: Int)
}
