package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.augment.DdlClassifier
import graft.model.{RawEvent, RawEventType => RT}
import graft.streaming.{Op, TransactionAssembler}

/** Normalizes the raw binlog event layer into the engine's [[Op]] stream —
  * the Spark analog of the reference's supplier→augmenter edge
  * (reference: RawEventType.java:4-43 dispatch; Augmenter.java:149-191
  * context updates).
  *
  * The reference walks the binlog single-threaded, holding mutable supplier
  * state: the current GTID (set by a GTID event, read by everything until
  * the next one), a tableId → TABLE_MAP cache and the XA branches parked
  * until their decision. Here that walk is one transition, [[step]], over
  * an explicit [[SupplierState]], driven per server in binlog order. A
  * binlog is inherently sequential PER SERVER, so serverId is the right —
  * and only — grouping key; multi-source replication scales out across
  * servers exactly like the reference runs one supplier per source.
  * [[toOps]] walks a bounded log from an empty state; [[toOpsStreaming]]
  * carries the state across micro-batches.
  *
  * Dispatch parity: QUERY classifies via [[DdlClassifier]] (BEGIN / COMMIT
  * / XA COMMIT / XA ROLLBACK / DDL classes / OTHER-dropped); XID commits
  * with its xxid; XA_PREPARE parks the branch until its XA COMMIT /
  * ROLLBACK decision arrives (committing at prepare position would
  * replicate phantom rows for a branch that is later rolled back —
  * reference XAPrepareRawEventData); GTID begins a transaction;
  * all three generations of rows events (PRE_GA_/plain/EXT_) decode
  * identically; control events (ROTATE, FORMAT_DESCRIPTION, HEARTBEAT,
  * PREVIOUS_GTIDS, …) never become data ops and surface via
  * [[controlEvents]].
  */
object RawBinlogAdapter {

  private def seqAny(s: Set[Int]): Seq[Any] = s.toSeq.map(_.asInstanceOf[Any])

  /** Total binlog order as ONE sortable long: file sequence number (binlog
    * file names carry a numeric suffix — `binlog.000001`) in the high bits,
    * position in the low 40 (positions are bounded by the 1 GB-ish
    * max_binlog_size, far under 2^40). Positions RESET on rotation, so bare
    * position comparisons are wrong the moment a log spans files — every
    * ordering in this adapter (the bounded per-server sort, the streaming
    * sort) goes through this ordinal, and it IS `Op.eventId`, so
    * downstream consumers that order by event id (DDL replay in
    * ReplicatorPipeline.writeBatch, version tie-breaks in TimeMachineSink)
    * inherit the cross-file total order.
    *
    * Contract: MySQL binlog suffixes are at most 6 digits (the server wraps
    * at 999999), far below the 2^23 ceiling this layout holds before Long
    * overflow; the clamp keeps any out-of-contract suffix (date-stamped
    * names etc.) ordered AFTER every in-contract file instead of wrapping
    * negative and silently scrambling. A file with NO numeric suffix maps
    * to sequence 0 — correct for the single-file streams tests synthesize,
    * but two DIFFERENT suffix-less files would collide: rotated logs need
    * their numeric suffixes. */
  private final val MaxFileSeq = (1L << 23) - 1

  def binlogOrdinal(file: Column, position: Column): Column =
    (least(coalesce(regexp_extract(file, "(\\d+)$", 1).cast("long"), lit(0L)),
      lit(MaxFileSeq)) * lit(1L << 40)) + position

  private val fileSeqRe = "(\\d+)$".r

  private def ordinalOf(e: RawEvent): Long = {
    val seq = fileSeqRe.findFirstIn(e.file)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
    math.min(seq, MaxFileSeq) * (1L << 40) + e.position
  }

  /** Full normalization of a bounded log: raw events → the engine's op
    * stream, ready for [[graft.streaming.TransactionAssembler]]. Each
    * server's events arrive sorted by [[binlogOrdinal]] and [[step]] walks
    * them lazily from an empty state, so a server's log is never held in
    * memory. Building the Dataset launches no job. */
  def toOps(raw: Dataset[RawEvent]): Dataset[Op] =
    raw.groupByKey(_.serverId)(Encoders.scalaLong)
      .flatMapSortedGroups(binlogOrdinal(col("file"), col("position"))) {
        (_: Long, events: Iterator[RawEvent]) =>
          var st = emptyState
          events.flatMap { e => val (next, ops) = step(st, e); st = next; ops }
      }(Encoders.product[Op])

  /** The non-data control tail (ROTATE, FORMAT_DESCRIPTION, HEARTBEAT,
    * PREVIOUS_GTIDS, INCIDENT, …) with type names — the reference's
    * supplier-loop bookkeeping surface. */
  def controlEvents(raw: Dataset[RawEvent]): DataFrame =
    raw.toDF().filter(col("code").isin(seqAny(RT.controlCodes): _*))
      .select(element_at(typedLit(RT.names), col("code")).as("event_type"),
        col("serverId"), col("file"), col("position"), col("tsMs"),
        col("nextFile"), col("gtidSet"), col("intVar"))

  /** Supplier context: current GTID and the tableId → TABLE_MAP cache
    * (bounded by live table count, exactly like the reference's map
    * cache). ROWS_QUERY text is not held: the op model carries no metadata
    * slot for it.
    * NOTE: this case class IS the flatMapGroupsWithState state schema;
    * changing its fields invalidates existing streaming checkpoints (state
    * rows deserialize against the new encoder). When evolving it, bump
    * [[graft.streaming.StateFormat.SupplierStateVersion]] — the pipeline's
    * pre-flight check then fails restarts against older checkpoints with
    * an actionable message instead of a deserialization surprise. */
  final case class SupplierState(
      gtid: Option[String],
      tableMaps: Map[Long, TableMapEntry],
      // normalized XA xid → the prepared branch's txnId, awaiting its
      // XA COMMIT / XA ROLLBACK decision (bounded by in-flight XA branches)
      pendingXa: Map[String, String] = Map.empty)
  final case class TableMapEntry(db: String, table: String, pkColumns: Seq[String])

  private val emptyState = SupplierState(None, Map.empty)

  private val ddlTableRe = "(?i)table\\s+`?([A-Za-z0-9_]+)`?".r

  /** One supplier transition: the ops event `e` emits and the context
    * after it. Events must arrive in binlog order per server. */
  private def step(st: SupplierState, e: RawEvent): (SupplierState, Seq[Op]) = {
    lazy val ord = ordinalOf(e)
    def txnId = st.gtid.getOrElse(s"pos:${e.position}")
    def marker(kind: String, txn: String, xxid: Long = 0L) =
      Op(kind, txn, xxid, ord, e.tsMs, "", "", Map.empty, Map.empty)
    e.code match {
      case RT.GTID =>
        (st.copy(gtid = e.gtid), Seq(marker("BEGIN", e.gtid.getOrElse(""))))
      case RT.TABLE_MAP =>
        (e.tableId.fold(st) { tid =>
          st.copy(tableMaps = st.tableMaps +
            (tid -> TableMapEntry(e.db.getOrElse(""), e.table.getOrElse(""), e.pkColumns)))
        }, Nil)
      case c if RT.rowCodes(c) =>
        val kind =
          if (RT.writeRowCodes(c)) "INSERT"
          else if (RT.updateRowCodes(c)) "UPDATE" else "DELETE"
        // rows whose tableId has no preceding map are dropped
        (st, e.tableId.flatMap(st.tableMaps.get).toSeq.flatMap { m =>
          e.rows.map { r =>
            // per-column after-else-before: a delete keys by its before-image
            val key = m.pkColumns
              .flatMap(c => r.after.get(c).orElse(r.before.get(c))).mkString(";")
            Op(kind, txnId, 0L, ord, e.tsMs, m.table, key, r.before, r.after)
          }
        })
      case RT.QUERY =>
        val sql = e.sql.getOrElse("")
        DdlClassifier.classify(sql) match {
          case DdlClassifier.Begin => (st, Seq(marker("BEGIN", txnId)))
          case DdlClassifier.Commit => (st, Seq(marker("COMMIT", txnId)))
          case DdlClassifier.XaCommit =>
            // commit the PREPARED branch's txn at the decision position;
            // an unknown xid is a ONE PHASE commit of the decision's own
            // transaction (never prepared)
            val xid = DdlClassifier.xaXid(sql)
            (st.copy(pendingXa = st.pendingXa - xid),
              Seq(marker("COMMIT", st.pendingXa.getOrElse(xid, txnId))))
          case DdlClassifier.XaRollback =>
            // the prepared branch dies uncommitted: its rows never pass the
            // assembler's commit gate — no phantom rows
            (st.copy(pendingXa = st.pendingXa - DdlClassifier.xaXid(sql)), Nil)
          case DdlClassifier.Other => (st, Nil)
          case _ =>
            // DDL target table (best-effort parse; catalog replay re-parses
            // the full statement — reference rewrites+replays the raw SQL)
            val table = ddlTableRe.findFirstMatchIn(sql).map(_.group(1)).getOrElse("")
            (st, Seq(Op("DDL", txnId, 0L, ord, e.tsMs, table, "", Map.empty, Map("ddl" -> sql))))
        }
      case RT.XID => (st, Seq(marker("COMMIT", txnId, e.xid.getOrElse(0L))))
      case RT.XA_PREPARE =>
        // park the branch under its normalized xid — no commit op
        (e.xaId.fold(st) { x =>
          st.copy(pendingXa = st.pendingXa + (DdlClassifier.normXid(x) -> txnId))
        }, Nil)
      case _ => (st, Nil) // ROWS_QUERY and the control tail: bookkeeping only
    }
  }

  /** Streaming form of [[toOps]]: the same [[step]] per server
    * (`groupByKey(serverId).flatMapGroupsWithState`), with the state kept
    * between micro-batches, so TABLE_MAP / GTID / XA context set in one
    * micro-batch applies to events arriving in a later one. Within a
    * micro-batch, events sort by the binlog ordinal — the source (a binlog
    * reader) delivers batches in stream order, matching the single ordered
    * partition contract of OpLogSource, so the sort runs only on an
    * observed order violation. */
  def toOpsStreaming(raw: Dataset[RawEvent]): Dataset[Op] = {
    implicit val opEnc: Encoder[Op] = Encoders.product[Op]
    implicit val stEnc: Encoder[SupplierState] = Encoders.product[SupplierState]
    raw.groupByKey(_.serverId)(Encoders.scalaLong)
      .flatMapGroupsWithState[SupplierState, Op](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, incoming: Iterator[RawEvent], state: GroupState[SupplierState]) =>
          var st = state.getOption.getOrElse(emptyState)
          val out = TransactionAssembler.nearSorted(incoming)(ordinalOf).flatMap { e =>
            val (next, ops) = step(st, e); st = next; ops
          }
          state.update(st)
          out.iterator
      }
  }
}
