package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One binlog-level operation entering the assembler. `kind` is
  * BEGIN | INSERT | UPDATE | DELETE | COMMIT. Before/after row images are
  * schema-agnostic string maps (SURVEY §1.1). */
final case class Op(
    kind: String,
    txnId: String,
    xxid: Long,
    eventId: Long,
    tsMs: Long,
    table: String,
    rowKey: String,
    before: Map[String, String],
    after: Map[String, String]
)

/** A row of a committed transaction, stamped with commit metadata
  * (reference: CurrentTransaction.getAndClear, CurrentTransaction.java:73-102;
  * AugmentedEventTransaction.java:17-24). `chunk` > 0 marks a partial emit of
  * an oversize transaction. */
final case class StampedOp(
    txnUuid: String,
    xxid: Long,
    commitTsMs: Long,
    chunk: Int,
    eventId: Long,
    tsMs: Long,
    table: String,
    kind: String,
    rowKey: String,
    before: Map[String, String],
    after: Map[String, String]
)

/** Buffered state per open transaction. */
final case class TxnBuffer(ops: List[Op], chunksEmitted: Int)

/** Transaction assembly as a stateful streaming operator: buffer events
  * between BEGIN and COMMIT, emit the whole transaction stamped with its
  * commit timestamp at commit (reference: augmenter/CurrentTransaction.java:
  * 40-139; flow Augmenter.java:149-191).
  *
  * Spark-native shape: `groupByKey(txnId).flatMapGroupsWithState` — state is
  * per-transaction (not a global binlog cursor), so assembly scales out by
  * transaction id instead of serializing on one thread like the reference.
  * The per-second sequence number is deliberately NOT assigned here: it needs
  * binlog-global ordering, which the sink assigns deterministically per
  * micro-batch via a window (see TimeMachineSink / Cdc.perSecondSequence).
  *
  * Oversize transactions (> sizeLimit buffered ops) emit in chunks instead of
  * rewinding the pipeline — the Spark analog of the reference's resume-time
  * chunked emit (Augmenter.java:178-186); chunk index marks partials.
  */
object TransactionAssembler {

  /** Order a group's micro-batch by `key` WITHOUT paying a sort on the
    * (overwhelmingly common) already-ordered path: binlog readers deliver
    * batches in stream order, so one monotonicity check over the single
    * materialization pass replaces the unconditional toSeq+sortBy that
    * bounded the per-group throughput — the sort runs only on an observed
    * order violation (shuffle interleave across sources, replays). */
  private[graft] def nearSorted[T](incoming: Iterator[T])(key: T => Long): collection.Seq[T] = {
    val arr = scala.collection.mutable.ArrayBuffer.empty[T]
    var prev = Long.MinValue
    var ordered = true
    incoming.foreach { t =>
      val k = key(t)
      if (k < prev) ordered = false
      prev = k
      arr += t
    }
    if (ordered) arr else arr.sortInPlaceBy(key)
  }

  /** The reference's transaction buffer limit: a transaction with more
    * buffered rows than this emits in chunks. */
  val DefaultSizeLimit = 1000

  def assemble(ops: Dataset[Op], sizeLimit: Int = DefaultSizeLimit): Dataset[StampedOp] = {
    implicit val opEnc = Encoders.product[Op]
    implicit val outEnc = Encoders.product[StampedOp]
    implicit val stateEnc = Encoders.product[TxnBuffer]
    implicit val keyEnc = Encoders.STRING

    ops.groupByKey(_.txnId)
      .flatMapGroupsWithState[TxnBuffer, StampedOp](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (txnId: String, incoming: Iterator[Op], state: GroupState[TxnBuffer]) =>
          var buf = state.getOption.getOrElse(TxnBuffer(Nil, 0))
          val out = List.newBuilder[StampedOp]
          // binlog order within a group = eventId order
          nearSorted(incoming)(_.eventId).foreach { op =>
            op.kind match {
              case "BEGIN" => // explicit begin: fresh buffer (keep chunk count)
                buf = TxnBuffer(Nil, buf.chunksEmitted)
              case "COMMIT" =>
                out ++= stamp(buf.ops.reverse, txnId, op.xxid, op.tsMs, buf.chunksEmitted)
                buf = TxnBuffer(Nil, 0)
              case "DDL" =>
                // DDL is a non-transactional barrier in the binlog: emit
                // immediately, stamped at its own timestamp (reference:
                // Augmenter.java:210-225 — schema snapshot on DDL events)
                out += StampedOp(txnId, op.xxid, op.tsMs, 0, op.eventId, op.tsMs,
                  op.table, "DDL", op.rowKey, op.before, op.after)
              case _ =>
                buf = buf.copy(ops = op :: buf.ops)
                if (buf.ops.length >= sizeLimit) {
                  // oversize: chunked partial emit stamped with last-seen ts
                  out ++= stamp(buf.ops.reverse, txnId, op.xxid, op.tsMs, buf.chunksEmitted)
                  buf = TxnBuffer(Nil, buf.chunksEmitted + 1)
                }
            }
          }
          if (buf.ops.isEmpty && buf.chunksEmitted == 0) state.remove() else state.update(buf)
          out.result().iterator
      }
  }

  private def stamp(ops: List[Op], txnId: String, xxid: Long, commitTsMs: Long,
                    chunk: Int): List[StampedOp] =
    ops.map(o => StampedOp(txnId, xxid, commitTsMs, chunk, o.eventId, o.tsMs,
      o.table, o.kind, o.rowKey, o.before, o.after))

  /** Batch-mode assembly: identical commit semantics to [[assemble]] for
    * bounded inputs (backfills, the binlog-flusher analog, bench/verify),
    * expressed as pure column operations — commit metadata propagates to a
    * transaction's rows via window aggregates over the txnId partition, in
    * ONE scan and ONE shuffle, and uncommitted transactions drop because
    * their commit aggregate is null. No typed-state encoder round-trips, so
    * the whole path stays inside whole-stage codegen — use this form
    * whenever the input is bounded; the stateful form exists for streams.
    *
    * Batch simplifications (bounded input makes them exact, not lossy):
    * no chunked emit (nothing buffers, so no size cap needed) and one
    * commit cycle per txnId within the batch (GTIDs are per-transaction). */
  def assembleBatch(ops: Dataset[Op]): Dataset[StampedOp] = {
    implicit val outEnc = Encoders.product[StampedOp]
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wTxn = Window.partitionBy(col("txnId"))
    ops.toDF()
      .withColumn("cTs", max(when(col("kind") === "COMMIT", col("tsMs"))).over(wTxn))
      .withColumn("cXxid", max(when(col("kind") === "COMMIT", col("xxid"))).over(wTxn))
      .filter(col("kind") =!= "BEGIN" && col("kind") =!= "COMMIT")
      .filter(col("kind") === "DDL" || col("cTs").isNotNull)
      .select(col("txnId").as("txnUuid"),
        when(col("kind") === "DDL", col("xxid")).otherwise(col("cXxid")).as("xxid"),
        when(col("kind") === "DDL", col("tsMs")).otherwise(col("cTs")).as("commitTsMs"),
        lit(0).as("chunk"), col("eventId"), col("tsMs"), col("table"), col("kind"),
        col("rowKey"), col("before"), col("after"))
      .as[StampedOp]
  }
}
