package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.Cdc
import graft.streaming.{Op, StampedOp, TimeMachineSink, TransactionAssembler}
import graft.sink.Sinks

/** Pipeline assembly: source → transaction assembly → table filter →
  * partition → time-machine sink, with checkpointed exactly-once via the
  * engine's offset log — the Spark-native shape of the reference's
  * Replicator wiring (reference: Replicator.java:151-204; SURVEY §3.1).
  *
  * The reference's three thread boundaries (binlog thread → queues → worker
  * tasks → checkpoint timer) collapse into one StreamingQuery: micro-batch
  * scheduling replaces the queues, `checkpointLocation` replaces the
  * ZooKeeper checkpoint store, and query restart replaces ForceRewind.
  */
final case class PipelineConfig(
    sinkDir: String,
    checkpointDir: String,
    tables: TableFilterConfig = TableFilterConfig(),
    partitioner: String = "TRID",      // reference default (Partitioner.java:98-102)
    partitions: Int = 8,                // reference prod sample: 8 tasks
    validationDir: Option[String] = None,
    /** Designated per-transaction context-log table: its rows are keyed by
      * transaction UUID instead of the PK row key (reference:
      * HBaseRowKeyMapper.getPayloadTableHBaseRowKey, HBaseRowKeyMapper.java:
      * 60-68; applier.hbase.payload.table.name). */
    payloadTable: Option[String] = None,
    triggerMs: Long = 5000L,            // reference safe-checkpoint period
    schemaCatalog: Option[graft.augment.SchemaCatalog] = None,
    schemaHistoryDir: Option[String] = None,
    /** Kafka-path schema registry root: on every DDL the affected tables'
      * Avro subjects re-register through the compat gate — compatible
      * change → next version, incompatible → delete + re-register from v1
      * (reference: KafkaApplier.handleIncompatibleSchemaChange,
      * KafkaApplier.java:261-287). */
    schemaRegistryDir: Option[String] = None,
    /** Decode row images through the versioned catalog BEFORE the sink —
      * the reference's DataAugmenter order (cells land decoded, each row
      * against the schema version of its table active at its commitTsMs:
      * [[graft.augment.RowDecoder.decode]]). Requires `schemaCatalog`.
      * Off by default: the raw-cell sink is the time-machine's storage
      * contract and decode stays available on the read side; turn on when
      * downstream consumers read the sink directly. */
    decodeWithCatalog: Boolean = false
) {
  require(!decodeWithCatalog || schemaCatalog.isDefined, "decodeWithCatalog requires a schemaCatalog")
}

/** Which tables the pipeline replicates — a whitelist AND a blacklist
  * (reference: AugmenterContext.java:711-730, shouldAugmentTable is
  * `!excluded && included`). `excludePattern` is an `rlike` regex, so it
  * matches anywhere in the table name unless anchored (`^...$`); exclusion
  * beats inclusion; an empty `include` admits every table. BEGIN, COMMIT
  * and DDL ops are never gated: transaction boundaries and schema changes
  * flow through whatever the table filter says. */
final case class TableFilterConfig(include: Seq[String] = Nil, excludePattern: Option[String] = None)

object ReplicatorPipeline {

  /** The reference ValidationService default: about one mutation in 100
    * becomes a validation task (see [[Sinks.validationSample]]). */
  val ValidationSampleN = 100

  /** The shared transform: ops → committed stamped rows of the gated tables.
    * Works over a batch Dataset and a streaming one with the same commit
    * semantics: bounded input (backfills, the binlog-flusher analog) takes
    * the column-native [[TransactionAssembler.assembleBatch]], a stream the
    * stateful [[TransactionAssembler.assemble]]. */
  def transform(ops: Dataset[Op], cfg: PipelineConfig): Dataset[StampedOp] = {
    val gate = Cdc.tableGate(col("table"), cfg.tables.include, cfg.tables.excludePattern)
    val filtered = ops.filter(col("kind").isin("BEGIN", "COMMIT", "DDL") || gate)
    if (filtered.isStreaming) TransactionAssembler.assemble(filtered)
    else TransactionAssembler.assembleBatch(filtered)
  }

  /** Route a stamped micro-batch by the configured partitioner strategy
    * (reference: Partitioner.java:14-103) before the sink write. */
  def route(df: DataFrame, cfg: PipelineConfig): DataFrame =
    Cdc.repartitionBy(df, cfg.partitioner, cfg.partitions, routeKeys.get(cfg.partitioner).map(col))

  /** The stamped-row column each hashing strategy routes on. */
  private val routeKeys = Map("TRID" -> "txnUuid", "XXID" -> "xxid", "TABLE_NAME" -> "table")

  /** One micro-batch through the sink side: DDL barrier events update the
    * versioned schema catalog sequentially (binlog order = eventId order)
    * and land in the history sink (reference: Augmenter.java:210-225 +
    * HBaseSchemaManager.writeSchemaSnapshot); row events become versioned
    * cells; sampled validation tasks emit beside them.
    *
    * With a schema catalog or a validation dir set the batch has several
    * readers, so it is persisted (MEMORY_AND_DISK) until the batch ends,
    * also on failure: the DDL collect, or else the sink write, fills the
    * cache that the sink write and the validation sample read, and the
    * assembler's window or a stream's stateful operators run once per
    * batch. With neither set the sink write is the one reader and nothing
    * is persisted. */
  private def writeBatch(stamped: Dataset[StampedOp], cfg: PipelineConfig, batchId: Long = -1L): Unit = {
    val shared = cfg.schemaCatalog.isDefined || cfg.validationDir.isDefined
    val batch = if (shared) stamped.persist(StorageLevel.MEMORY_AND_DISK) else stamped
    try writeStamped(batch, cfg, batchId)
    finally if (shared) batch.unpersist()
  }

  private def writeStamped(batch: Dataset[StampedOp], cfg: PipelineConfig, batchId: Long): Unit = {
    val spark = batch.sparkSession
    cfg.schemaCatalog.foreach { cat =>
      // DDL is rare and tiny: collecting it to the driver is O(statements),
      // and catalog updates MUST be sequential — this is the one place the
      // reference's single-threaded semantics are load-bearing.
      val ddls = batch.filter(col("kind") === "DDL").collect().sortBy(_.eventId)
      val txBefore = cat.transitions.length
      ddls.foreach(d => cat.applyDdl(d.after.getOrElse("ddl", ""), d.commitTsMs))
      if (ddls.nonEmpty) {
        cfg.schemaHistoryDir.foreach { hd =>
          cat.historyDf(spark).write.mode("overwrite").parquet(hd)
        }
        // registry sync for the Kafka path: each schema this batch's DDLs
        // produced registers through the compat gate in transition order,
        // so the versions do not depend on where batches split the log
        cfg.schemaRegistryDir.foreach { rd =>
          val reg = new graft.sink.FileSchemaRegistry(rd)
          for (tr <- cat.transitions.drop(txBefore) if tr.table.nonEmpty; sch <- tr.after)
            reg.registerWithCompatHandling(
              graft.sink.AvroPresenter.subject(cat.ownSchema, tr.table),
              graft.sink.AvroPresenter.avroSchema(sch))
        }
      }
    }
    val routed0 = route(batch.filter(col("kind") =!= "DDL").toDF(), cfg)
    // versioned decode AFTER the catalog absorbed this batch's DDL (rows
    // that precede an in-batch barrier still resolve to the older version:
    // the version is picked by commitTsMs, not by batch order)
    val routed =
      if (cfg.decodeWithCatalog) graft.augment.RowDecoder.decode(routed0, col("commitTsMs"), cfg.schemaCatalog.get)
      else routed0
    val df = cfg.payloadTable match {
      case Some(p) => routed.withColumn("rowKey",
        when(col("table") === p, col("txnUuid")).otherwise(col("rowKey")))
      case None => routed
    }
    TimeMachineSink.write(df, cfg.sinkDir, batchId)
    cfg.validationDir.foreach { vd =>
      Sinks.validationSample(df, ValidationSampleN, "rowKey")
        .write.mode("append").parquet(vd)
    }
  }

  /** Launch the streaming pipeline over a stream of Ops. */
  def start(ops: Dataset[Op], cfg: PipelineConfig): StreamingQuery = {
    // pre-flight: loud, actionable failure when the checkpoint's state
    // encoders don't match this engine (e.g. a pre-r5 checkpoint whose
    // SupplierState lacks pendingXa), instead of an opaque state-store
    // deserialization error mid-restore
    graft.streaming.StateFormat.ensure(cfg.checkpointDir)
    val stamped = transform(ops, cfg)
    stamped.writeStream
      .outputMode("append")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: Dataset[StampedOp], batchId: Long) => writeBatch(batch, cfg, batchId) }
      .start()
  }

  /** Batch replay of a bounded op set through the identical transform+sink
    * path — used for backfills (the binlog-flusher analog, SURVEY §2.1 S4)
    * and in tests. */
  def runBatch(ops: Dataset[Op], cfg: PipelineConfig): Unit =
    writeBatch(transform(ops, cfg), cfg)
}
