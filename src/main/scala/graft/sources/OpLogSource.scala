package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A custom DataSource V2 micro-batch source over an append-only op log —
  * the concrete shape of the live-binlog adapter (reference:
  * BinaryLogSupplier, SURVEY §2.1 S1): a MySQL client would append events to
  * this log (or the stream would wrap the client directly); offsets are
  * line positions, exactly the binlog file+pos model.
  *
  * Deliberate design points:
  *  - ONE input partition per micro-batch: a binlog is a total order; the
  *    pipeline re-partitions downstream (Partitioner stage), not the source.
  *  - Offsets are durable line counts; the engine's offset log provides
  *    resume (replaces ZooKeeper checkpoint storage).
  *  - Line format: tab-separated with url-encoded map entries — trivially
  *    appendable by any producer.
  *  - FAILOVER: `path` may be an ordered comma-separated replica list (the
  *    reference supplier's host list — BinaryLogSupplier.java:142-256,
  *    disconnect → next host, resume from checkpoint). Replicas serve the
  *    same logical stream, so line offsets are portable: when the active
  *    replica dies or rewinds below the committed position, the first
  *    replica that has caught up takes over at the same offset — no loss,
  *    no duplicates, mid-stream.
  *  - RETENTION: a producer may rotate a log's head away, recording the
  *    purged line count in a `<path>.purged` sidecar (the binlog-retention
  *    analog: offsets stay ABSOLUTE — sidecar + physical lines). A restart
  *    whose checkpoint predates every replica's oldest retained line fails
  *    loudly by default; `option("fallback.purged", "true")` instead
  *    resumes from the earliest retained line and surfaces the gap — the
  *    reference's `supplier.binlog.fallback.gtid.purged` switch
  *    (BinaryLogSupplier.java:43,204,230).
  *
  * Usage: `spark.readStream.format("graft-oplog").option("path", f).load()`
  * (schema = OpSource.opSchema). `Sinks`-side exactly-once comes from
  * foreachBatch idempotence + engine commit log.
  */
class OpLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-oplog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = OpSource.opSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val raw = properties.get("path")
    if (raw == null || raw.trim.isEmpty || !raw.split(",").exists(_.trim.nonEmpty))
      throw new IllegalArgumentException(
        "graft-oplog requires a 'path' option: an ordered, comma-separated replica list")
    new OpLogTable(raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      java.lang.Boolean.parseBoolean(properties.getOrDefault("fallback.purged", "false")))
  }
}

final class OpLogTable(paths: Seq[String], fallbackPurged: Boolean) extends Table with SupportsRead {
  override def name(): String = s"graft-oplog(${paths.mkString(",")})"
  override def schema(): StructType = OpSource.opSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = OpSource.opSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new OpLogMicroBatchStream(paths, checkpointLocation, fallbackPurged,
            FileSupplier)
      }
    }
}

final case class OpLogOffset(line: Long) extends Offset {
  override def json(): String = line.toString
}

/** The stream machinery (failover ordering, monotone announce floor,
  * purged-retention fallback) over ANY [[SupplierContract]] binding —
  * [[FileSupplier]] in the sandbox, a binlog-client binding in a real
  * deployment (drop-in: only `toMicroBatchStream` changes). */
final class OpLogMicroBatchStream(paths: Seq[String], checkpointLocation: String,
                                  fallbackPurged: Boolean,
                                  supplier: SupplierContract)
    extends MicroBatchStream {
  require(paths.nonEmpty, "graft-oplog needs at least one path")

  private def purgedCount(path: String): Long = supplier.purgedFloor(path)
  private def lineCount(path: String): Long = supplier.frontier(path)

  /** Highest offset this stream has ever announced — the failover floor: a
    * replica is eligible only if it has caught up to it, so a dead or
    * truncated primary silently falls out of rotation instead of rewinding
    * the stream (the supplier's disconnect→next-host loop,
    * BinaryLogSupplier.java:142-256).
    *
    * The floor is ALSO persisted beside the engine checkpoint
    * (`graft-oplog-hw`), because the engine calls `latestOffset()` on a
    * fresh instance BEFORE handing it any restored offset — measured: the
    * restart sequence is latestOffset, then deserializeOffset — and
    * Structured Streaming records whatever a source announces. If every
    * replica were unreachable at that instant, announcing a regressed
    * offset would enter the offset log and the next batch would replay the
    * whole stream. The persisted floor makes the announcement monotone
    * across restarts no matter when replicas come back. Advisory only —
    * the engine offset log remains the durable truth; losing this file
    * merely re-opens the (replica-outage × restart) window it closes. */
  // the engine hands a URI string ("file:/…/sources/0"), not a bare path —
  // resolve it properly or the floor silently lands in a literal "file:"
  // directory under the working dir (observed). A NON-local checkpoint
  // scheme (hdfs:/s3a:) cannot back a java.io.File at all: rather than
  // silently writing a junk local './hdfs:…' path (voiding the guard where
  // restarts are least predictable), the floor file is DISABLED with a
  // warning — it is advisory by design; the engine offset log remains the
  // durable truth and in-memory monotonicity still holds for the session.
  private val hwFile: Option[java.io.File] =
    try {
      val uri = new java.net.URI(checkpointLocation)
      uri.getScheme match {
        case null => Some(new java.io.File(new java.io.File(checkpointLocation), "graft-oplog-hw"))
        case "file" => Some(new java.io.File(new java.io.File(uri), "graft-oplog-hw"))
        case scheme =>
          System.err.println(s"[graft-oplog] checkpoint scheme '$scheme' is not local; " +
            "the advisory announce-floor file is disabled (in-memory floor only — " +
            "the engine offset log remains the durable truth)")
          None
      }
    } catch { case _: Exception =>
      Some(new java.io.File(new java.io.File(checkpointLocation), "graft-oplog-hw"))
    }
  @volatile private var highWater: Long =
    try {
      hwFile match {
        case Some(f) if f.exists() =>
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong
        case _ => 0L
      }
    } catch { case _: Exception => 0L }

  private def persistFloor(): Unit =
    hwFile.foreach { f =>
      try {
        f.getParentFile.mkdirs()
        val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
        java.nio.file.Files.write(tmp.toPath, highWater.toString.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case _: Exception => () } // advisory; see highWater doc
    }

  override def initialOffset(): Offset = OpLogOffset(0L)

  override def latestOffset(): Offset = {
    // active replica = first that EXISTS and is not behind the committed
    // stream position (a dead primary is never eligible, even for an empty
    // stream); its count becomes the new frontier. With every replica
    // behind (all dead / still catching up) the offset simply stalls — no
    // data loss, and the stream resumes wherever a replica catches up.
    val frontier = supplier.replicaWith(paths, highWater).map(_._2).getOrElse(highWater)
    if (frontier > highWater) { highWater = frontier; persistFloor() }
    OpLogOffset(highWater)
  }

  override def deserializeOffset(json: String): Offset = {
    // a restart resumes from the engine checkpoint: adopt it as the floor
    val line = json.toLong
    if (line > highWater) { highWater = line; persistFloor() }
    OpLogOffset(line)
  }
  override def commit(end: Offset): Unit = () // engine offset log is the truth
  override def stop(): Unit = ()

  /** The last plan and its (start, end): the engine plans a batch's range
    * once per physical plan it builds, several times a micro-batch, and
    * each plan counts every replica's log. */
  @volatile private var lastPlan: ((Long, Long), Array[InputPartition]) = ((0L, 0L), Array.empty)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val range = (start.asInstanceOf[OpLogOffset].line, end.asInstanceOf[OpLogOffset].line)
    val (lastRange, lastParts) = lastPlan
    if (range == lastRange) lastParts
    else { val parts = plan(range._1, range._2); lastPlan = (range, parts); parts }
  }

  private def plan(s: Long, e: Long): Array[InputPartition] =
    if (e <= s) Array.empty
    else {
      // read the committed range from whichever replica can serve it ALL —
      // exhausting the list mid-range is the unrecoverable analog of the
      // reference running out of hosts
      val caughtUp = paths.filter(p => supplier.exists(p) && lineCount(p) >= e)
      if (caughtUp.isEmpty) throw new java.io.IOException(
        s"graft-oplog: no replica of ${paths.mkString(",")} has lines [$s, $e)")
      // RETENTION: prefer a replica whose oldest retained line covers the
      // checkpoint; when the requested range predates retention everywhere
      // (log rotated during downtime), fail loudly — or, with the opt-in
      // flag, resume from the earliest retained line and surface the gap
      // (the reference's purged-GTID fallback semantics)
      caughtUp.find(purgedCount(_) <= s) match {
        case Some(p) => Array(OpLogPartition(p, s, e))
        case None =>
          val best = caughtUp.minBy(purgedCount)
          val earliest = purgedCount(best)
          if (!fallbackPurged) throw new java.io.IOException(
            s"graft-oplog: checkpoint line $s predates the oldest retained line " +
              s"$earliest of every caught-up replica (log rotated/truncated during " +
              "downtime); restore a replica with full history, or set option " +
              "'fallback.purged' to 'true' to resume from the earliest retained line " +
              s"(skipping ${earliest - s} purged lines)")
          System.err.println(s"[graft-oplog] PURGED-RETENTION FALLBACK: checkpoint " +
            s"line $s predates retention; resuming from line $earliest of $best — " +
            s"${earliest - s} lines are unrecoverable and skipped")
          Array(OpLogPartition(best, earliest, e))
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val sup = supplier // serialize the binding, not the stream
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[OpLogPartition]
      new OpLogPartitionReader(sup, p.path, p.from, p.until)
    }
  }
}

final case class OpLogPartition(path: String, from: Long, until: Long)
    extends InputPartition

/** Reads ABSOLUTE positions [from, until) of the replica's stream via the
  * supplier binding and decodes them to Op rows. */
final class OpLogPartitionReader(supplier: SupplierContract, path: String,
                                 from: Long, until: Long)
    extends PartitionReader[InternalRow] {

  private val it = supplier.read(path, from, until)
  private var current: InternalRow = _

  /** Permissive decode: a corrupt line is logged and skipped rather than
    * killing the stream — a poisoned binlog entry must not wedge the
    * pipeline (the reference's equivalent is its exception handler +
    * requeue; here the offset log already guarantees we never re-read it). */
  override def next(): Boolean = {
    while (it.hasNext) {
      val line = it.next()
      try { current = OpLogCodec.decode(line); return true }
      catch { case e: Exception =>
        System.err.println(s"[graft-oplog] skipping undecodable line: ${e.getMessage}")
      }
    }
    false
  }

  override def get(): InternalRow = current
  // self-closes on exhaustion; an AutoCloseable iterator (FileSupplier's)
  // also closes here so a cancelled task never leaks the handle
  override def close(): Unit = it match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** Line codec: kind, txnId, xxid, eventId, tsMs, table, rowKey, before,
  * after — tab-separated; maps as `k=v` pairs joined with `&`, url-encoded. */
object OpLogCodec {
  import java.net.{URLDecoder, URLEncoder}

  def encode(kind: String, txnId: String, xxid: Long, eventId: Long, tsMs: Long,
             table: String, rowKey: String, before: Map[String, String],
             after: Map[String, String]): String = {
    def m(x: Map[String, String]) =
      x.map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
    Seq(kind, txnId, xxid.toString, eventId.toString, tsMs.toString, table, rowKey,
      m(before), m(after)).mkString("\t")
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = URLDecoder.decode(s, "UTF-8")

  def decode(line: String): InternalRow = {
    val f = line.split("\t", -1)
    def mapData(s: String) = {
      val pairs = if (s.isEmpty) Array.empty[(String, String)]
        else s.split("&").map { kv =>
          val Array(k, v) = kv.split("=", 2); (dec(k), dec(v))
        }
      ArrayBasedMapData(pairs.map(p => UTF8String.fromString(p._1)),
        pairs.map(p => UTF8String.fromString(p._2)))
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(f(0)), UTF8String.fromString(f(1)), f(2).toLong,
      f(3).toLong, f(4).toLong, UTF8String.fromString(f(5)),
      UTF8String.fromString(f(6)), mapData(f(7)), mapData(f(8))))
  }
}
