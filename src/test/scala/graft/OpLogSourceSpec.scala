package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.functions._

import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sources.{OpLogCodec, OpSource}
import graft.streaming.{Op, TimeMachineSink}

/** The custom DataSource V2 micro-batch source: offset tracking, append
  * pickup, checkpointed restart — the live-binlog adapter shape. */
class OpLogSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def appendLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  test("oplog source streams appended segments through the pipeline exactly once") {
    val log = Files.createTempDirectory("oplog").resolve("binlog.0001").toString
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    appendLines(log, Seq(
      OpLogCodec.encode("BEGIN", "t1", 1, 1, 1000L, "t", "k", Map.empty, Map.empty),
      OpLogCodec.encode("INSERT", "t1", 1, 2, 1000L, "t", "k", Map.empty, Map("a" -> "1", "b" -> "x y")),
      OpLogCodec.encode("COMMIT", "t1", 1, 3, 2000L, "t", "k", Map.empty, Map.empty)))

    val ops = spark.readStream.format("graft-oplog").option("path", log).load().as[Op]
    val cfg = PipelineConfig(sink, ckpt, partitions = 2)
    val q1 = ReplicatorPipeline.start(ops, cfg)
    q1.processAllAvailable()

    // append a second transaction while running — picked up incrementally
    appendLines(log, Seq(
      OpLogCodec.encode("BEGIN", "t2", 2, 4, 3000L, "t", "k", Map.empty, Map.empty),
      OpLogCodec.encode("UPDATE", "t2", 2, 5, 3000L, "t", "k", Map("a" -> "1", "b" -> "x y"),
        Map("a" -> "2", "b" -> "x y")),
      OpLogCodec.encode("COMMIT", "t2", 2, 6, 4000L, "t", "k", Map.empty, Map.empty)))
    q1.processAllAvailable()
    q1.stop()

    // restart from checkpoint, append a third txn: no reprocessing of old lines
    val q2 = ReplicatorPipeline.start(
      spark.readStream.format("graft-oplog").option("path", log).load().as[Op], cfg)
    appendLines(log, Seq(
      OpLogCodec.encode("BEGIN", "t3", 3, 7, 5000L, "t", "k", Map.empty, Map.empty),
      OpLogCodec.encode("DELETE", "t3", 3, 8, 5000L, "t", "k", Map("a" -> "2"), Map.empty),
      OpLogCodec.encode("COMMIT", "t3", 3, 9, 6000L, "t", "k", Map.empty, Map.empty)))
    q2.processAllAvailable()
    q2.stop()

    val cells = spark.read.parquet(sink)
    // url-encoded map value round-trips
    assert(cells.filter(col("column") === "b" && col("value") === "x y").count() == 1)
    // exactly-once: one INSERT 'a', one UPDATE 'a', one DELETE marker
    assert(cells.filter(col("column") === "a").count() == 2)
    assert(cells.filter(col("column") === "row_status" && col("value") === "D").count() == 1)
    // latest state: row deleted
    assert(TimeMachineSink.latestRows(spark, sink).count() == 0)
  }

  test("replica failover: primary killed mid-stream, next path continues from the checkpoint") {
    val dir = Files.createTempDirectory("oplog-fo")
    val a = dir.resolve("binlog.a").toString
    val b = dir.resolve("binlog.b").toString
    val sink = Files.createTempDirectory("sink-fo").toString
    val ckpt = Files.createTempDirectory("ckpt-fo").toString
    def txn(id: String, xxid: Long, base: Long, kind: String,
            before: Map[String, String], after: Map[String, String]) = Seq(
      OpLogCodec.encode("BEGIN", id, xxid, base, base * 1000, "t", "k", Map.empty, Map.empty),
      OpLogCodec.encode(kind, id, xxid, base + 1, base * 1000, "t", "k", before, after),
      OpLogCodec.encode("COMMIT", id, xxid, base + 2, base * 1000 + 500, "t", "k", Map.empty, Map.empty))

    // replicas serve the same logical stream
    val t1 = txn("t1", 1, 1, "INSERT", Map.empty, Map("a" -> "1"))
    appendLines(a, t1); appendLines(b, t1)

    val ops = spark.readStream.format("graft-oplog").option("path", s"$a,$b").load().as[Op]
    val cfg = PipelineConfig(sink, ckpt, partitions = 2)
    val q1 = ReplicatorPipeline.start(ops, cfg)
    q1.processAllAvailable()

    val t2 = txn("t2", 2, 4, "UPDATE", Map("a" -> "1"), Map("a" -> "2"))
    appendLines(a, t2); appendLines(b, t2)
    q1.processAllAvailable()

    // PRIMARY DIES at line 6; the replica keeps receiving the stream
    Files.delete(Paths.get(a))
    appendLines(b, txn("t3", 3, 7, "UPDATE", Map("a" -> "2"), Map("a" -> "3")))
    q1.processAllAvailable()
    q1.stop()

    // restart from the engine checkpoint with the primary still dead
    val q2 = ReplicatorPipeline.start(
      spark.readStream.format("graft-oplog").option("path", s"$a,$b").load().as[Op], cfg)
    appendLines(b, txn("t4", 4, 10, "DELETE", Map("a" -> "3"), Map.empty))
    q2.processAllAvailable()
    q2.stop()

    // no loss, no duplicates across the failover or the restart
    val cells = spark.read.parquet(sink)
    assert(cells.filter(col("column") === "a").count() == 3) // INSERT + 2 UPDATEs
    assert(cells.filter(col("column") === "a").select("value").as[String]
      .collect().toSet == Set("1", "2", "3"))
    assert(cells.filter(col("column") === "row_status" && col("value") === "D").count() == 1)
    assert(TimeMachineSink.latestRows(spark, sink).count() == 0) // deleted at tip
    // the announce-floor persists INSIDE the engine checkpoint (a file: URI
    // — a mis-resolved path would silently land in a literal "file:" dir)
    val floors = java.nio.file.Files.walk(Paths.get(ckpt)).iterator()
    val floorFiles = Iterator.continually(floors).takeWhile(_.hasNext)
      .map(_.next()).filter(_.getFileName.toString == "graft-oplog-hw").toSeq
    assert(floorFiles.nonEmpty, s"announce-floor file missing under $ckpt")
    assert(new String(java.nio.file.Files.readAllBytes(floorFiles.head)).trim.toLong >= 12L)

    // a stale resurrected primary (behind the checkpoint) must NOT rewind
    appendLines(a, t1) // 3 lines only — far behind highWater
    val q3 = ReplicatorPipeline.start(
      spark.readStream.format("graft-oplog").option("path", s"$a,$b").load().as[Op], cfg)
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(sink).filter(col("column") === "a").count() == 3) // unchanged
  }

  test("rotated log (purged sidecar) serves absolute offsets with no loss or replay") {
    val dir = Files.createTempDirectory("oplog-rot")
    val log = dir.resolve("binlog.0001").toString
    val ckpt = Files.createTempDirectory("ckpt-rot").toString
    def lines(id: String, base: Long) = Seq(
      OpLogCodec.encode("BEGIN", id, base, base, base * 1000, "t", "k", Map.empty, Map.empty),
      OpLogCodec.encode("INSERT", id, base, base + 1, base * 1000, "t", "k", Map.empty, Map("a" -> id)),
      OpLogCodec.encode("COMMIT", id, base, base + 2, base * 1000, "t", "k", Map.empty, Map.empty))

    val out = Files.createTempDirectory("oplog-rot-out").toString
    def start() = spark.readStream.format("graft-oplog").option("path", log).load().as[Op]
      .writeStream.format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", ckpt).start()

    appendLines(log, lines("t1", 1))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 3)

    // producer rotates the consumed head away: physical file restarts empty,
    // sidecar records 3 purged lines, new lines are ABSOLUTE 3..5
    Files.write(Paths.get(log), Array.empty[Byte])
    Files.write(Paths.get(log + ".purged"), "3".getBytes("UTF-8"))
    appendLines(log, lines("t2", 4))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    // exactly the post-rotation transaction appended: no replay, no loss
    assert(spark.read.parquet(out).count() == 6)
    assert(spark.read.parquet(out).where(col("txnId") === "t2").count() == 3)
  }

  test("checkpoint predating retention fails loudly by default, resumes with fallback.purged") {
    val dir = Files.createTempDirectory("oplog-purge")
    val log = dir.resolve("binlog.0001").toString
    val ckpt = Files.createTempDirectory("ckpt-purge").toString
    def row(id: String, base: Long) =
      Seq(OpLogCodec.encode("INSERT", id, base, base, base * 1000, "t", "k", Map.empty, Map("a" -> id)))

    val out = Files.createTempDirectory("oplog-purge-out").toString
    def start(fallback: Boolean) = {
      val rd = spark.readStream.format("graft-oplog").option("path", log)
      (if (fallback) rd.option("fallback.purged", "true") else rd).load().as[Op]
        .writeStream.format("parquet").option("path", out).outputMode("append")
        .option("checkpointLocation", ckpt).start()
    }

    appendLines(log, row("t1", 1) ++ row("t2", 2) ++ row("t3", 3))
    val q1 = start(fallback = false)
    q1.processAllAvailable(); q1.stop() // checkpoint at line 3
    assert(spark.read.parquet(out).count() == 3)

    // during downtime the producer purges SIX lines (the 3 consumed + 3 the
    // engine never saw) — the checkpoint now predates retention
    Files.write(Paths.get(log), Array.empty[Byte])
    Files.write(Paths.get(log + ".purged"), "6".getBytes("UTF-8"))
    appendLines(log, row("t7", 7) ++ row("t8", 8)) // absolute lines 6, 7

    // default: the restart fails loudly instead of silently skipping data
    val q2 = start(fallback = false)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(rootChain(err).exists(_.contains("predates the oldest retained line")),
      s"unexpected failure chain: ${rootChain(err)}")

    // opt-in fallback: resume from the earliest retained line, gap skipped
    val q3 = start(fallback = true)
    q3.processAllAvailable(); q3.stop()
    val txns = spark.read.parquet(out).select("txnId").as[String].collect().toSet
    assert(txns == Set("t1", "t2", "t3", "t7", "t8"), s"got $txns")
  }

  test("missing path option fails with a clear error, not an NPE") {
    val e = intercept[Exception] {
      spark.readStream.format("graft-oplog").load()
        .writeStream.format("memory").queryName("nopath").start()
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("requires a 'path' option"))),
      s"unexpected: $e")
  }

  test("corrupt lines are skipped without wedging the stream") {
    val log = Files.createTempDirectory("oplog2").resolve("binlog.0001").toString
    appendLines(log, Seq(
      OpLogCodec.encode("BEGIN", "t1", 1, 1, 1000L, "t", "k", Map.empty, Map.empty),
      "garbage\tnot-a-number\toops",
      OpLogCodec.encode("INSERT", "t1", 1, 2, 1000L, "t", "k", Map.empty, Map("a" -> "1")),
      OpLogCodec.encode("COMMIT", "t1", 1, 3, 2000L, "t", "k", Map.empty, Map.empty)))
    val got = spark.readStream.format("graft-oplog").option("path", log).load().as[Op]
      .writeStream.format("memory").queryName("permissive").outputMode("append").start()
    got.processAllAvailable()
    got.stop()
    assert(spark.table("permissive").count() == 3) // the good lines
  }

  test("torn (newline-less) tail line stays outside the offset until completed") {
    val log = Files.createTempDirectory("oplog3").resolve("binlog.0001").toString
    appendLines(log, Seq(
      OpLogCodec.encode("BEGIN", "t1", 1, 1, 1000L, "t", "k", Map.empty, Map.empty)))
    // producer mid-append: a partial line with NO trailing newline
    val full = OpLogCodec.encode("INSERT", "t1", 1, 2, 1000L, "t", "k", Map.empty, Map("a" -> "1"))
    Files.write(Paths.get(log), full.substring(0, full.length / 2).getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val q = spark.readStream.format("graft-oplog").option("path", log).load().as[Op]
      .writeStream.format("memory").queryName("torn").outputMode("append").start()
    q.processAllAvailable()
    // only the terminated line was consumed — the torn line was NOT read,
    // skipped, and silently lost
    assert(spark.table("torn").count() == 1)
    // producer completes the line (+ newline): next batch delivers the event
    Files.write(Paths.get(log), (full.substring(full.length / 2) + "\n").getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("torn").count() == 2)
    assert(spark.table("torn").where(col("kind") === "INSERT").count() == 1)
  }

  test("SupplierContract: stream machinery is binding-agnostic — an " +
      "in-memory supplier drives failover + purged fallback identically") {
    import graft.sources.{FileSupplier, OpLogMicroBatchStream, OpLogOffset,
      OpLogPartition, SupplierContract}
    // an in-memory binding: replica -> (purgedFloor, retained lines). The
    // SAME contract FileSupplier implements — proving a live-client
    // binding is a drop-in for every stream behavior, not just file reads.
    final class MemSupplier(streams: Map[String, (Long, Seq[String])])
        extends SupplierContract {
      override def exists(r: String): Boolean = streams.contains(r)
      override def purgedFloor(r: String): Long =
        streams.get(r).map(_._1).getOrElse(0L)
      override def frontier(r: String): Long =
        streams.get(r).map { case (p, ls) => p + ls.size }.getOrElse(0L)
      override def read(r: String, from: Long, until: Long): Iterator[String] = {
        val (purged, ls) = streams(r)
        ls.iterator.zipWithIndex
          .filter { case (_, i) => i + purged >= from && i + purged < until }
          .map(_._1)
      }
    }
    def line(id: String, n: Long) =
      OpLogCodec.encode("INSERT", id, n, n, n * 1000, "t", "k", Map.empty,
        Map("a" -> id))
    val lines = (1L to 6L).map(i => line(s"t$i", i))
    // primary rotated away its first 4 lines; replica2 retains everything
    val sup = new MemSupplier(Map(
      "primary" -> (4L, lines.drop(4)),
      "replica2" -> (0L, lines)))
    val ckpt = Files.createTempDirectory("memsup").toString

    // checkpoint at 2 predates primary's floor; replica2 covers it →
    // planInputPartitions must pick replica2 with no fallback flag
    val stream = new OpLogMicroBatchStream(Seq("primary", "replica2"), ckpt,
      fallbackPurged = false, sup)
    assert(stream.latestOffset() == OpLogOffset(6L))
    val parts = stream.planInputPartitions(OpLogOffset(2L), OpLogOffset(6L))
    assert(parts.length == 1 &&
      parts(0).asInstanceOf[OpLogPartition].path == "replica2")
    val reader = stream.createReaderFactory().createReader(parts(0))
    val got = Iterator.continually(reader)
      .takeWhile(_.next()).map(_.get().getString(1)).toVector
    assert(got == Vector("t3", "t4", "t5", "t6"))

    // with ONLY the rotated primary: loud failure by default, earliest-
    // retained resume with the fallback flag — same purged semantics the
    // file binding shows (rotated-log + fallback tests above)
    val solo = new OpLogMicroBatchStream(Seq("primary"),
      Files.createTempDirectory("memsup2").toString, fallbackPurged = false, sup)
    val e = intercept[java.io.IOException](
      solo.planInputPartitions(OpLogOffset(2L), OpLogOffset(6L)))
    assert(e.getMessage.contains("predates the oldest retained line"))
    val soloFb = new OpLogMicroBatchStream(Seq("primary"),
      Files.createTempDirectory("memsup3").toString, fallbackPurged = true, sup)
    val fbParts = soloFb.planInputPartitions(OpLogOffset(2L), OpLogOffset(6L))
    assert(fbParts(0).asInstanceOf[OpLogPartition].from == 4L)

    // contract parity: FileSupplier reports the same (floor, frontier,
    // range-read) observations for an equivalent on-disk replica
    val dir = Files.createTempDirectory("memsupf")
    val flog = dir.resolve("binlog.0001").toString
    appendLines(flog, lines.drop(4))
    Files.writeString(Paths.get(flog + ".purged"), "4")
    assert(FileSupplier.purgedFloor(flog) == sup.purgedFloor("primary"))
    assert(FileSupplier.frontier(flog) == sup.frontier("primary"))
    assert(FileSupplier.read(flog, 4L, 6L).toVector ==
      sup.read("primary", 4L, 6L).toVector)
  }

  test("the source counts a replica's log once per latestOffset and once per planned batch") {
    import graft.sources.{OpLogMicroBatchStream, OpLogOffset, SupplierContract}
    val lines = (1L to 6L).map(i => OpLogCodec.encode("INSERT", s"t$i", i, i, i * 1000, "t", "k",
      Map.empty, Map("a" -> s"$i")))
    val frontierCalls = new java.util.concurrent.atomic.AtomicInteger
    object Counting extends SupplierContract {
      override def exists(r: String): Boolean = true
      override def purgedFloor(r: String): Long = 0L
      override def frontier(r: String): Long = { frontierCalls.incrementAndGet(); lines.size.toLong }
      override def read(r: String, from: Long, until: Long): Iterator[String] =
        lines.slice(from.toInt, until.toInt).iterator
    }
    val stream = new OpLogMicroBatchStream(Seq("primary"),
      Files.createTempDirectory("counting").toString, fallbackPurged = false, Counting)
    assert(stream.latestOffset() == OpLogOffset(6L))
    assert(frontierCalls.getAndSet(0) == 1, "latestOffset counted the log more than once")
    // the engine plans a batch once per physical plan it builds
    val plans = (1 to 3).map(_ => stream.planInputPartitions(OpLogOffset(0L), OpLogOffset(6L)))
    assert(plans.map(_.toSeq).distinct.size == 1)
    assert(frontierCalls.getAndSet(0) == 1, "planning one batch counted the log more than once")
    stream.planInputPartitions(OpLogOffset(6L), OpLogOffset(6L)) // an empty batch counts nothing
    stream.planInputPartitions(OpLogOffset(0L), OpLogOffset(3L))
    assert(frontierCalls.get == 1)
  }

  test("FileSupplier.read stops at `until`: bytes after the range are never decoded") {
    val log = Files.createTempDirectory("oplog").resolve("binlog.0001")
    val lines = (0 until 4).map(i => s"line$i")
    Files.write(log, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(log, Array[Byte](0xC3.toByte, 0x28, '\n'.toByte, 0xFF.toByte, '\n'.toByte),
      StandardOpenOption.APPEND) // not UTF-8
    assert(graft.sources.FileSupplier.read(log.toString, 1L, 4L).toVector == lines.drop(1))
    assert(graft.sources.FileSupplier.frontier(log.toString) == 6L)
    intercept[java.nio.charset.CharacterCodingException](
      graft.sources.FileSupplier.read(log.toString, 3L, 5L).toVector)
  }

  test("codec round-trips maps with reserved characters") {
    val line = OpLogCodec.encode("INSERT", "t", 1, 2, 3L, "tbl", "k",
      Map("a&b" -> "v=1\tx"), Map("c" -> "über"))
    val row = OpLogCodec.decode(line)
    val schema = OpSource.opSchema
    assert(row.numFields == schema.length)
    val before = row.getMap(7)
    assert(before.keyArray().getUTF8String(0).toString == "a&b")
    assert(before.valueArray().getUTF8String(0).toString == "v=1\tx")
    assert(row.getMap(8).valueArray().getUTF8String(0).toString == "über")
  }
}
