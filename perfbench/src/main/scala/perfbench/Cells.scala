package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Op

/** Seeded CDC transaction generator for the ops lane and the batch fixture.
  *
  * Each transaction is BEGIN, 1-4 row operations on distinct rows, COMMIT.
  * Rows live in `tables`; keys are skewed (key = n·u³, so low keys are
  * hot). The generator keeps every row's current image, so an UPDATE or
  * DELETE carries the true before-image and a missing row is INSERTed:
  * the stream is a consistent change log whose final state is known. */
final class CdcGen(seed: Long, val tables: Seq[String], keysPerTable: Int, prefix: String) {
  private val rnd = new java.util.Random(seed)
  private val rows = tables.map(_ -> mutable.HashMap.empty[String, Map[String, String]]).toMap
  // (table, key) → (row_status, txn id, commit ms) of the row's last change
  private val last = mutable.HashMap.empty[(String, String), (String, String, Long)]
  private var txn = 0L
  private var event = 0L

  val attrs: Seq[String] = Seq("qty", "name", "score")

  private def value(c: String): String = c match {
    case "qty" => (1 + rnd.nextInt(500)).toString
    case "name" => "n" + Integer.toString(rnd.nextInt(1 << 20), 36)
    case _ => rnd.nextInt(100000).toString
  }

  /** The next transaction, every op stamped `tsMs`. */
  def next(tsMs: Long): Seq[Op] = {
    txn += 1
    val id = s"$prefix:$txn"
    def op(kind: String, table: String, key: String, before: Map[String, String],
           after: Map[String, String]) = {
      event += 1
      Op(kind, id, txn, event, tsMs, table, key, before, after)
    }
    val n = 1 + rnd.nextInt(4)
    val touched = mutable.LinkedHashSet.empty[(String, String)]
    while (touched.size < n) {
      val t = tables(rnd.nextInt(tables.size))
      val u = rnd.nextDouble()
      touched += t -> (keysPerTable * u * u * u).toInt.toString
    }
    val begin = op("BEGIN", "", "", Map.empty, Map.empty)
    val body = touched.toSeq.map { case (t, k) =>
      val live = rows(t)
      val o = live.get(k) match {
        case None =>
          val img = Map("id" -> k) ++ attrs.map(c => c -> value(c))
          live(k) = img
          op("INSERT", t, k, Map.empty, img)
        case Some(img) if rnd.nextInt(4) == 0 =>
          live.remove(k)
          op("DELETE", t, k, img, Map.empty)
        case Some(img) =>
          val changed = attrs.filter(_ => rnd.nextBoolean()) match {
            case Nil => Seq(attrs(rnd.nextInt(attrs.size)))
            case cs => cs
          }
          val next = img ++ changed.map(c => c -> value(c))
          live(k) = next
          op("UPDATE", t, k, img, next)
      }
      last((t, k)) = (o.kind.take(1), id, tsMs)
      o
    }
    (begin +: body) :+ op("COMMIT", "", "", Map.empty, Map.empty)
  }

  /** Live rows now, as the time machine's row reads state them: (table,
    * row_key, every column's latest value with `row_status` and
    * `_transaction_uuid`, the micros of the row's last version). */
  def liveRows: Cells.Rows =
    rows.toSeq.flatMap { case (t, m) =>
      m.map { case (k, img) =>
        val (status, txnId, ts) = last((t, k))
        (t, k, img ++ Map("row_status" -> status, "_transaction_uuid" -> txnId),
          ts * 1000L - 50L)
      }
    }
}

object Cells {

  /** Row reads as (table, row_key, columns, micros of the last version). */
  type Rows = Seq[(String, String, Map[String, String], Long)]

  /** The cells the time-machine contract says an op set must produce, one
    * row per (txn_uuid, table, row_key, column): INSERT writes every
    * after-image column, UPDATE the columns whose value changed, DELETE
    * none; each row op adds `row_status` (I/U/D) and `_transaction_uuid`.
    * Input columns: kind, txnId, table, rowKey, before, after. */
  def expectedCells(ops: DataFrame): DataFrame = {
    val emptyMap = map().cast("map<string,string>")
    val data = when(col("kind") === "INSERT", col("after"))
      .when(col("kind") === "UPDATE",
        map_filter(col("after"), (k, v) => !(v <=> element_at(col("before"), k))))
      .otherwise(emptyMap)
    val status = when(col("kind") === "INSERT", "I").when(col("kind") === "UPDATE", "U")
      .otherwise("D")
    ops.filter(col("kind").isin("INSERT", "UPDATE", "DELETE"))
      .select(col("txnId").as("txn_uuid"), col("table"), col("rowKey").as("row_key"),
        explode(concat(map_entries(coalesce(data, emptyMap)),
          array(struct(lit("row_status").as("key"), status.as("value")),
            struct(lit("_transaction_uuid").as("key"), col("txnId").as("value"))))).as("c"))
      .select(col("txn_uuid"), col("table"), col("row_key"), col("c.key").as("column"),
        col("c.value").as("value"))
  }

  /** Multiset digest of (txn_uuid, table, row_key, column, value) cells:
    * count and the sums of the two 32-bit halves of each cell's
    * `xxhash64`. Equal digests mean the sink holds exactly the expected
    * cells, each once; on a mismatch [[audit]] finds the events at fault. */
  final case class Digest(n: Long, lo: Long, hi: Long)

  final class DigestBuilder {
    private var n, lo, hi = 0L
    def add(cells: Iterable[(String, String, String, String, String)]): Unit = synchronized {
      cells.foreach { case (a, b, c, d, e) =>
        var h = 42L
        Seq(a, b, c, d, e).foreach { v =>
          val bytes = v.getBytes("UTF-8")
          h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, h)
        }
        n += 1; lo += h & 0xFFFFFFFFL; hi += h >>> 32
      }
    }
    def result: Digest = synchronized(Digest(n, lo, hi))
  }

  /** The cells of one row op, as [[expectedCells]] states them. */
  def cellsOf(kind: String, txn: String, table: String, key: String,
              before: Map[String, String], after: Map[String, String]): Seq[(String, String, String, String, String)] = {
    val data = kind match {
      case "INSERT" => after.toSeq
      case "UPDATE" => after.toSeq.filter { case (k, v) => !before.get(k).contains(v) }
      case _ => Nil
    }
    val status = kind match { case "INSERT" => "I"; case "UPDATE" => "U"; case _ => "D" }
    (data :+ ("row_status" -> status) :+ ("_transaction_uuid" -> txn)).map { case (c, v) =>
      (txn, table, key, c, v)
    }
  }

  private def cellHash = xxhash64(col("txn_uuid"), col("table"), col("row_key"), col("column"), col("value"))

  def sinkDigest(spark: SparkSession, sinkDir: String): Digest = {
    val h = cellHash
    val r = spark.read.parquet(sinkDir)
      .select(count(lit(1)), coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One scan of a stream's sink: its digest, and its row events (one
    * row_status cell each) by (commit stamp, batch id). */
  def scanSink(spark: SparkSession, sinkDir: String): (Digest, Seq[(Long, Long, Long)]) = {
    val h = cellHash
    val rows = spark.read.parquet(sinkDir)
      .groupBy(col("commit_ts_ms"), col("batch_id").cast("long"))
      .agg(count(lit(1)), sum(h.bitwiseAND(0xFFFFFFFFL)), sum(shiftrightunsigned(h, 32)),
        count(when(col("column") === "row_status", 1)))
      .collect()
    (Digest(rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum),
      rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(5))))
  }

  /** Events whose cells are not in the sink exactly once with the expected
    * values, plus one for any cell nobody generated. */
  def audit(spark: SparkSession, expected: DataFrame, sinkDir: String): Long = {
    val keys = Seq("txn_uuid", "table", "row_key", "column")
    val actual = spark.read.parquet(sinkDir).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
    val j = expected.withColumn("expected", lit(true)).join(actual, keys, "full_outer")
    val extra = j.filter(col("expected").isNull).count()
    val bad = j.filter(col("expected").isNotNull)
      .filter(col("n").isNull || col("n") =!= 1 || col("lo") =!= col("value") ||
        col("hi") =!= col("value"))
      .select("txn_uuid", "table", "row_key").distinct().count()
    bad + (if (extra > 0) 1 else 0)
  }
}
