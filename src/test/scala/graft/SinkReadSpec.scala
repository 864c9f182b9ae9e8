package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming.TimeMachineSink

/** The time-machine sink's read side: the declared sink schema and the
  * one-exchange as-of reconstruction. */
class SinkReadSpec extends SparkTestBase {
  import spark.implicits._

  private def stamped(table: String) = Seq(
    ("u1", 7L, 1000L, 0, 1L, 900L, table, "INSERT", "k1", Map.empty[String, String], Map("a" -> "1")),
    ("u2", 8L, 2000L, 0, 2L, 1900L, table, "UPDATE", "k1", Map("a" -> "1"), Map("a" -> "2")),
    ("u3", 9L, 3000L, 0, 3L, 2900L, table, "DELETE", "k1", Map("a" -> "2"), Map.empty[String, String])
  ).toDF("txnUuid", "xxid", "commitTsMs", "chunk", "eventId", "tsMs", "table", "kind", "rowKey", "before", "after")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("SinkSchema is the schema Spark infers from what write lays down") {
    // a batch id beyond the int range, so partition inference lands on
    // the type write gives batch_id (small ids infer as int)
    val batched = tmp("sinkschema")
    TimeMachineSink.write(stamped("t"), batched, batchId = 3000000000L)
    assert(spark.read.parquet(batched).schema == TimeMachineSink.SinkSchema)
    val plain = tmp("sinkschema-nobatch")
    TimeMachineSink.write(stamped("t"), plain)
    assert(spark.read.parquet(plain).schema ==
      StructType(TimeMachineSink.SinkSchema.filterNot(_.name == "batch_id")))
  }

  test("an empty sink dir reads as zero rows") {
    val dir = tmp("emptysink")
    assert(TimeMachineSink.latestRows(spark, dir).count() == 0)
    assert(TimeMachineSink.rowsAsOf(spark, dir, Long.MaxValue).count() == 0)
  }

  test("a table whose name is all digits reads back verbatim") {
    val dir = tmp("digits")
    TimeMachineSink.write(stamped("007"), dir, batchId = 0L)
    val asOf = TimeMachineSink.rowsAsOf(spark, dir, 2000L * 1000)
      .select(col("table"), element_at(col("cols"), "a")).as[(String, String)].collect()
    assert(asOf.toSeq == Seq(("007", "2")))
    assert(TimeMachineSink.latestRows(spark, dir).count() == 0) // deleted at the tip
  }

  test("building latestRows / rowsAsOf launches no Spark job") {
    val dir = tmp("nojobs")
    TimeMachineSink.write(stamped("t"), dir, batchId = 0L)
    TimeMachineSink.write(stamped("u"), dir, batchId = 1L)
    val jobs = jobsLaunchedBy {
      TimeMachineSink.latestRows(spark, dir)
      TimeMachineSink.rowsAsOf(spark, dir, 2000L * 1000)
    }
    assert(jobs == 0, s"building the reads launched $jobs job(s)")
  }

  /** The as-of read as it was before the one-exchange window form: latest
    * value per (table, row_key, column) by max_by, then the pivot. */
  private def reference(cells: DataFrame): DataFrame =
    cells.groupBy("table", "row_key", "column")
      .agg(max_by(col("value"), struct(col("cell_ts"), col("event_id"))).as("value"),
        max(col("cell_ts")).as("cell_ts"))
      .groupBy("table", "row_key")
      .agg(map_from_entries(collect_list(struct(col("column"), col("value")))).as("cols"),
        max(col("cell_ts")).as("state_ts"))
      .filter(element_at(col("cols"), "row_status") =!= "D")

  /** One row's history: INSERTs write every column, UPDATEs a non-empty
    * subset, DELETEs only the marker. Timestamps come from a narrow range,
    * so versions tie on cell_ts and event_id decides; event ids are unique
    * within a row, as binlog positions are. */
  private val attrs = Seq("a", "b", "c")
  private val history: Gen[Seq[(String, String, Long, Long)]] = for {
    n <- Gen.choose(1, 8)
    events <- Gen.listOfN(n, for {
      kind <- Gen.frequency(3 -> "I", 4 -> "U", 2 -> "D")
      ts <- Gen.choose(0L, 4L)
      touched <- Gen.atLeastOne(attrs)
      values <- Gen.listOfN(attrs.size, Gen.oneOf("x", "y", "z"))
    } yield (kind, ts, touched.toSeq, values))
  } yield events.zipWithIndex.flatMap { case ((kind, ts, touched, values), i) =>
    val eventId = i.toLong * 7 % 11 // unique for i < 11, not ordered like ts
    val data = kind match {
      case "I" => attrs.zip(values)
      case "U" => attrs.zip(values).filter(p => touched.contains(p._1))
      case _ => Nil
    }
    (("row_status", kind) +: data).map { case (c, v) => (c, v, ts, eventId) }
  }

  test("rowsAsOfCells equals the per-column max_by aggregation it replaces") {
    val rows = (0 until 300).flatMap { k =>
      history.pureApply(Gen.Parameters.default, Seed(k.toLong)).map { case (c, v, ts, e) =>
        (s"t${k % 3}", s"r$k", c, v, ts, e)
      }
    }
    val cells = rows.toDF("table", "row_key", "column", "value", "cell_ts", "event_id")
    def collected(df: DataFrame): Map[(String, String), (Map[String, String], Long)] =
      df.collect().map { case Row(t: String, k: String, cols: scala.collection.Map[_, _], ts: Long) =>
        (t, k) -> (cols.map { case (c, v) => c.toString -> v.toString }.toMap, ts)
      }.toMap
    for (cut <- Seq(-1L, 0L, 1L, 2L, 3L, Long.MaxValue)) {
      val live = cells.filter(col("cell_ts") <= cut)
      val got = collected(TimeMachineSink.rowsAsOfCells(live))
      val want = collected(reference(live))
      assert(got == want, s"cut $cut: first difference at " +
        (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)))
      if (cut == Long.MaxValue) assert(want.nonEmpty && want.size < 300)
    }
  }
}
