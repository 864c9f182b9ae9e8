package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.streaming.TimeMachineSink

/** The time-travel read set over a time-machine sink, and the
  * order-insensitive digest every read and library query is checked by. */
object Reads {

  final case class Digest(rows: Long, hash: Long)

  /** Order-insensitive digest: row count and the sum of a 64-bit hash of
    * each row. Maps hash by their key-sorted entries and doubles by
    * their 9-significant-digit rendering. */
  def digest(df: DataFrame): Digest = {
    // two 32-bit halves summed separately: no overflow under ANSI mode
    val h = xxhash64(canonical(df): _*)
    val r = df.select(count(lit(1)), coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1) * 1000003L + r.getLong(2))
  }

  private def canonical(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case _: MapType => array_sort(map_entries(c))
      case t if t.typeName == "double" || t.typeName == "float" => format_number(c, 9)
      case _: StructType | _: ArrayType => to_json(c)
      case _ => c
    }
  }

  /** Digest of locally collected rows, for library results timed by collect. */
  def digestRows(spark: SparkSession, df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Digest =
    digest(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))

  val cellCols = Seq("table", "row_key", "column", "value", "cell_ts", "event_id")

  /** Runs every read of the set over `sinkDir` and checks the reads against
    * each other: the incremental fold equals the full latest-cells
    * aggregation and the current SCD2 intervals count the live rows. Returns each
    * read's digest by name; times land in spans `read.<name>`. */
  def readSet(ctx: Ctx, spark: SparkSession, sinkDir: String, cutsMicros: Seq[Long],
              attrs: Seq[String], tag: String): Map[String, Digest] = {
    val t = ctx.tracer
    def cells = spark.read.parquet(sinkDir).select(cellCols.map(col): _*)
    def run(name: String)(df: => DataFrame): (String, Digest) =
      name -> t.span(s"read.$name")(digest(df))
    val mid = cutsMicros(cutsMicros.length / 2)
    spark.sparkContext.setJobGroup(s"readset.$tag", s"time-travel reads ($tag)")
    val out = try t.span(s"readset.$tag") {
      Seq(run("latest_rows")(TimeMachineSink.latestRows(spark, sinkDir))) ++
        cutsMicros.zipWithIndex.map { case (c, i) =>
          run(s"rows_as_of_$i")(TimeMachineSink.rowsAsOf(spark, sinkDir, c))
        } ++
        Seq(
          run("latest_cells")(TimeMachineSink.latestCellsKeyed(cells)),
          run("incremental")(TimeMachineSink.applyIncremental(
            TimeMachineSink.latestCellsKeyed(cells.filter(col("cell_ts") <= mid)),
            cells.filter(col("cell_ts") > mid))),
          run("scd2_current")(TimeMachineSink.scd2Intervals(cells, attrs)
            .filter(col("is_current"))),
          run("snapshot_diff")(TimeMachineSink.snapshotDiff(cells,
            lit(cutsMicros.head), lit(cutsMicros.last), attrs)))
    }.toMap finally spark.sparkContext.clearJobGroup()
    ctx.result.check(s"$tag: incremental fold = full latest cells", 1,
      if (out("incremental") == out("latest_cells")) 0 else 1)
    ctx.result.check(s"$tag: current SCD2 intervals = live rows", 1,
      if (out("scd2_current").rows == out("latest_rows").rows) 0 else 1)
    out
  }

  /** The stream workload's reader: the "now" view of the sink it wrote,
    * read three times; `read_s` is the median time. */
  def streamRead(ctx: Ctx, spark: SparkSession, sinkDir: String, tag: String): Digest = {
    val t = ctx.tracer
    spark.sparkContext.setJobGroup(s"readset.$tag", s"time-travel reads ($tag)")
    val now = try (1 to 3).map { _ =>
      t.span(s"readset.$tag")(t.span("read.latest_rows")(digest(TimeMachineSink.latestRows(spark, sinkDir))))
    }.distinct finally spark.sparkContext.clearJobGroup()
    ctx.result.check(s"$tag: repeated reads agree", 1, if (now.size == 1) 0 else 1)
    ctx.result.metric("read_s", Ctx.median(t.allSpans.filter(_.name == s"readset.$tag").map(_.seconds)))
    StreamLayers.recordReads(ctx, sinkDir, passes = 3)
    now.head
  }

  /** Expected row reads as a frame shaped like `latestRows`/`rowsAsOf`. */
  def rowsDf(spark: SparkSession, rows: Cells.Rows): DataFrame = {
    import spark.implicits._
    rows.toDF("table", "row_key", "cols", "last_ts")
  }
}
