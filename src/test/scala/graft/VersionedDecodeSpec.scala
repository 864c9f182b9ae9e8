package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.augment.{RowDecoder, SchemaCatalog}
import graft.functions.MysqlValues
import graft.model.{ColumnSpec, TableSchemaV}
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.streaming.Op

/** The versioned decoder against the when-chain it replaced, over generated
  * catalogs and rows; the generated code it compiles to; and a catalog of
  * 55 versions through the pipeline with codegen fallback off. */
class VersionedDecodeSpec extends SparkTestBase {
  import spark.implicits._
  import VersionedDecodeSpec._

  test("decode equals the when-chain decoder over generated catalogs and rows") {
    for (k <- 1 to 30) {
      val (ddls, names) = catalogGen.pureApply(Gen.Parameters.default, Seed(k.toLong))
      val rows = rowsGen(ddls, names).pureApply(Gen.Parameters.default, Seed(1000L + k))
      val cat = new SchemaCatalog("test")
      ddls.foreach { case (pos, ddl) => cat.applyDdl(ddl, pos) }
      val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "table", "pos", "before", "after")
      def json(d: DataFrame) = d.select(col("id"), to_json(col("before")), to_json(col("after")))
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      val got = json(RowDecoder.decode(df, col("pos"), cat))
      // interpreted: the when-chain's generated code decodes a NULL ENUM
      // index to the last member (element_at reads it as -1)
      val want = interpreted(json(WhenChain.decodeAllTablesVersioned(df, col("pos"), cat)))
      assert(got == want, s"catalog $k:\n${ddls.mkString("\n")}")
    }
  }

  test("the generated code is the same for a 5-version and a 55-version catalog") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val rows = spark.range(64).select(
      concat(lit("t"), (col("id") % 6).cast("string")).as("table"), (col("id") * 97).as("pos"),
      lit(null).cast("map<string,string>").as("before"),
      map(lit("id"), col("id").cast("string"), lit("v"), lit("-37"), lit("c7"), lit("-1")).as("after"))
    def decoded(alters: Int) = RowDecoder.decode(rows, col("pos"), catalogOf(manyVersionOps(alters)))
    def wholeStage(df: DataFrame) = codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    def compilations(df: DataFrame): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      df.write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val (small, large) = (decoded(0), decoded(50))
    assert(wholeStage(small).nonEmpty, "the plan has no whole-stage generated code")
    assert(wholeStage(large) == wholeStage(small))
    // `transform` keeps the decode projection out of whole-stage codegen;
    // its own generated code must not depend on the catalog either
    compilations(small)
    assert(compilations(large) == 0, "a larger catalog compiled new code")
  }

  test("55 schema versions over 5 tables decode through runBatch with codegen fallback off") {
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false")
    val ops = manyVersionOps(50)
    val dir = Files.createTempDirectory("manyversions").toString
    val cat = new SchemaCatalog("test")
    ReplicatorPipeline.runBatch(ops.toDS(), PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitions = 2,
      schemaCatalog = Some(cat), decodeWithCatalog = true))
    assert(cat.tables.map(cat.versionsOf(_).size).sum == 55)
    assert(dataCells(s"$dir/sink") == expectedCells(ops, cat))
  }

  test("55 schema versions over 5 tables decode through a streamed pipeline " +
      "with codegen fallback off") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false")
    val ops = manyVersionOps(50)
    val dir = Files.createTempDirectory("manyversionsstream").toString
    val cat = new SchemaCatalog("test")
    val mem = MemoryStream[Op]
    val q = ReplicatorPipeline.start(mem.toDS(), PipelineConfig(s"$dir/sink", s"$dir/ckpt",
      partitions = 2, triggerMs = 0L, schemaCatalog = Some(cat), decodeWithCatalog = true))
    try ops.grouped(ops.size / 5 + 1).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    assert(cat.tables.map(cat.versionsOf(_).size).sum == 55)
    assert(dataCells(s"$dir/sink") == expectedCells(ops, cat))
  }

  private def interpreted[T](f: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def dataCells(sink: String): Set[(String, String, String, String)] =
    spark.read.parquet(sink).filter(!col("column").isin("row_status", "_transaction_uuid"))
      .select("table", "row_key", "column", "value").as[(String, String, String, String)]
      .collect().toSet
}

object VersionedDecodeSpec {

  /** The decoder `RowDecoder.decode` replaced, kept as the reference: a
    * nested `when` per table × version × column, compiled from the catalog. */
  object WhenChain {
    def decodeColumn(raw: Column, spec: ColumnSpec): Column = {
      val t = spec.mysqlType.toLowerCase
      val unsigned = t.contains("unsigned")
      val out: Column =
        if (t.startsWith("tinyint") && unsigned) MysqlValues.unsignedTiny(raw.cast("long"))
        else if (t.startsWith("smallint") && unsigned) MysqlValues.unsignedSmall(raw.cast("long"))
        else if (t.startsWith("mediumint") && unsigned) MysqlValues.unsignedMedium(raw.cast("long"))
        else if ((t.startsWith("int") || t.startsWith("integer")) && unsigned)
          MysqlValues.unsignedInt(raw.cast("long"))
        else if (t.startsWith("bigint") && unsigned) MysqlValues.unsignedBigint(raw.cast("long"))
        else if (t.startsWith("bit")) MysqlValues.bitString(raw.cast("long"))
        else if (t.startsWith("enum")) enumDecode(raw.cast("int"), MysqlValues.parseMembers(spec.mysqlType))
        else if (t.startsWith("set")) setDecode(raw.cast("long"), MysqlValues.parseMembers(spec.mysqlType))
        else if (t.startsWith("binary")) {
          val declared = "\\d+".r.findFirstIn(t).map(_.toInt).getOrElse(0)
          if (declared > 0) rpad(upper(raw), declared * 2, "0") else upper(raw)
        }
        else if (t.startsWith("varbinary") || t.contains("blob")) upper(raw)
        else if (t.startsWith("geometry") || t.startsWith("point") || t.startsWith("linestring") ||
                 t.startsWith("polygon") || t.startsWith("multi"))
          upper(raw)
        else if (t.startsWith("time") && !t.startsWith("timestamp"))
          MysqlValues.timeString(raw.cast("long"))
        else if (t.startsWith("year")) MysqlValues.yearValue(raw.cast("int"))
        else if (t.startsWith("date") && !t.startsWith("datetime"))
          MysqlValues.dateString(timestamp_millis(raw.cast("long")))
        else if (t.startsWith("datetime") || t.startsWith("timestamp")) raw
        else if ((t.startsWith("char") || t.startsWith("varchar") || t.contains("text"))
                 && spec.collation.isDefined)
          MysqlValues.charsetDecode(unhex(raw), spec.collation.get)
        else raw
      out.cast("string")
    }

    def enumDecode(idx: Column, members: Seq[String]): Column = {
      val arr = array(members.map(lit): _*)
      when(idx <= 0 || idx > members.size, lit(null).cast("string"))
        .otherwise(element_at(arr, idx.cast("int")))
    }

    def setDecode(mask: Column, members: Seq[String]): Column = {
      val parts = members.zipWithIndex.map { case (m, i) =>
        when(mask.bitwiseAND(lit(1L << i)) =!= 0, lit(m)).otherwise(lit(null).cast("string"))
      }
      nullif(concat_ws(",", parts: _*), lit(""))
    }

    def decodeImage(imageMap: Column, schema: TableSchemaV): Column =
      map_from_arrays(
        array(schema.columns.map(c => lit(c.name)): _*),
        array(schema.columns.map(c => decodeColumn(element_at(imageMap, c.name), c)): _*))

    def decodeVersionedImage(image: Column, posCol: Column, versions: Seq[TableSchemaV]): Column =
      versions.foldLeft(image) { (acc, v) =>
        when(posCol >= v.validFromMs && image.isNotNull, decodeImage(image, v)).otherwise(acc)
      }

    def decodeAllTablesVersioned(df: DataFrame, posCol: Column, catalog: SchemaCatalog): DataFrame = {
      def dispatch(image: Column): Column =
        catalog.tables.foldLeft(image) { (acc, tbl) =>
          val vs = catalog.versionsOf(tbl)
          if (vs.isEmpty) acc
          else when(col("table") === tbl && image.isNotNull,
            decodeVersionedImage(image, posCol, vs)).otherwise(acc)
        }
      df.withColumn("before", dispatch(col("before")))
        .withColumn("after", dispatch(col("after")))
    }
  }

  /** Column types over every decoder kind, with ENUM/SET members, BINARY(n)
    * widths and latin1/utf8 collations. */
  val Types = Seq(
    "TINYINT UNSIGNED", "SMALLINT UNSIGNED", "MEDIUMINT UNSIGNED", "INT UNSIGNED", "BIGINT UNSIGNED",
    "INT", "BIT(8)", "ENUM('a','b','c')", "ENUM('solo')", "SET('r','w','x','s')", "BINARY(4)",
    "BINARY(16)", "BINARY", "VARBINARY(8)", "BLOB", "GEOMETRY", "POINT", "TIME", "YEAR", "DATE",
    "DATETIME", "TIMESTAMP", "VARCHAR(20) CHARACTER SET latin1 COLLATE latin1_swedish_ci",
    "TEXT COLLATE utf8mb4_general_ci", "CHAR(4) CHARSET latin1", "VARCHAR(20)", "DECIMAL(10,2)",
    "FLOAT")

  /** Wire values every kind accepts: integers, whose hex reading is ASCII. */
  val Values = Seq("0", "1", "5", "-1", "-37", "170", "255", "2024", "3723456", "12", "69", "70")

  val Tables = Seq("t0", "t1", "t2")

  /** A DDL history over [[Tables]] — CREATE, ADD/DROP/MODIFY COLUMN and DROP
    * TABLE at positions that mostly ascend, with ties and the odd step back —
    * and every column name each table ever had. */
  val catalogGen: Gen[(Seq[(Long, String)], Map[String, Seq[String]])] = for {
    n <- Gen.choose(1, 12)
    steps <- Gen.listOfN(n, for {
      t <- Gen.oneOf(Tables)
      action <- Gen.frequency(2 -> "add", 1 -> "drop", 2 -> "modify", 1 -> "droptable")
      ty <- Gen.oneOf(Types)
      pick <- Gen.choose(0, 99)
      step <- Gen.frequency(2 -> 0L, 2 -> 1L, 5 -> 100L, 1 -> -30L)
    } yield (t, action, ty, pick, step))
  } yield {
    val live = scala.collection.mutable.Map.empty[String, Vector[String]]
    val names = scala.collection.mutable.Map.empty[String, Seq[String]].withDefaultValue(Seq("id"))
    var pos = 100L
    val ddls = steps.zipWithIndex.map { case ((t, action, ty, pick, step), i) =>
      pos += step
      val cols = live.get(t)
      val fresh = s"c$i"
      val ddl = (cols, action) match {
        case (None, _) =>
          live(t) = Vector(fresh)
          names(t) :+= fresh
          s"CREATE TABLE $t (id INT NOT NULL PRIMARY KEY, $fresh $ty)"
        case (Some(cs), "drop") if cs.nonEmpty =>
          live(t) = cs.filterNot(_ == cs(pick % cs.size))
          s"ALTER TABLE $t DROP COLUMN ${cs(pick % cs.size)}"
        case (Some(cs), "modify") if cs.nonEmpty =>
          s"ALTER TABLE $t MODIFY COLUMN ${cs(pick % cs.size)} $ty"
        case (Some(_), "droptable") =>
          live.remove(t)
          s"DROP TABLE $t"
        case (Some(cs), _) =>
          live(t) = cs :+ fresh
          names(t) :+= fresh
          s"ALTER TABLE $t ADD COLUMN $fresh $ty"
      }
      (pos, ddl)
    }
    (ddls, names.toMap.withDefaultValue(Seq("id")))
  }

  type RawRow = (Long, String, Long, Option[Map[String, String]], Option[Map[String, String]])

  /** Rows of known and unknown tables at, just before and just after each
    * DDL position, before the first one and after the last; images with
    * absent and NULL cells, and NULL images. */
  def rowsGen(ddls: Seq[(Long, String)], names: Map[String, Seq[String]]): Gen[Seq[RawRow]] = {
    val positions = (ddls.map(_._1).flatMap(p => Seq(p - 1, p, p + 1)) ++ Seq(0L, ddls.map(_._1).max + 1000)).distinct
    def image(table: String): Gen[Option[Map[String, String]]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.someOf(names(table) :+ "extra").flatMap(keys =>
        Gen.sequence[Seq[(String, String)], (String, String)](keys.map(k =>
          Gen.frequency(9 -> Gen.oneOf(Values), 1 -> Gen.const(null: String)).map(k -> _))))
        .map(kvs => Some(kvs.toMap)))
    Gen.listOfN(40, for {
      table <- Gen.oneOf(Tables :+ "unknown")
      pos <- Gen.oneOf(positions)
      before <- image(table)
      after <- image(table)
    } yield (table, pos, before, after)).map(_.zipWithIndex.map { case ((t, p, b, a), i) => (i.toLong, t, p, b, a) })
  }

  /** An op log over tables t0..t4: their CREATEs, then `alters` DDLs
    * round-robin over the tables, alternating rounds of ADD COLUMN
    * (SMALLINT UNSIGNED) and a MODIFY of `v` between INT and TINYINT
    * UNSIGNED; after each DDL one transaction at its position and one
    * between it and the next writes a row into every table. Every image
    * carries every column the log ever adds, so a row's decoded cells show
    * which version it met. */
  def manyVersionOps(alters: Int): Seq[Op] = {
    val tables = 5
    var ev = 0L
    def next(): Long = { ev += 1; ev }
    def ddl(ts: Long, sql: String) = Seq(Op("DDL", s"ddl${next()}", 0, ev, ts, "", "", Map.empty, Map("ddl" -> sql)))
    val image = Map("v" -> "-37") ++ (0 until alters).map(k => s"c$k" -> "-1")
    def txn(ts: Long): Seq[Op] = {
      val id = s"x${next()}"
      Op("BEGIN", id, 0, ev, ts, "", "", Map.empty, Map.empty) +:
        (0 until tables).map(t => Op("INSERT", id, 0, next(), ts, s"t$t", s"$id-$t", Map.empty,
          image + ("id" -> ev.toString))) :+
        Op("COMMIT", id, 0, next(), ts, "", "", Map.empty, Map.empty)
    }
    val creates = (0 until tables).flatMap(t => ddl(100L, s"CREATE TABLE t$t (id INT PRIMARY KEY, v INT)"))
    creates ++ txn(500L) ++ (0 until alters).flatMap { k =>
      val t = k % tables
      val round = k / tables
      val sql =
        if (round % 2 == 0) s"ALTER TABLE t$t ADD COLUMN c$k SMALLINT UNSIGNED"
        else s"ALTER TABLE t$t MODIFY COLUMN v ${if (round % 4 == 1) "TINYINT UNSIGNED" else "INT"}"
      val ts = 1000L + k * 100
      ddl(ts, sql) ++ txn(ts) ++ txn(ts + 50)
    }
  }

  def catalogOf(ops: Seq[Op]): SchemaCatalog = {
    val cat = new SchemaCatalog("test")
    ops.filter(_.kind == "DDL").foreach(o => cat.applyDdl(o.after("ddl"), o.tsMs))
    cat
  }

  /** The data cells of the INSERTs of a [[manyVersionOps]] log, decoded in
    * Scala against the version `cat` holds at each row's position. */
  def expectedCells(ops: Seq[Op], cat: SchemaCatalog): Set[(String, String, String, String)] =
    ops.filter(_.kind == "INSERT").flatMap { o =>
      cat.at(o.table, o.tsMs).get.columns.flatMap { c =>
        o.after.get(c.name).map { raw =>
          val t = c.mysqlType.toLowerCase
          val value =
            if (t.startsWith("tinyint unsigned")) (raw.toLong & 0xFFL).toString
            else if (t.startsWith("smallint unsigned")) (raw.toLong & 0xFFFFL).toString
            else raw
          (o.table, o.rowKey, c.name, value)
        }
      }
    }.toSet
}
