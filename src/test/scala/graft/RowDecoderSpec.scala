package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.augment.{RowDecoder, SchemaCatalog}
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.streaming.{Op, TimeMachineSink}

/** The organisms type-coverage fixture end-to-end: schema catalog from DDL →
  * schema-driven wire decode (golden values from the reference's Kafka e2e
  * test, FIXTURES.md §1) → time-machine sink. */
class RowDecoderSpec extends SparkTestBase {
  import spark.implicits._

  private val cat = new SchemaCatalog("test")
  cat.applyDdl(
    """CREATE TABLE organisms (
      id INT NOT NULL PRIMARY KEY,
      name VARCHAR(30),
      lifespan TINYINT UNSIGNED,
      lifespan_small SMALLINT UNSIGNED,
      lifespan_medium MEDIUMINT UNSIGNED,
      lifespan_int INT UNSIGNED,
      lifespan_bigint BIGINT UNSIGNED,
      bits BIT(8),
      soylent_dummy_id BINARY(16),
      dob TIMESTAMP,
      mydecimal DECIMAL(27,9),
      kingdom ENUM('animalia','plantae'))""", 1000L)

  // the marked row (id=2) as it crosses the wire: signed two's-complement
  // ints, enum index, bit int, hex binary, epoch-ms timestamp
  private val rawRow = Map(
    "id" -> "2", "name" -> "Ñandú",
    "lifespan" -> "-16",            // 240 unsigned
    "lifespan_small" -> "-36",      // 65500
    "lifespan_medium" -> "-7001",   // 16770215
    "lifespan_int" -> "-70001",     // 4294897295
    "lifespan_bigint" -> "18446744071615",
    "bits" -> "170",                // 10101010
    "soylent_dummy_id" -> "000001348bb470a5129e6c8d332d89cc",
    "dob" -> "1704067207179",
    "mydecimal" -> "100.000000000",
    "kingdom" -> "1")

  test("organisms golden row decodes to the reference's asserted cell values") {
    val schema = cat.current("organisms").get
    val decoded = Seq(Tuple1(rawRow)).toDF("after")
      .select(RowDecoder.decodeImage(col("after"), schema).as("d"))
      .select(explode(col("d"))).as[(String, String)].collect().toMap
    assert(decoded("id") == "2")
    assert(decoded("name") == "Ñandú")
    assert(decoded("lifespan") == "240")
    assert(decoded("lifespan_small") == "65500")
    assert(decoded("lifespan_medium") == "16770215")
    assert(decoded("lifespan_int") == "4294897295")
    assert(decoded("lifespan_bigint") == "18446744071615")
    assert(decoded("bits") == "10101010")
    assert(decoded("soylent_dummy_id") == "000001348BB470A5129E6C8D332D89CC")
    assert(decoded("dob") == "1704067207179")
    assert(decoded("mydecimal") == "100.000000000")
    assert(decoded("kingdom") == "animalia")
  }

  test("decoded image flows through the time-machine sink with PK row keys") {
    val schema = cat.current("organisms").get
    assert(schema.primaryKeyColumns == Seq("id"))
    val sink = Files.createTempDirectory("orgsink").toString
    val ops = Seq(
      Op("BEGIN", "t1", 1, 1, 1000L, "organisms", "2", Map.empty, Map.empty),
      Op("INSERT", "t1", 1, 2, 1000L, "organisms", "2", Map.empty, rawRow),
      Op("COMMIT", "t1", 1, 3, 2000L, "organisms", "2", Map.empty, Map.empty)).toDS()
    val stamped = graft.streaming.TransactionAssembler.assemble(ops).toDF()
    TimeMachineSink.write(RowDecoder.decode(stamped, col("commitTsMs"), cat), sink)
    val row = TimeMachineSink.latestRows(spark, sink).collect()(0)
    val cols = row.getAs[Map[String, String]]("cols")
    assert(cols("lifespan") == "240" && cols("kingdom") == "animalia")
    assert(cols("row_status") == "I")
  }

  /** `acct` row images at their positions, in the decoder's input shape. */
  private def acctRows(rows: (Long, Map[String, String])*) =
    rows.toDF("pos", "after").select(lit("acct").as("table"), col("pos"),
      lit(null).cast("map<string,string>").as("before"), col("after"))

  test("versioned decode: each row decodes against the schema active at its position") {
    // the A10 unit pin under the gated cdc_schema_evolution row: version
    // boundaries are INCLUSIVE of validFromMs (a row at exactly the DDL's
    // position sees the post-DDL schema, matching binlog ordering where
    // the DDL commits before any row event at a later position), absent
    // columns decode to NULL, and the SAME wire value re-types across a
    // MODIFY boundary
    val cat = new SchemaCatalog("test")
    cat.applyDdl("CREATE TABLE acct (id INT NOT NULL PRIMARY KEY, val INT)", 0L)
    cat.applyDdl("ALTER TABLE acct ADD COLUMN score SMALLINT UNSIGNED", 400L)
    cat.applyDdl("ALTER TABLE acct MODIFY COLUMN val TINYINT UNSIGNED", 800L)
    val versions = cat.versionsOf("acct")
    assert(versions.map(_.version) == Seq(0, 1, 2))
    val rows = acctRows(
      (399L, Map("id" -> "1", "val" -> "-37")),
      (400L, Map("id" -> "2", "val" -> "-37", "score" -> "-1")),
      (799L, Map("id" -> "3", "val" -> "-37", "score" -> "7")),
      (800L, Map("id" -> "4", "val" -> "-37", "score" -> "7")))
    val dec = RowDecoder.decode(rows, col("pos"), cat)
      .select(col("pos"), element_at(col("after"), "val").as("val"),
        element_at(col("after"), "score").as("score"))
      .as[(Long, String, String)].collect().map { case (p, v, s) => p -> ((v, s)) }.toMap
    assert(dec(399L) == (("-37", null)))   // v0: signed passthrough, no score key
    assert(dec(400L) == (("-37", "65535"))) // v1 from its own position, inclusive
    assert(dec(799L) == (("-37", "7")))
    assert(dec(800L) == (("219", "7")))    // v2: same wire value, unsigned mask
  }

  test("versioned decode: a row BEFORE the first catalog version passes through raw") {
    // a catalog bootstrapped mid-binlog stamps its CREATE at the bootstrap
    // position; rows earlier than that must NOT be NULLed (silent data
    // loss) — they fall back to the raw image exactly like an
    // unknown-table row
    val cat = new SchemaCatalog("test")
    cat.applyDdl("CREATE TABLE acct (id INT NOT NULL PRIMARY KEY, val TINYINT UNSIGNED)", 500L)
    val rows = acctRows(
      (100L, Map("id" -> "1", "val" -> "-37")),  // pre-bootstrap: raw passthrough
      (500L, Map("id" -> "2", "val" -> "-37")))  // at/after: decoded (unsigned mask)
    val dec = RowDecoder.decode(rows, col("pos"), cat)
      .select(col("pos"), element_at(col("after"), "val").as("val"))
      .as[(Long, String)].collect().toMap
    assert(dec(100L) == "-37")  // untouched wire value, not NULL
    assert(dec(500L) == "219")
  }

  test("collation-aware charset decode: latin1 vs utf8 hex transport") {
    import graft.model.{ColumnSpec, TableSchemaV}
    val schema = TableSchemaV("test", "t", 0, Seq(
      ColumnSpec("lat", "varchar(30)", nullable = true, "", None, Some("latin1_swedish_ci")),
      ColumnSpec("utf", "varchar(30)", nullable = true, "", None, Some("utf8_general_ci"))), None, 0L)
    // 'Ñ' is D1 in latin1; 'Ñandú' utf8 bytes hex
    val utf8Hex = "Ñandú".getBytes("UTF-8").map("%02X".format(_)).mkString
    val raw = Map("lat" -> "D1", "utf" -> utf8Hex)
    val decoded = Seq(Tuple1(raw)).toDF("after")
      .select(RowDecoder.decodeImage(col("after"), schema).as("d"))
      .select(explode(col("d"))).as[(String, String)].collect().toMap
    assert(decoded("lat") == "Ñ")
    assert(decoded("utf") == "Ñandú")
  }

  test("catalog wires per-column collation from DDL into charset decode") {
    val cat = new SchemaCatalog("test")
    cat.applyDdl(
      """CREATE TABLE msgs (id INT PRIMARY KEY,
         lat VARCHAR(30) CHARACTER SET latin1 COLLATE latin1_swedish_ci,
         utf VARCHAR(30) COLLATE utf8mb4_general_ci,
         plain VARCHAR(30))""", 1L)
    val schema = cat.current("msgs").get
    val byName = schema.columns.map(c => c.name -> c.collation).toMap
    assert(byName("lat").contains("latin1_swedish_ci"))
    assert(byName("utf").contains("utf8mb4_general_ci"))
    assert(byName("plain").isEmpty)
    // end-to-end: hex wire bytes decode per the CATALOG-derived collation
    val utf8Hex = "Ñandú".getBytes("UTF-8").map("%02X".format(_)).mkString
    val raw = Map("id" -> "1", "lat" -> "D1", "utf" -> utf8Hex)
    val decoded = Seq(Tuple1(raw)).toDF("after")
      .select(RowDecoder.decodeImage(col("after"), schema).as("d"))
      .select(explode(col("d"))).as[(String, String)].collect().toMap
    assert(decoded("lat") == "Ñ")
    assert(decoded("utf") == "Ñandú")
  }

  test("multi-table dispatch decodes a mixed stream per each table's schema") {
    val cat2 = new SchemaCatalog("test")
    cat2.applyDdl("CREATE TABLE a (id INT PRIMARY KEY, flags BIT(8))", 1L)
    cat2.applyDdl("CREATE TABLE b (id INT PRIMARY KEY, kind ENUM('x','y'))", 2L)
    val df = Seq(
      ("a", Map("id" -> "1", "flags" -> "170")),
      ("b", Map("id" -> "2", "kind" -> "2")),
      ("unknown", Map("raw" -> "7"))
    ).toDF("table", "after").withColumn("before", lit(null).cast("map<string,string>"))
    val out = RowDecoder.decode(df, lit(2L), cat2)
      .select(col("table"), col("after")).as[(String, Map[String, String])].collect().toMap
    assert(out("a")("flags") == "10101010")
    assert(out("b")("kind") == "y")
    assert(out("unknown")("raw") == "7") // passthrough
  }

  test("ChangeEvent projects onto the pipeline op model") {
    import graft.model._
    val ev = ChangeEvent("UPDATE", "db", "organisms", 1000L,
      Checkpoint(1, "binlog.0001", 4242L, Some(Gtid("u", 7)), None, 1000L),
      Some(TxnInfo("u:7", 99L, 1000L, 3)), Seq("id"),
      Some(Map("id" -> "2", "name" -> "cat")), Some(Map("id" -> "2", "name" -> "lion")),
      0, None)
    val op = ev.toOp
    assert(op.kind == "UPDATE" && op.txnId == "u:7" && op.eventId == 4242L)
    assert(op.rowKey == "2" && op.after("name") == "lion")
    val ddl = ev.copy(eventType = "QUERY", ddl = Some("ALTER TABLE organisms ADD c INT"),
      before = None, after = None, txn = None)
    assert(ddl.toOp.kind == "DDL" && ddl.toOp.after("ddl").startsWith("ALTER"))
    assert(ddl.toOp.txnId == "u:7") // falls back to the checkpoint GTID
  }

  test("update after ALTER decodes with the new schema version") {
    cat.applyDdl("ALTER TABLE organisms ADD COLUMN lifespan_float FLOAT(7,4)", 2000L)
    val v1 = cat.current("organisms").get
    val decoded = Seq(Tuple1(rawRow + ("lifespan_float" -> "12.5"))).toDF("after")
      .select(RowDecoder.decodeImage(col("after"), v1).as("d"))
      .select(explode(col("d"))).as[(String, String)].collect().toMap
    assert(decoded("lifespan_float") == "12.5")
    // old version still decodes the old shape (no phantom column)
    val v0 = cat.at("organisms", 1500L).get
    val old = Seq(Tuple1(rawRow)).toDF("after")
      .select(RowDecoder.decodeImage(col("after"), v0).as("d"))
      .select(map_keys(col("d"))).as[Seq[String]].collect()(0)
    assert(!old.contains("lifespan_float"))
  }
}
