package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.functions.MysqlValues
import graft.model.{ColumnSpec, TableSchemaV}
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sink.AvroPresenter
import graft.sources.OpSource
import graft.streaming.{Op, TimeMachineSink}

/** Op sources (S1/S3/S4), enum/set member parsing (A9), Avro schema
  * compatibility gate (W4). */
class SourceAvroSpec extends SparkTestBase {
  import spark.implicits._

  test("parquet op source: file-dropped segments stream through the pipeline") {
    val opsDir = Files.createTempDirectory("ops").toString
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val batch = Seq(
      Op("BEGIN", "t1", 1, 1, 1000L, "t", "k", Map.empty, Map.empty),
      Op("INSERT", "t1", 1, 2, 1000L, "t", "k", Map.empty, Map("a" -> "1")),
      Op("COMMIT", "t1", 1, 3, 2000L, "t", "k", Map.empty, Map.empty))
    batch.toDS().write.mode("append").parquet(opsDir)

    val q = ReplicatorPipeline.start(
      OpSource.parquetStream(spark, opsDir, maxFilesPerTrigger = 4),
      PipelineConfig(sink, ckpt, partitions = 2))
    q.processAllAvailable()
    q.stop()
    val latest = TimeMachineSink.latestRows(spark, sink)
      .select(element_at(col("cols"), "a")).as[String].collect().toSeq
    assert(latest == Seq("1"))
  }

  test("batch backfill reads the same layout (bootstrap path)") {
    val opsDir = Files.createTempDirectory("ops2").toString
    Seq(Op("INSERT", "t9", 9, 1, 100L, "t", "k", Map.empty, Map("x" -> "7")),
      Op("COMMIT", "t9", 9, 2, 200L, "t", "k", Map.empty, Map.empty))
      .toDS().write.mode("overwrite").parquet(opsDir)
    assert(OpSource.parquetBatch(spark, opsDir).count() == 2)
  }

  test("rate source emits well-formed single-op transactions") {
    // schema-level check (rate source needs a running stream to emit rows)
    val ds = OpSource.rateStream(spark, rps = 10)
    assert(ds.schema.fieldNames.toSeq == OpSource.opSchema.fieldNames.toSeq)
    assert(ds.isStreaming)
  }

  test("enum/set member parsing from column type strings (A9)") {
    assert(MysqlValues.parseMembers("enum('animalia','plantae')") == Seq("animalia", "plantae"))
    assert(MysqlValues.parseMembers("set('a','b','c')") == Seq("a", "b", "c"))
    assert(MysqlValues.parseMembers("int(11)") == Nil)
    val v = Seq(2).toDF("i")
      .select(MysqlValues.enumDecode(col("i"), typedLit(MysqlValues.parseMembers("enum('animalia','plantae')"))))
      .collect()(0).getString(0)
    assert(v == "plantae")
  }

  test("distributed avro write path round-trips through the log (W3 avro mode)") {
    val table = TableSchemaV("db", "t", 0, Seq(
      ColumnSpec("id", "int(11)", nullable = false, "PRI", None, None),
      ColumnSpec("name", "varchar(30)", nullable = true, "", None, None)), None, 0L)
    val log = Files.createTempDirectory("avrolog").toString
    val stamped = Seq(
      ("k1", "INSERT", Map("id" -> "1", "name" -> "cat"), 100L, 1L),
      ("k2", "DELETE", Map("id" -> "2"), 200L, 2L)
    ).toDF("rowKey", "kind", "after", "tsMs", "eventId")
    graft.sink.Sinks.kafkaLikeAvro(stamped, table, partitions = 2, "rowKey", log)

    val rows = spark.read.parquet(log).select("value_avro").as[Array[Byte]].collect()
    assert(rows.length == 2)
    // decode one payload back through plain avro
    val schema = AvroPresenter.avroSchema(table)
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)
    val decoded = rows.map { bytes =>
      val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null)
      reader.read(null, dec)
    }
    val byId = decoded.map(r => r.get("row").asInstanceOf[org.apache.avro.generic.GenericRecord])
      .map(r => r.get("id").asInstanceOf[Int] -> Option(r.get("name")).map(_.toString).orNull).toMap
    assert(byId == Map(1 -> "cat", 2 -> null))
    assert(decoded.map(_.get("__is_deleted").asInstanceOf[Int]).sorted.toSeq == Seq(0, 1))
  }

  test("salted two-phase aggregation matches the direct aggregate under skew") {
    import graft.operators.Skew
    // one hot key with 10k rows, many cold keys
    val df = ((1 to 10000).map(_ => ("hot", 1.0)) ++ (1 to 100).map(i => (s"cold$i", 2.0)))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(df, col("k"), saltBuckets = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == direct)
    val sums = Skew.saltedSum(df, col("k"), col("v"), 8)
      .select(col("key"), col("total").cast("double")).as[(String, Double)].collect().toMap
    assert(sums("hot") == 10000.0 && sums("cold7") == 2.0)
  }

  test("bootstrap scrape seeds the catalog and registry; backfill decodes against it") {
    import graft.augment.{RowDecoder, SchemaCatalog}
    import graft.pipeline.Bootstrap
    import graft.sink.FileSchemaRegistry
    val cat = new SchemaCatalog("test")
    val reg = new FileSchemaRegistry(Files.createTempDirectory("reg").toString)
    // JDBC-shaped source: here parquet-backed driver tables stand in for
    // spark.read.jdbc — the scrape only reads schemas
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val versions = Bootstrap.scrape(cat, reg, "tpch",
      Map("nation" -> nation), Map("nation" -> Seq("n_nationkey")))
    assert(versions == Map("bigdata-tpch-nation-value" -> 1))
    val sch = cat.current("nation").get
    assert(sch.columns.map(_.name).contains("n_name"))
    assert(sch.columns.find(_.name == "n_nationkey").get.key == "PRI")
    assert(reg.latest("bigdata-tpch-nation-value").map(_._1).contains(1))
    // backfill through the batch path decodes against the scraped schema
    val ops = Seq(
      Op("INSERT", "b1", 1, 1, 100L, "nation", "1", Map.empty,
        Map("n_nationkey" -> "1", "n_name" -> "FRANCE")),
      Op("COMMIT", "b1", 1, 2, 200L, "nation", "1", Map.empty, Map.empty)).toDS()
    val stamped = ReplicatorPipeline.transform(ops,
      PipelineConfig("/tmp/na", "/tmp/nb")).toDF()
    val decoded = RowDecoder.decode(stamped, col("commitTsMs"), cat)
      .filter(col("kind") === "INSERT")
      .select(element_at(col("after"), "n_name")).as[String].collect()
    assert(decoded.toSeq == Seq("FRANCE"))
  }

  test("incompatible DDL deletes the subject and re-registers (KafkaApplier workflow)") {
    import graft.augment.SchemaCatalog
    import graft.sink.FileSchemaRegistry
    val cat = new SchemaCatalog("test")
    val reg = new FileSchemaRegistry(Files.createTempDirectory("reg2").toString)
    val subject = AvroPresenter.subject("db", "t")
    cat.applyDdl("CREATE TABLE t (id INT PRIMARY KEY, v INT)", 1L)
    assert(reg.registerWithCompatHandling(subject,
      AvroPresenter.avroSchema(cat.current("t").get)) == reg.Registration(1, false))
    // compatible evolution: add a nullable column -> version bump, same lineage
    cat.applyDdl("ALTER TABLE t ADD COLUMN note VARCHAR(20)", 2L)
    assert(reg.registerWithCompatHandling(subject,
      AvroPresenter.avroSchema(cat.current("t").get)) == reg.Registration(2, false))
    // incompatible evolution: v flips int -> varchar (old int payloads
    // unreadable) -> subject deleted, fresh registration from version 1
    cat.applyDdl("ALTER TABLE t DROP COLUMN v", 3L)
    cat.applyDdl("ALTER TABLE t ADD COLUMN v VARCHAR(10)", 4L)
    val r = reg.registerWithCompatHandling(subject,
      AvroPresenter.avroSchema(cat.current("t").get))
    assert(r == reg.Registration(1, true))
    assert(reg.versions(subject) == Seq(1))
  }

  test("pipeline DDL path drives the registry: version bump then forced re-registration") {
    import graft.augment.SchemaCatalog
    import graft.sink.FileSchemaRegistry
    val cat = new SchemaCatalog("shop")
    val regDir = Files.createTempDirectory("reg3").toString
    val sink = Files.createTempDirectory("regsink").toString
    val cfg = PipelineConfig(sink, "/tmp/unused",
      schemaCatalog = Some(cat), schemaRegistryDir = Some(regDir))
    val subject = AvroPresenter.subject("shop", "t")
    def ddlOp(sql: String, id: Long) =
      Op("DDL", s"d$id", 0, id, id * 100L, "t", "", Map.empty, Map("ddl" -> sql))

    ReplicatorPipeline.runBatch(Seq(
      ddlOp("CREATE TABLE t (id INT PRIMARY KEY, v INT)", 1)).toDS(), cfg)
    val reg = new FileSchemaRegistry(regDir)
    assert(reg.versions(subject) == Seq(1))
    // compatible DDL in a later batch → next version, same lineage
    ReplicatorPipeline.runBatch(Seq(
      ddlOp("ALTER TABLE t ADD COLUMN note VARCHAR(20)", 2)).toDS(), cfg)
    assert(reg.versions(subject) == Seq(1, 2))
    // a DROP and an ADD in one batch register one version each, in log
    // order: each step alone is compatible, as it is when the two DDLs
    // arrive in separate batches
    ReplicatorPipeline.runBatch(Seq(
      ddlOp("ALTER TABLE t DROP COLUMN v", 3),
      ddlOp("ALTER TABLE t ADD COLUMN v VARCHAR(10)", 4)).toDS(), cfg)
    assert(reg.versions(subject) == Seq(1, 2, 3, 4))
    // incompatible type flip → subject wiped, re-registered from v1
    ReplicatorPipeline.runBatch(Seq(ddlOp("ALTER TABLE t MODIFY COLUMN v INT", 5)).toDS(), cfg)
    assert(reg.versions(subject) == Seq(1))
  }

  test("avro schema-compat gate: add-nullable ok, type flip incompatible (W4)") {
    def table(cols: Seq[ColumnSpec]) = TableSchemaV("db", "t", 0, cols, None, 0L)
    val v0 = AvroPresenter.avroSchema(table(Seq(
      ColumnSpec("id", "int(11)", nullable = false, "PRI", None, None))))
    val v1 = AvroPresenter.avroSchema(table(Seq(
      ColumnSpec("id", "int(11)", nullable = false, "PRI", None, None),
      ColumnSpec("extra", "varchar(10)", nullable = true, "", None, None))))
    val v2 = AvroPresenter.avroSchema(table(Seq(
      ColumnSpec("id", "varchar(10)", nullable = false, "PRI", None, None))))
    assert(AvroPresenter.isBackwardCompatible(v1, v0))  // new column w/ default: readable
    assert(!AvroPresenter.isBackwardCompatible(v2, v0)) // int -> string flip: not
  }
}
