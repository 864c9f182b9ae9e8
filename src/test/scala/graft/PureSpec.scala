package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.GtidSetAlgebra
import graft.model.{Checkpoint, Gtid}
import graft.augment.{DdlClassifier, SchemaCatalog}

/** Pure (Spark-free) semantics: GTID algebra, checkpoint ordering, DDL
  * classification, schema catalog evolution. */
class PureSpec extends AnyFunSuite {

  // --- GtidSetAlgebra (reference: GtidSetAlgebra.java:21-175) ---

  test("parse + normalize merges adjacent and overlapping ranges") {
    assert(GtidSetAlgebra.parse("u:1-3:4-6") == Map("u" -> List((1L, 6L))))
    assert(GtidSetAlgebra.parse("u:1-5:3-8") == Map("u" -> List((1L, 8L))))
    assert(GtidSetAlgebra.parse("u:1-3:7-9") == Map("u" -> List((1L, 3L), (7L, 9L))))
  }

  test("safe checkpoint is the gap-free prefix across task sets") {
    val safe = GtidSetAlgebra.safeCheckpoint(Seq("u:1-4", "u:6-9"))
    assert(safe == Map("u" -> (1L, 4L))) // 5 missing: cannot advance past 4
    val safe2 = GtidSetAlgebra.safeCheckpoint(Seq("u:1-4", "u:5-9"))
    assert(safe2 == Map("u" -> (1L, 9L))) // union closes the gap
    val multi = GtidSetAlgebra.safeCheckpoint(Seq("a:1-3,b:1-2", "a:4-5", "b:4"))
    assert(multi == Map("a" -> (1L, 5L), "b" -> (1L, 2L)))
  }

  test("render is deterministic and reports the ACTUAL prefix start") {
    assert(GtidSetAlgebra.render(Map("b" -> (1L, 2L), "a" -> (1L, 5L))) == "a:1-5,b:1-2")
    // prefix starting above 1 must NOT be rendered as 1-hi (that would claim
    // txns 1..lo-1 applied and let a resume skip them)
    assert(GtidSetAlgebra.render(GtidSetAlgebra.safeCheckpoint(Seq("u:3-7"))) == "u:3-7")
  }

  test("property: normalize of random range sets is sorted/disjoint with exact gap-free prefix") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val rs = List.fill(1 + rnd.nextInt(8)) {
        val a = 1L + rnd.nextInt(50); (a, a + rnd.nextInt(10))
      }
      val norm = GtidSetAlgebra.normalize(rs)
      norm.sliding(2).foreach {
        case List((_, e1), (s2, _)) => assert(s2 > e1 + 1)
        case _ => ()
      }
      val covered = rs.flatMap { case (a, b) => a to b }.toSet
      val expectedEnd = Iterator.iterate(norm.head._1)(_ + 1).takeWhile(covered).toSeq.last
      assert(GtidSetAlgebra.gapFreePrefixEnd(norm).contains(expectedEnd))
    }
  }

  // --- Checkpoint ordering (reference: Checkpoint.java:81-120) ---

  test("checkpoint order: GTID first, then timestamp across servers, then file+pos") {
    def cp(server: Long, file: String, pos: Long, gtid: Option[Gtid], ts: Long) =
      Checkpoint(server, file, pos, gtid, None, ts)
    val ord = Checkpoint.ordering
    assert(ord.compare(cp(1, "f1", 10, Some(Gtid("u", 5)), 0), cp(1, "f1", 2, Some(Gtid("u", 7)), 0)) < 0)
    assert(ord.compare(cp(1, "f2", 1, None, 100), cp(2, "f1", 999, None, 200)) < 0) // cross-server: ts
    assert(ord.compare(cp(1, "binlog.0002", 5, None, 0), cp(1, "binlog.0001", 900, None, 0)) > 0)
    assert(ord.compare(cp(1, "f1", 5, None, 0), cp(1, "f1", 9, None, 0)) < 0)
  }

  // --- DDL classification (reference: AugmenterContext.java:415-577) ---

  test("query classification covers the reference's classes") {
    import DdlClassifier._
    assert(classify("BEGIN") == Begin)
    assert(classify("/* comment */ begin") == Begin)
    assert(classify("COMMIT") == Commit)
    assert(classify("ALTER TABLE t ADD COLUMN c INT") == DdlTable)
    assert(classify("create table `x` (id int)") == DdlTable)
    assert(classify("RENAME TABLE a TO b") == DdlTable)
    assert(classify("TRUNCATE TABLE t") == DdlTable)
    assert(classify("CREATE TEMPORARY TABLE tmp (i int)") == DdlTemporaryTable)
    assert(classify("CREATE VIEW v AS SELECT 1") == DdlView)
    assert(classify("ANALYZE TABLE t") == DdlAnalyze)
    assert(classify("CREATE DEFINER=`u`@`h` TRIGGER trg BEFORE INSERT ON t FOR EACH ROW SET @a=1") == DdlDefiner)
    assert(classify("INSERT INTO t VALUES (1)") == Other)
  }

  test("cross-schema rename guard (reference: ActiveSchemaHelpers.java:173-198)") {
    assert(DdlClassifier.shouldReplayRename("RENAME TABLE a TO b", "mydb"))
    assert(DdlClassifier.shouldReplayRename("RENAME TABLE mydb.a TO mydb.b", "mydb"))
    assert(!DdlClassifier.shouldReplayRename("RENAME TABLE mydb.a TO otherdb.b", "mydb"))
    assert(!DdlClassifier.shouldReplayRename("RENAME TABLE otherdb.a TO mydb.a", "mydb"))
  }

  test("schema-name rewrite strips the source qualifier (reference: ActiveSchemaHelpers.java:150-171)") {
    assert(DdlClassifier.rewriteSchemaName("ALTER TABLE mydb.t ADD c INT", "mydb") == "ALTER TABLE t ADD c INT")
    assert(DdlClassifier.rewriteSchemaName("ALTER TABLE `mydb`.t ADD c INT", "mydb") == "ALTER TABLE t ADD c INT")
  }

  // --- Schema catalog evolution (reference: ActiveSchemaManager + fixtures) ---

  test("catalog: create, alter add (mysql.init.sql flow), versions at position") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE organisms (id INT NOT NULL PRIMARY KEY, name VARCHAR(30), lifespan TINYINT UNSIGNED)", 1000L)
    val v0 = cat.current("organisms").get
    assert(v0.columns.map(_.name) == Seq("id", "name", "lifespan"))
    assert(v0.primaryKeyColumns == Seq("id"))

    cat.applyDdl("ALTER TABLE organisms ADD COLUMN lifespan_float FLOAT(7,4)", 2000L)
    assert(cat.current("organisms").get.columns.map(_.name).contains("lifespan_float"))
    assert(cat.at("organisms", 1500L).get.version == 0) // old version still resolvable
    assert(cat.at("organisms", 2500L).get.version == 1)
  }

  test("catalog: column DEFAULT values parse from create and add-column DDL") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE t (id INT NOT NULL PRIMARY KEY, " +
      "status VARCHAR(10) DEFAULT 'new', retries INT DEFAULT 0, " +
      "note VARCHAR(20) DEFAULT 'it''s fine', " +
      "created DATETIME DEFAULT CURRENT_TIMESTAMP, free TEXT)", 1L)
    val cols = cat.current("t").get.columns.map(c => c.name -> c.defaultValue).toMap
    assert(cols("status").contains("new"))
    assert(cols("retries").contains("0"))
    assert(cols("note").contains("it's fine"))
    assert(cols("created").contains("CURRENT_TIMESTAMP"))
    assert(cols("free").isEmpty && cols("id").isEmpty)
    cat.applyDdl("ALTER TABLE t ADD COLUMN lang CHAR(2) DEFAULT 'en' COLLATE latin1_swedish_ci", 2L)
    val lang = cat.current("t").get.columns.find(_.name == "lang").get
    assert(lang.defaultValue.contains("en") && lang.collation.contains("latin1_swedish_ci"))
    assert(lang.mysqlType.equalsIgnoreCase("char(2)"))
  }

  test("catalog: ALTER MODIFY retypes in place; CHANGE renames + retypes (organisms flow)") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE organisms (id INT NOT NULL PRIMARY KEY, " +
      "name VARCHAR(30), lifespan TINYINT UNSIGNED, bits BIT(8))", 1000L)

    // MODIFY: type widens, name and position stay, PK membership carries
    cat.applyDdl("ALTER TABLE organisms MODIFY COLUMN lifespan SMALLINT UNSIGNED NOT NULL", 2000L)
    val v1 = cat.current("organisms").get
    assert(v1.version == 1)
    assert(v1.columns.map(_.name) == Seq("id", "name", "lifespan", "bits"))
    val ls = v1.columns.find(_.name == "lifespan").get
    assert(ls.mysqlType.equalsIgnoreCase("smallint unsigned") && !ls.nullable)
    cat.applyDdl("ALTER TABLE organisms MODIFY id BIGINT NOT NULL", 2500L)
    val idCol = cat.current("organisms").get.columns.find(_.name == "id").get
    assert(idCol.mysqlType.equalsIgnoreCase("bigint") && idCol.key == "PRI")

    // CHANGE: rename + retype, same position; defaults/collation parse
    cat.applyDdl("ALTER TABLE organisms CHANGE name common_name VARCHAR(80) " +
      "DEFAULT 'unknown' COLLATE utf8mb4_bin", 3000L)
    val v3 = cat.current("organisms").get
    assert(v3.columns.map(_.name) == Seq("id", "common_name", "lifespan", "bits"))
    val cn = v3.columns.find(_.name == "common_name").get
    assert(cn.mysqlType.equalsIgnoreCase("varchar(80)") &&
      cn.defaultValue.contains("unknown") && cn.collation.contains("utf8mb4_bin"))

    // FIRST / AFTER repositioning — row images are positional, order is law
    cat.applyDdl("ALTER TABLE organisms MODIFY bits BIT(8) FIRST", 4000L)
    assert(cat.current("organisms").get.columns.map(_.name) ==
      Seq("bits", "id", "common_name", "lifespan"))
    cat.applyDdl("ALTER TABLE organisms MODIFY bits BIT(8) AFTER common_name", 5000L)
    assert(cat.current("organisms").get.columns.map(_.name) ==
      Seq("id", "common_name", "bits", "lifespan"))
    cat.applyDdl("ALTER TABLE organisms ADD COLUMN genus VARCHAR(40) AFTER id", 6000L)
    assert(cat.current("organisms").get.columns.map(_.name) ==
      Seq("id", "genus", "common_name", "bits", "lifespan"))

    // every transition versioned and position-resolvable (mid-stream decode)
    assert(cat.at("organisms", 1500L).get.columns.find(_.name == "lifespan").get
      .mysqlType.equalsIgnoreCase("tinyint unsigned"))
    assert(cat.at("organisms", 2200L).get.columns.find(_.name == "lifespan").get
      .mysqlType.equalsIgnoreCase("smallint unsigned"))
    assert(cat.at("organisms", 3500L).get.columns.map(_.name).contains("common_name"))
    assert(cat.transitions.count(_.table == "organisms") == 7)

    // MODIFY of a column that does not exist: catalog unchanged, no version
    val before = cat.current("organisms").get.version
    cat.applyDdl("ALTER TABLE organisms MODIFY ghost INT", 7000L)
    assert(cat.current("organisms").get.version == before)
    assert(cat.transitions.count(_.table == "organisms") == 7)
    // CHANGE onto an existing column name (MySQL rejects it): catalog as-is
    cat.applyDdl("ALTER TABLE organisms CHANGE genus common_name VARCHAR(40)", 8000L)
    assert(cat.current("organisms").get.version == before)
    assert(cat.current("organisms").get.columns.count(_.name == "common_name") == 1)
  }

  test("catalog: ADD/DROP PRIMARY KEY rewrite the row-key column set mid-stream") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE acct (uid INT NOT NULL, region VARCHAR(8), balance INT)", 1000L)
    assert(cat.current("acct").get.primaryKeyColumns.isEmpty)

    // the migration adds a composite PK: row keys flip from no-PK fallback
    // to (uid, region), and MySQL implicitly forces PK columns NOT NULL
    cat.applyDdl("ALTER TABLE acct ADD PRIMARY KEY (uid, `region`)", 2000L)
    val v1 = cat.current("acct").get
    assert(v1.primaryKeyColumns == Seq("uid", "region"))
    assert(v1.columns.filter(_.key == "PRI").forall(!_.nullable))
    // positional order untouched — row images are positional
    assert(v1.columns.map(_.name) == Seq("uid", "region", "balance"))

    cat.applyDdl("ALTER TABLE acct DROP PRIMARY KEY", 3000L)
    val v2 = cat.current("acct").get
    assert(v2.primaryKeyColumns.isEmpty)
    assert(v2.columns.map(_.name) == Seq("uid", "region", "balance"))

    // every flip versioned and position-resolvable; history records both
    assert(cat.at("acct", 1500L).get.primaryKeyColumns.isEmpty)
    assert(cat.at("acct", 2500L).get.primaryKeyColumns == Seq("uid", "region"))
    assert(cat.at("acct", 3500L).get.primaryKeyColumns.isEmpty)
    assert(cat.transitions.count(_.table == "acct") == 3)
    // regression guard: ADD PRIMARY KEY must NOT parse as a column "primary"
    assert(!cat.current("acct").get.columns.exists(_.name.equalsIgnoreCase("primary")))
  }

  test("catalog: CONVERT TO CHARACTER SET re-collates every string column") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE msg (id INT NOT NULL PRIMARY KEY, " +
      "subject VARCHAR(80) COLLATE latin1_swedish_ci, body TEXT, " +
      "kind ENUM('a','b'), flags SET('x','y'), n_read INT, at DATETIME)", 1000L)

    cat.applyDdl("ALTER TABLE msg CONVERT TO CHARACTER SET utf8mb4 COLLATE utf8mb4_general_ci", 2000L)
    val v1 = cat.current("msg").get
    val byName = v1.columns.map(c => c.name -> c.collation).toMap
    // every string-typed column re-collated — collation drives charset decode
    Seq("subject", "body", "kind", "flags").foreach(c =>
      assert(byName(c).contains("utf8mb4_general_ci"), s"$c: ${byName(c)}"))
    // non-string columns untouched
    assert(byName("id").isEmpty && byName("n_read").isEmpty && byName("at").isEmpty)
    // decode behavior is position-resolvable across the flip
    assert(cat.at("msg", 1500L).get.columns.find(_.name == "subject").get
      .collation.contains("latin1_swedish_ci"))

    // without COLLATE the charset family itself names the decode family
    cat.applyDdl("ALTER TABLE msg CONVERT TO CHARACTER SET latin1", 3000L)
    assert(cat.current("msg").get.columns.find(_.name == "body").get
      .collation.contains("latin1"))
    assert(cat.transitions.count(_.table == "msg") == 3)
  }

  test("catalog: keywords inside string literals do not drive nullability/PK/type") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE lgc (id INT NOT NULL PRIMARY KEY, " +
      "note VARCHAR(40) DEFAULT 'primary key of legacy table', " +
      "hint VARCHAR(40) COMMENT 'value may be not null someday', " +
      "mode ENUM('null','default','primary') DEFAULT 'null')", 1000L)
    val v0 = cat.current("lgc").get
    // a literal mentioning PRIMARY KEY must not join the PK set
    assert(v0.primaryKeyColumns == Seq("id"))
    val note = v0.columns.find(_.name == "note").get
    assert(note.key == "" && note.nullable)
    assert(note.defaultValue.contains("primary key of legacy table"))
    // a literal mentioning NOT NULL must not flip nullability
    assert(v0.columns.find(_.name == "hint").get.nullable)
    // enum members that are attribute keywords stay inside the type token
    val mode = v0.columns.find(_.name == "mode").get
    assert(mode.mysqlType.equalsIgnoreCase("enum('null','default','primary')"),
      mode.mysqlType)
    // same hygiene through MODIFY
    cat.applyDdl("ALTER TABLE lgc MODIFY note VARCHAR(60) DEFAULT 'not null brigade'", 2000L)
    val note2 = cat.current("lgc").get.columns.find(_.name == "note").get
    assert(note2.nullable && note2.defaultValue.contains("not null brigade"))
    assert(note2.mysqlType.equalsIgnoreCase("varchar(60)"))
  }

  test("catalog: index-driven PRI promotion (first all-NOT-NULL unique index)") {
    val cat = new SchemaCatalog("mydb")
    // no PK; one nullable unique + one NOT NULL unique + an inline unique:
    // promotion = FIRST eligible in declaration order = uq_code
    cat.applyDdl("CREATE TABLE ref (code VARCHAR(12) NOT NULL, alias VARCHAR(12), " +
      "serial INT NOT NULL UNIQUE, " +
      "UNIQUE KEY uq_alias (alias), UNIQUE KEY uq_code (code))", 1000L)
    val v0 = cat.current("ref").get
    assert(v0.primaryKeyColumns == Seq("code"), v0.primaryKeyColumns)
    // nullable unique never promotes even though declared first
    assert(!v0.primaryKeyColumns.contains("alias"))

    // explicit PK wins over any promotion
    cat.applyDdl("ALTER TABLE ref ADD PRIMARY KEY (serial)", 2000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("serial"))
    // dropping the PK falls BACK to the promoted unique (I_S view)
    cat.applyDdl("ALTER TABLE ref DROP PRIMARY KEY", 3000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("code"))

    // dropping the promoted index moves promotion to the next eligible:
    // uq_alias is nullable, so the inline unique on serial takes over
    cat.applyDdl("ALTER TABLE ref DROP INDEX uq_code", 4000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("serial"))

    // a NOT NULL retype makes a previously ineligible unique promotable
    cat.applyDdl("ALTER TABLE ref MODIFY alias VARCHAR(12) NOT NULL", 5000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("alias"))

    // ADD UNIQUE mid-stream + CHANGE rename follows the column into the key
    // (creation order decides among eligibles, so clear the earlier ones)
    cat.applyDdl("ALTER TABLE ref DROP INDEX uq_alias", 6000L)
    cat.applyDdl("ALTER TABLE ref DROP INDEX serial", 6500L) // MySQL default name
    cat.applyDdl("ALTER TABLE ref ADD CONSTRAINT uq2 UNIQUE (code, serial)", 7000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("code", "serial"))
    cat.applyDdl("ALTER TABLE ref CHANGE code ref_code VARCHAR(12) NOT NULL", 8000L)
    assert(cat.current("ref").get.primaryKeyColumns == Seq("ref_code", "serial"))
    // dropping a member column kills the composite index; nothing eligible
    // remains, so the table falls back to no row identity
    cat.applyDdl("ALTER TABLE ref DROP COLUMN ref_code", 9000L)
    assert(cat.current("ref").get.primaryKeyColumns.isEmpty)

    // promotion is position-resolvable like everything else
    assert(cat.at("ref", 2500L).get.primaryKeyColumns == Seq("serial"))
    assert(cat.at("ref", 3500L).get.primaryKeyColumns == Seq("code"))
  }

  test("catalog: table-swap RENAME flow (mysql.binlog.test.sql)") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE animal (id INT PRIMARY KEY, name VARCHAR(30))", 1L)
    cat.applyDdl("CREATE TABLE _animal_new (id INT PRIMARY KEY, name VARCHAR(30), sc_name VARCHAR(30))", 2L)
    cat.applyDdl("RENAME TABLE animal TO _animal_old, _animal_new TO animal", 3L)
    cat.applyDdl("DROP TABLE _animal_old", 4L)
    val now = cat.current("animal").get
    assert(now.columns.map(_.name) == Seq("id", "name", "sc_name"))
    assert(cat.current("_animal_old").isEmpty && cat.current("_animal_new").isEmpty)
    // schema-version resolution across the swap: the pre-swap lineage moves
    // WITH the table (the data lives under _animal_old until the drop), so
    // "animal" resolves only from the cutover onward — a pre-swap timestamp
    // must NOT resolve against the new table's shape
    assert(cat.at("animal", 2L).isEmpty)
    assert(cat.at("animal", 3L).get.columns.map(_.name) == Seq("id", "name", "sc_name"))
  }

  test("catalog: multi-table RENAME pairs apply left to right (non-swap form)") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE a (x INT)", 1L)
    cat.applyDdl("CREATE TABLE c (y INT, z INT)", 1L)
    cat.applyDdl("RENAME TABLE `a` TO `b`, `c` TO `d`", 2L)
    assert(cat.current("a").isEmpty && cat.current("c").isEmpty)
    assert(cat.current("b").get.columns.map(_.name) == Seq("x"))
    assert(cat.current("d").get.columns.map(_.name) == Seq("y", "z"))
  }

  test("catalog: parenthesized multi-column ADD (one DDL = one version)") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE m (id INT PRIMARY KEY)", 1L)
    val v0 = cat.current("m").get.version
    cat.applyDdl("ALTER TABLE m ADD COLUMN (x INT, " +
      "y VARCHAR(10) NOT NULL DEFAULT 'a b' COLLATE utf8mb4_bin, " +
      "mode ENUM('null','not, null') DEFAULT 'null')", 2L)
    val v1 = cat.current("m").get
    assert(v1.version == v0 + 1) // ONE transition for the whole paren body
    assert(v1.columns.map(_.name) == Seq("id", "x", "y", "mode"))
    val y = v1.columns.find(_.name == "y").get
    assert(!y.nullable && y.defaultValue.contains("a b") &&
      y.collation.contains("utf8mb4_bin"))
    // the comma INSIDE the enum literal must not split the column list
    val mode = v1.columns.find(_.name == "mode").get
    assert(mode.mysqlType.equalsIgnoreCase("enum('null','not, null')"), mode.mysqlType)
    assert(mode.nullable)
    // bare-paren spelling (no COLUMN keyword) parses the same
    cat.applyDdl("ALTER TABLE m ADD (w INT NOT NULL, v INT)", 3L)
    val v2 = cat.current("m").get
    assert(v2.columns.map(_.name) == Seq("id", "x", "y", "mode", "w", "v"))
    assert(!v2.columns.find(_.name == "w").get.nullable)
    assert(v2.columns.find(_.name == "v").get.nullable)
  }

  test("catalog: single ADD COLUMN honors NOT NULL / inline PK, with literal hygiene") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE s (id INT)", 1L)
    cat.applyDdl("ALTER TABLE s ADD COLUMN req VARCHAR(5) NOT NULL", 2L)
    assert(!cat.current("s").get.columns.find(_.name == "req").get.nullable)
    cat.applyDdl("ALTER TABLE s ADD COLUMN note VARCHAR(20) DEFAULT 'not null brigade'", 3L)
    val note = cat.current("s").get.columns.find(_.name == "note").get
    assert(note.nullable && note.defaultValue.contains("not null brigade"))
    cat.applyDdl("ALTER TABLE s ADD COLUMN pk2 INT PRIMARY KEY", 4L)
    val pk2 = cat.current("s").get.columns.find(_.name == "pk2").get
    assert(pk2.key == "PRI" && !pk2.nullable)
  }

  test("catalog: secondary-index / FK / CHECK adds are catalog-neutral") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE n (id INT PRIMARY KEY, ref_id INT)", 1L)
    val before = cat.current("n").get
    cat.applyDdl("ALTER TABLE n ADD INDEX idx_ref (ref_id)", 2L)
    cat.applyDdl("ALTER TABLE n ADD KEY (ref_id)", 3L)
    cat.applyDdl("ALTER TABLE n ADD FULLTEXT INDEX ft (ref_id)", 4L)
    cat.applyDdl("ALTER TABLE n ADD CONSTRAINT fk_r FOREIGN KEY (ref_id) REFERENCES r(id)", 5L)
    cat.applyDdl("ALTER TABLE n ADD CONSTRAINT ck CHECK (ref_id > 0)", 6L)
    val after = cat.current("n").get
    assert(after.version == before.version) // no bogus "idx_ref"/"fk_r" columns
    assert(after.columns.map(_.name) == Seq("id", "ref_id"))
    // but every statement is in the replay history, reference-style
    assert(cat.transitions.count(_.table == "n") >= 6)
  }

  test("catalog: cross-schema rename does not replay") {
    val cat = new SchemaCatalog("mydb")
    cat.applyDdl("CREATE TABLE t (id INT)", 1L)
    cat.applyDdl("RENAME TABLE t TO otherdb.t", 2L)
    assert(cat.current("t").isDefined) // guard refused the move
  }

  // --- TxnInfo micro stamping (reference: AugmentedRow.java:113-116) ---

  test("micro timestamp = commitMs*1000 + seq*100") {
    assert(graft.model.TxnInfo("u", 1, 1700000000123L, 7).microTimestamp == 1700000000123000L + 700L)
  }

  // --- char entropy kernel (CharEntropyExpr) ---

  test("char entropy: 0 for constant text, ln(k) for uniform, code points count once") {
    import graft.functions.CharEntropyExpr.entropy
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(entropy(u("")) == 0.0)
    assert(entropy(u("aaaa")) == 0.0)
    assert(math.abs(entropy(u("abcd")) - math.log(4)) < 1e-12)
    // 2 symbols at 50/50 -> ln 2 regardless of length
    assert(math.abs(entropy(u("abab")) - math.log(2)) < 1e-12)
    // a multi-byte code point is ONE symbol: é and a at 50/50 -> ln 2
    assert(math.abs(entropy(u("aéaé")) - math.log(2)) < 1e-12)
    // supplementary-plane (surrogate pair) counts once too
    assert(math.abs(entropy(u("a😀")) - math.log(2)) < 1e-12)
  }

  // --- query registry ---

  test("registry: unique spec names; Bench lists are specs; materialized oracles say so") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size)
    val known = names.toSet
    assert(Bench.headline.filterNot(known) == Nil)
    assert(Bench.x10Set.filterNot(known) == Nil)
    assert(Bench.x10Set.filterNot(Bench.headline.contains) == Nil)
    // DuckDB inlines a plain CTE at every reference; these step-chain
    // oracles must keep every CTE materialized
    val materialized = Seq("sim_mmr_rerank", "sim_knn_components", "dedup_keep_best",
      "pipe_softdedup_weights", "dedup_cluster_stats", "pipe_leakage_split",
      "pipe_clean_corpus", "dedup_resolve", "mm_phash_clusters",
      "q_components_maintain", "q_components", "q_kcore", "cdc_as_of_state",
      "sim_knn_graph", "sim_knn_graph_ivf", "text_gopher_repetition",
      "dedup_minhash_lsh", "dedup_lsh_stored", "dedup_incremental_lsh",
      "dedup_lsh_cdc")
    val oracles = SparkEntry.oracleSql
    materialized.foreach { n =>
      assert(oracles(n).contains("AS MATERIALIZED ("), n)
      assert("\\bAS \\(".r.findFirstIn(oracles(n)).isEmpty, s"$n has a plain CTE")
    }
  }
}
