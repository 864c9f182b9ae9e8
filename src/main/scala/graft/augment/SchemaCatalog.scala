package graft.augment

import graft.model.{ColumnSpec, TableSchemaV}
import scala.collection.mutable

/** Versioned, position-ordered table-schema catalog — the engine's analog of
  * the reference's active-schema pattern (reference:
  * ActiveSchemaManager.java:47-53,202-231; SchemaAtPositionCache). Instead of
  * replaying DDL against a live MySQL and scraping INFORMATION_SCHEMA, DDL is
  * parsed directly (regex-level, covering the reference's test corpus:
  * CREATE/ALTER ADD|DROP COLUMN/RENAME/DROP) and appended as a new immutable
  * version valid from the event position onward.
  *
  * Updated sequentially inside foreachBatch (DDL order = binlog order); the
  * decoder ships a snapshot of it to executors as one literal inside the
  * batch's plan.
  */
/** One DDL transition: schema before and after, plus the statement —
  * mirrors SchemaTransitionSequence (reference:
  * SchemaTransitionSequence.java:16-49). */
final case class SchemaTransition(table: String, ddl: String, tsMs: Long,
                                  before: Option[TableSchemaV], after: Option[TableSchemaV])

final class SchemaCatalog(val ownSchema: String) {

  private val versions = mutable.Map.empty[String, List[TableSchemaV]]
  private val history = mutable.ArrayBuffer.empty[SchemaTransition]

  def current(table: String): Option[TableSchemaV] = versions.get(table.toLowerCase).flatMap(_.headOption)

  def at(table: String, tsMs: Long): Option[TableSchemaV] =
    versions.get(table.toLowerCase).flatMap(_.find(_.validFromMs <= tsMs))

  /** ALL versions of a table in the order they were installed (ascending
    * validFromMs when DDL arrives in position order) — the versioned
    * decoder ([[RowDecoder.decode]]) carries them as data and picks, per
    * row, the last one valid at the row's position. */
  def versionsOf(table: String): Seq[TableSchemaV] =
    versions.getOrElse(norm(table), Nil).reverse

  def transitions: Seq[SchemaTransition] = history.toSeq

  def tables: Seq[String] = versions.keys.toSeq.sorted

  private val createRe =
    "(?is)create\\s+table\\s+(?:if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?\\s*\\((.*)\\)\\s*(?:engine.*)?".r
  private val addColRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+(?:column\\s+)?`?(\\w+)`?\\s+([^;]+)".r
  // parenthesized multi-add — `ADD COLUMN (x INT, y INT NOT NULL)` — the
  // form online-migration tools emit for batched adds; MySQL allows no
  // FIRST/AFTER here, the columns append in declaration order. Matched
  // before the single-column pattern (whose `(\w+)` can't see the paren).
  private val addColsParenRe =
    "(?is)alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+(?:column\\s+)?\\((.*)\\)\\s*".r
  // catalog-neutral ADDs: secondary (non-unique) indexes and foreign-key /
  // check constraints change neither the positional column layout nor the
  // row identity — but without this guard `ADD INDEX idx (c)` would fall
  // through to the generic pattern and install a bogus column named "idx"
  private val addNeutralRe =
    ("(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+(?:" +
      "(?:fulltext\\s+|spatial\\s+)?(?:index|key)\\b|" +
      "(?:constraint\\s+`?\\w+`?\\s+)?(?:foreign\\s+key|check)\\b).*").r
  private val dropColRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+drop\\s+(?:column\\s+)?`?(\\w+)`?".r
  // MODIFY col type [...attrs] / CHANGE old new type [...attrs] — type change
  // in place (MODIFY) or rename+retype (CHANGE), both with optional
  // FIRST/AFTER repositioning. The reference replays these through a live
  // MySQL and reads back INFORMATION_SCHEMA (ActiveSchemaManager.java:
  // 202-231, ActiveSchemaHelpers.java:24-105); here the same transition is
  // computed from the statement itself. Position matters: binlog row images
  // are positional arrays, so the decoder must see columns in table order.
  private val modifyColRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+modify\\s+(?:column\\s+)?`?(\\w+)`?\\s+([^;]+)".r
  private val changeColRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+change\\s+(?:column\\s+)?`?(\\w+)`?\\s+`?(\\w+)`?\\s+([^;]+)".r
  private val renameRe = "(?i)rename\\s+table\\s+(.+)".r
  private val alterRenameRe = "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+rename\\s+(?:to\\s+)?`?([\\w.]+)`?".r
  private val dropTableRe = "(?i)drop\\s+table\\s+(?:if\\s+exists\\s+)?`?([\\w.]+)`?".r
  // ADD/DROP PRIMARY KEY rewrite the PK column set — which drives the
  // sink's salted row keys (W8) — and must match BEFORE the generic
  // add/drop-column patterns ("ADD PRIMARY KEY (a)" would otherwise parse
  // as adding a column named "primary"). ADD PRIMARY KEY also forces its
  // columns NOT NULL (MySQL's implicit conversion); DROP PRIMARY KEY
  // clears membership but keeps the NOT NULL the columns already acquired.
  private val addPkRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+primary\\s+key\\s*\\(([^)]*)\\).*".r
  private val dropPkRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+drop\\s+primary\\s+key\\s*".r
  // CONVERT TO CHARACTER SET re-collates EVERY string-typed column (MySQL
  // converts CHAR/VARCHAR/TEXT/ENUM/SET in place) — collation drives the
  // per-column charset decode (A8), so a migration's table-wide charset
  // flip must land on every string column, not be dropped on the floor.
  private val convertCharsetRe =
    ("(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+convert\\s+to\\s+character\\s+set\\s+" +
      "`?(\\w+)`?(?:\\s+collate[\\s=]+`?(\\w+)`?)?.*").r
  private val stringTypeRe = "(?i)^(?:(?:var)?char|(?:tiny|medium|long)?text|enum|set)\\b.*".r
  // UNIQUE indexes feed index-driven PRI promotion (TableSchemaV
  // .primaryKeyColumns: with no explicit PK, the first all-NOT-NULL unique
  // index IS the row identity I_S reports) — matched before the generic
  // add/drop-column patterns for the same reason as ADD PRIMARY KEY.
  private val addUniqueRe =
    ("(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+(?:constraint\\s+`?(\\w+)`?\\s+)?" +
      "unique\\s+(?:key\\s+|index\\s+)?(?:`?(\\w+)`?\\s*)?\\(([^)]*)\\).*").r
  private val dropIndexRe =
    "(?i)alter\\s+table\\s+`?([\\w.]+)`?\\s+drop\\s+(?:index|key)\\s+`?(\\w+)`?\\s*".r
  private val uniqueClauseRe =
    ("(?i)^\\s*(?:constraint\\s+`?(\\w+)`?\\s+)?unique\\s+(?:key\\s+|index\\s+)?" +
      "(?:`?(\\w+)`?\\s*)?\\(([^)]*)\\)\\s*$").r

  private def pkListOf(colsList: String): Seq[String] =
    colsList.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq

  /** Apply one DDL statement at stream position tsMs. Unknown statements are
    * recorded in history but leave the catalog unchanged. */
  def applyDdl(rawDdl: String, tsMs: Long): Unit = {
    val ddl = DdlClassifier.rewriteSchemaName(rawDdl.trim.stripSuffix(";"), ownSchema)
    ddl match {
      case createRe(name, colsBody) =>
        val cols = parseColumns(colsBody)
        install(name, ddl, tsMs, Some(TableSchemaV(ownSchema, norm(name), nextVersion(name),
          cols, Some(ddl), tsMs, parseUniqueKeys(colsBody))))
      case addPkRe(name, colsList) =>
        current(name).foreach { prev =>
          val pk = colsList.split(",").map(_.trim.replace("`", "").toLowerCase)
            .filter(_.nonEmpty).toSet
          val cols = prev.columns.map(c =>
            if (pk.contains(c.name.toLowerCase)) c.copy(key = "PRI", nullable = false) else c)
          install(name, ddl, tsMs,
            Some(prev.copy(version = nextVersion(name), columns = cols, validFromMs = tsMs)))
        }
      case dropPkRe(name) =>
        current(name).foreach { prev =>
          val cols = prev.columns.map(c => if (c.key == "PRI") c.copy(key = "") else c)
          install(name, ddl, tsMs,
            Some(prev.copy(version = nextVersion(name), columns = cols, validFromMs = tsMs)))
        }
      case convertCharsetRe(name, charset, collate) =>
        current(name).foreach { prev =>
          val newCollation = Some(Option(collate).getOrElse(charset).toLowerCase)
          val cols = prev.columns.map(c =>
            if (stringTypeRe.pattern.matcher(c.mysqlType.trim).matches())
              c.copy(collation = newCollation)
            else c)
          install(name, ddl, tsMs,
            Some(prev.copy(version = nextVersion(name), columns = cols, validFromMs = tsMs)))
        }
      case addUniqueRe(name, cName, iName, colsList) =>
        current(name).foreach { prev =>
          val cols = pkListOf(colsList)
          val nm = Option(iName).orElse(Option(cName)).getOrElse(cols.headOption.getOrElse(""))
          install(name, ddl, tsMs, Some(prev.copy(version = nextVersion(name),
            uniqueKeys = prev.uniqueKeys :+ graft.model.UniqueKey(nm, cols),
            validFromMs = tsMs)))
        }
      case dropIndexRe(name, iName) =>
        current(name).foreach { prev =>
          install(name, ddl, tsMs, Some(prev.copy(version = nextVersion(name),
            uniqueKeys = prev.uniqueKeys.filterNot(_.name.equalsIgnoreCase(iName)),
            validFromMs = tsMs)))
        }
      case addNeutralRe(name) =>
        // recorded in history (the reference snapshots every replayed DDL),
        // schema unchanged
        history += SchemaTransition(norm(name), ddl, tsMs, current(name), current(name))
      case addColsParenRe(name, body) =>
        current(name).foreach { prev =>
          // ONE DDL = ONE transition: all declared columns land in a single
          // new version, appended in declaration order, each parsed with
          // the full attribute treatment (type, NOT NULL, inline PK,
          // default, collation) the CREATE body parser applies
          val added = prev.columns ++ parseColumns(body)
          install(name, ddl, tsMs, Some(prev.copy(version = nextVersion(name),
            columns = added, validFromMs = tsMs)))
        }
      case addColRe(name, colName, colType) =>
        current(name).foreach { prev =>
          val (attrs, atFirst, afterCol) = splitPosition(colType)
          val (default, collation) = columnExtras(attrs)
          // literal-blanked sniff, same hygiene as CREATE/MODIFY: a DEFAULT
          // or COMMENT literal mentioning NOT NULL / PRIMARY KEY must not
          // flip the added column's nullability or key
          val sniff = withoutLiterals(attrs)
          val notNull = sniff.matches("(?i).*not\\s+null.*")
          val inlinePk = sniff.matches("(?i).*primary\\s+key.*")
          val spec = ColumnSpec(colName, baseTypeOf(attrs),
            nullable = !notNull && !inlinePk,
            key = if (inlinePk) "PRI" else "",
            default, collation)
          val at =
            if (atFirst) 0
            else afterCol.map { a =>
              val i = prev.columns.indexWhere(_.name.equalsIgnoreCase(a))
              if (i >= 0) i + 1 else prev.columns.size
            }.getOrElse(prev.columns.size)
          val added = prev.columns.patch(at, Seq(spec), 0)
          install(name, ddl, tsMs, Some(prev.copy(version = nextVersion(name), columns = added, validFromMs = tsMs)))
        }
      case dropColRe(name, colName) =>
        current(name).foreach { prev =>
          val kept = prev.columns.filterNot(_.name.equalsIgnoreCase(colName))
          // a unique index losing a member column can no longer prove row
          // identity — drop it (conservative: never promote a weaker key)
          install(name, ddl, tsMs, Some(prev.copy(version = nextVersion(name), columns = kept,
            uniqueKeys = prev.uniqueKeys.filterNot(_.columns.exists(_.equalsIgnoreCase(colName))),
            validFromMs = tsMs)))
        }
      case modifyColRe(name, colName, tail) => retype(name, colName, colName, tail, ddl, tsMs)
      case changeColRe(name, oldName, newName, tail) => retype(name, oldName, newName, tail, ddl, tsMs)
      case alterRenameRe(from, to) => rename(from, to, ddl, tsMs)
      case renameRe(pairs) if DdlClassifier.shouldReplayRename(ddl, ownSchema) =>
        pairs.split(",").foreach { pair =>
          pair.split("(?i)\\s+to\\s+").map(_.trim.replace("`", "")) match {
            case Array(from, to) => rename(from, to, ddl, tsMs)
            case _ => ()
          }
        }
      case dropTableRe(name) =>
        val prev = current(name)
        versions.remove(norm(name))
        history += SchemaTransition(norm(name), ddl, tsMs, prev, None)
      case _ =>
        history += SchemaTransition("", ddl, tsMs, None, None)
    }
  }

  /** MODIFY (oldName == newName) or CHANGE (rename + retype) one column:
    * new type/nullability/default/collation from the statement tail, PK
    * membership carried over unless the tail declares PRIMARY KEY, position
    * preserved unless FIRST/AFTER moves it. */
  private def retype(table: String, oldName: String, newName: String, tail: String,
                     ddl: String, tsMs: Long): Unit =
    current(table).foreach { prev =>
      val idx = prev.columns.indexWhere(_.name.equalsIgnoreCase(oldName))
      // CHANGE to a name another column already holds would corrupt the
      // positional schema (MySQL rejects the DDL) — leave the catalog as-is
      val collides = !oldName.equalsIgnoreCase(newName) &&
        prev.columns.exists(_.name.equalsIgnoreCase(newName))
      if (idx >= 0 && !collides) {
        val old = prev.columns(idx)
        val (attrs, atFirst, afterCol) = splitPosition(tail)
        val sniff = withoutLiterals(attrs)
        val notNull = sniff.matches("(?i).*not\\s+null.*")
        val inlinePk = sniff.matches("(?i).*primary\\s+key.*")
        val (default, collation) = columnExtras(attrs)
        val spec = ColumnSpec(newName, baseTypeOf(attrs),
          nullable = !notNull && !inlinePk,
          key = if (inlinePk) "PRI" else old.key,
          defaultValue = default, collation = collation)
        val without = prev.columns.patch(idx, Nil, 1)
        val at =
          if (atFirst) 0
          else afterCol.map { a =>
            val i = without.indexWhere(_.name.equalsIgnoreCase(a))
            if (i >= 0) i + 1 else idx
          }.getOrElse(idx)
        val cols = without.patch(at, Seq(spec), 0)
        // CHANGE renames follow the column into its unique indexes
        val uks =
          if (oldName.equalsIgnoreCase(newName)) prev.uniqueKeys
          else prev.uniqueKeys.map(uk => uk.copy(columns = uk.columns.map(c =>
            if (c.equalsIgnoreCase(oldName)) newName else c)))
        install(table, ddl, tsMs,
          Some(prev.copy(version = nextVersion(table), columns = cols,
            uniqueKeys = uks, validFromMs = tsMs)))
      }
    }

  /** Strip a trailing FIRST / AFTER `col` placement off a column-definition
    * tail; returns (attrs-without-placement, atFirst, afterColumn). */
  private def splitPosition(tail: String): (String, Boolean, Option[String]) = {
    val t = tail.trim
    val after = "(?i)\\s+after\\s+`?(\\w+)`?\\s*$".r.findFirstMatchIn(t).map(_.group(1))
    val atFirst = after.isEmpty && "(?i)\\s+first\\s*$".r.findFirstIn(t).isDefined
    val attrs = t.replaceAll("(?i)\\s+after\\s+`?\\w+`?\\s*$", "")
      .replaceAll("(?i)\\s+first\\s*$", "")
    (attrs, atFirst, after)
  }

  /** Column-definition tail with quoted string literals blanked — keyword
    * sniffing (NOT NULL / PRIMARY KEY / attribute split) must not match
    * inside a DEFAULT or COMMENT literal: `COMMENT 'primary key of legacy
    * table'` describes a column, it does not make one a PK. '' escapes
    * stay inside the literal, so the blanking is well-bracketed. */
  private def withoutLiterals(s: String): String =
    s.replaceAll("'(?:[^']|'')*'", "''")

  /** The MySQL type token(s) of a column-definition tail: everything before
    * the first attribute keyword. Enum/set types carry quoted member
    * literals that may CONTAIN attribute keywords (`enum('null','default')`)
    * — for those the type is everything up to the matching close paren,
    * scanned quote-aware. For every other type the tail holds no literal
    * before the attribute boundary, so the keyword split runs on the
    * literal-blanked form and the prefix length maps back to the raw text
    * (positions only shift past a literal, never before one). */
  private def baseTypeOf(attrs: String): String = {
    val t = attrs.trim
    if (t.matches("(?is)^(enum|set)\\s*\\(.*")) {
      var depth = 0; var i = 0; var end = -1; var inQ = false
      while (i < t.length && end < 0) {
        val ch = t.charAt(i)
        if (inQ) { if (ch == '\'') inQ = false }
        else ch match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ => ()
        }
        i += 1
      }
      if (end >= 0) t.substring(0, end + 1) else t
    } else {
      val n = withoutLiterals(t)
        .split("(?i)\\s+(not\\s+null|null|default|primary|auto_increment|comment)")(0).length
      t.take(n).trim
    }
  }

  private def rename(from: String, to: String, ddl: String, tsMs: Long): Unit =
    current(from).foreach { prev =>
      versions.remove(norm(from))
      val next = prev.copy(table = norm(to), version = nextVersion(to), validFromMs = tsMs)
      versions.update(norm(to), next :: versions.getOrElse(norm(to), Nil))
      history += SchemaTransition(norm(to), ddl, tsMs, Some(prev), Some(next))
    }

  private def install(name: String, ddl: String, tsMs: Long, next: Option[TableSchemaV]): Unit = {
    val prev = current(name)
    next.foreach(v => versions.update(norm(name), v :: versions.getOrElse(norm(name), Nil)))
    history += SchemaTransition(norm(name), ddl, tsMs, prev, next)
  }

  private def norm(name: String): String = name.replace("`", "").toLowerCase.split("\\.").last
  private def nextVersion(name: String): Int =
    versions.get(norm(name)).flatMap(_.headOption).map(_.version + 1).getOrElse(0)

  /** Parse a CREATE TABLE column body: top-level comma split, skipping
    * constraint clauses; detects PRIMARY KEY membership (inline or trailing
    * clause) so the sink's row-key mapper finds its PK columns. */
  private def parseColumns(body: String): Seq[ColumnSpec] = {
    val parts = splitTopLevel(body)
    val pkClause = parts.find(_.matches("(?i)\\s*primary\\s+key\\s*\\(.*\\)\\s*"))
      .map(_.replaceAll("(?i).*\\(|\\).*", "").split(",").map(_.trim.replace("`", "").toLowerCase).toSet)
      .getOrElse(Set.empty)
    parts.filterNot(_.matches("(?i)\\s*(primary\\s+key|unique|key|index|constraint|foreign\\s+key).*")).flatMap { p =>
      val toks = p.trim.split("\\s+", 2)
      if (toks.length < 2) None
      else {
        val name = toks(0).replace("`", "")
        val rest = toks(1)
        val sniff = withoutLiterals(rest)
        val inlinePk = sniff.matches("(?i).*primary\\s+key.*")
        val notNull = sniff.matches("(?i).*not\\s+null.*")
        // per-column collation drives charset decode (reference resolves it
        // from INFORMATION_SCHEMA per column — ActiveSchemaManager.java:
        // 202-231, MysqlTypeDeserializer.java:85-97; here it comes off the
        // DDL text: COLLATE wins, else CHARACTER SET/CHARSET names the family)
        val (default, collation) = columnExtras(rest)
        Some(ColumnSpec(name, baseTypeOf(rest),
          nullable = !notNull && !inlinePk,
          key = if (inlinePk || pkClause.contains(name.toLowerCase)) "PRI" else "",
          defaultValue = default, collation = collation))
      }
    }
  }

  /** UNIQUE indexes of a CREATE TABLE body, in declaration order (MySQL's
    * I_S index ordering — which drives WHICH index promotes when several
    * qualify): table-level `[CONSTRAINT x] UNIQUE [KEY|INDEX] [name]
    * (cols)` clauses plus inline per-column `UNIQUE` attributes. Unnamed
    * indexes take MySQL's default name (the first column). */
  private def parseUniqueKeys(body: String): Seq[graft.model.UniqueKey] = {
    val parts = splitTopLevel(body)
    val tableLevel = parts.flatMap { p =>
      uniqueClauseRe.findFirstMatchIn(p.trim).map { m =>
        val cols = pkListOf(m.group(3))
        val nm = Option(m.group(2)).orElse(Option(m.group(1)))
          .getOrElse(cols.headOption.getOrElse(""))
        graft.model.UniqueKey(nm, cols)
      }
    }
    val inline = parts
      .filterNot(_.matches("(?i)\\s*(primary\\s+key|unique|key|index|constraint|foreign\\s+key).*"))
      .flatMap { p =>
        val toks = p.trim.split("\\s+", 2)
        if (toks.length < 2) None
        else {
          val nm = toks(0).replace("`", "")
          if (withoutLiterals(toks(1)).matches("(?i).*\\bunique\\b.*"))
            Some(graft.model.UniqueKey(nm, Seq(nm)))
          else None
        }
      }
    tableLevel ++ inline
  }

  /** Per-column DEFAULT value and collation off a column-definition tail
    * (reference scrapes COLUMN_DEFAULT / COLLATION_NAME from
    * INFORMATION_SCHEMA — ActiveSchemaManager.java:202-231; here they come
    * off the DDL text): default is a quoted literal (with '' unescaping) or
    * a bare token (number / CURRENT_TIMESTAMP; bare NULL means no default);
    * collation is COLLATE, else the CHARACTER SET/CHARSET family name. */
  private def columnExtras(rest: String): (Option[String], Option[String]) = {
    val default = "(?i)default\\s+'((?:[^']|'')*)'".r.findFirstMatchIn(rest)
      .map(_.group(1).replace("''", "'"))
      .orElse("(?i)default\\s+([^\\s,)]+)".r.findFirstMatchIn(rest)
        .map(_.group(1)).filterNot(_.equalsIgnoreCase("null")))
    val collation = "(?i)collate[\\s=]+`?([\\w]+)`?".r.findFirstMatchIn(rest)
      .map(_.group(1).toLowerCase)
      .orElse("(?i)(?:character\\s+set|charset)[\\s=]+`?([\\w]+)`?".r
        .findFirstMatchIn(rest).map(_.group(1).toLowerCase))
    (default, collation)
  }

  /** Schema-history rows for the history sink — the append-only analog of
    * the reference's HBase schema-history table (reference:
    * HBaseSchemaManager.writeSchemaSnapshot, HBaseSchemaManager.java:152-280:
    * ddl + pre/post schemas keyed by timestamp). */
  def historyDf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    transitions.map { t =>
      (t.table, t.ddl, t.tsMs, t.before.map(renderSchema).orNull, t.after.map(renderSchema).orNull)
    }.toDF("table", "ddl", "ts_ms", "schema_before", "schema_after")
  }

  private def renderSchema(v: TableSchemaV): String =
    s"""{"table":"${v.table}","version":${v.version},"columns":[""" +
      v.columns.map(c => s"""{"name":"${c.name}","type":"${c.mysqlType}","key":"${c.key}"}""").mkString(",") +
      // pk is the EFFECTIVE row identity (explicit PK or promoted unique)
      s"""],"pk":[${v.primaryKeyColumns.map("\"" + _ + "\"").mkString(",")}]}"""

  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }
}
