package graft.augment

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MysqlValues
import graft.model.{ColumnSpec, TableSchemaV}

/** Schema-driven row decode: turn a raw wire image (string map, values as
  * the supplier delivered them) into the reference's normative output values
  * using the column's MySQL type — the DataAugmenter/EventDeserializer path
  * (reference: DataAugmenter.java:31-178, MysqlTypeDeserializer.java:48-236)
  * driven by [[SchemaCatalog]] column specs instead of a live
  * INFORMATION_SCHEMA.
  *
  * Wire conventions of the raw map: integers as signed decimal strings
  * (two's-complement longs for unsigned columns), ENUM as 1-based index,
  * SET as bitmask, BIT as integer, BINARY/BLOB as hex, DATETIME/TIMESTAMP
  * as epoch-millis, text/decimal already textual.
  *
  * The catalog is data, not code: each column is classified once on the
  * driver into a [[ColumnDecoder]] (a decoder kind and its parameters), the
  * catalog snapshot rides as one literal, and every row runs the same
  * `CASE kind` over its version's column list. The expression, and so the
  * generated code, is the same whatever the number of tables and versions,
  * and a DDL compiles nothing new. The price is interpretation: `transform`
  * evaluates its lambda row by row and keeps the decode projection out of
  * whole-stage codegen.
  */
object RowDecoder {

  /** One column's decoder: the column name, the kind that selects its
    * branch in [[decodeAs]], BINARY(n)'s pad width in bytes, and ENUM/SET
    * members. */
  final case class ColumnDecoder(name: String, kind: String, width: Int = 0, members: Seq[String] = Nil)

  /** A table's versions in catalog order: each one's validFromMs and its
    * column decoders. */
  private final case class TableVersions(froms: Seq[Long], columns: Seq[Seq[ColumnDecoder]])

  /** Classify one column by its MySQL type. */
  def kindOf(spec: ColumnSpec): ColumnDecoder = {
    val t = spec.mysqlType.toLowerCase
    val unsigned = t.contains("unsigned")
    def as(kind: String) = ColumnDecoder(spec.name, kind)
    if (t.startsWith("tinyint") && unsigned) as("utiny")
    else if (t.startsWith("smallint") && unsigned) as("usmall")
    else if (t.startsWith("mediumint") && unsigned) as("umedium")
    else if ((t.startsWith("int") || t.startsWith("integer")) && unsigned) as("uint")
    else if (t.startsWith("bigint") && unsigned) as("ubigint")
    else if (t.startsWith("bit")) as("bit")
    else if (t.startsWith("enum")) as("enum").copy(members = MysqlValues.parseMembers(spec.mysqlType))
    else if (t.startsWith("set")) as("set").copy(members = MysqlValues.parseMembers(spec.mysqlType))
    else if (t.startsWith("binary")) {
      val declared = "\\d+".r.findFirstIn(t).map(_.toInt).getOrElse(0)
      if (declared > 0) as("binary").copy(width = declared) else as("hex")
    }
    else if (t.startsWith("varbinary") || t.contains("blob")) as("hex")
    else if (t.startsWith("geometry") || t.startsWith("point") || t.startsWith("linestring") ||
             t.startsWith("polygon") || t.startsWith("multi"))
      // reference renders the geometry family through its UNKNOWN/hex path
      // (MysqlTypeDeserializer.java:220-230) — hex parity here; the typed
      // WKT surface is MysqlValues.geometryWkt
      as("hex")
    else if (t.startsWith("time") && !t.startsWith("timestamp")) as("time")
    else if (t.startsWith("year")) as("year")
    else if (t.startsWith("date") && !t.startsWith("datetime")) as("date")
    else if ((t.startsWith("char") || t.startsWith("varchar") || t.contains("text"))
             && spec.collation.isDefined)
      // byte-typed text travels as hex; decode per the column collation
      // (reference: MysqlTypeDeserializer.java:85-97 latin1 vs utf8)
      as(if (spec.collation.get.contains("latin1")) "latin1" else "utf8")
    else as("raw") // DATETIME/TIMESTAMP (already epoch-ms), text, decimal, float, signed ints
  }

  /** Decode one raw value by its column's decoder (a struct Column of
    * [[ColumnDecoder]]'s fields). Each branch is cast to string on its own:
    * a common CASE type would coerce the passthrough branch to a number. */
  private def decodeAs(raw: Column, c: Column): Column = {
    val branches = Seq(
      "utiny" -> MysqlValues.unsignedTiny(raw.cast("long")),
      "usmall" -> MysqlValues.unsignedSmall(raw.cast("long")),
      "umedium" -> MysqlValues.unsignedMedium(raw.cast("long")),
      "uint" -> MysqlValues.unsignedInt(raw.cast("long")),
      "ubigint" -> MysqlValues.unsignedBigint(raw.cast("long")),
      "bit" -> MysqlValues.bitString(raw.cast("long")),
      "enum" -> MysqlValues.enumDecode(raw.cast("int"), c("members")),
      "set" -> MysqlValues.setDecode(raw.cast("long"), c("members")),
      "binary" -> rpad(upper(raw), c("width") * 2, lit("0")),
      "hex" -> upper(raw),
      "time" -> MysqlValues.timeString(raw.cast("long")),
      "year" -> MysqlValues.yearValue(raw.cast("int")),
      "date" -> MysqlValues.dateString(timestamp_millis(raw.cast("long"))),
      "latin1" -> MysqlValues.charsetDecode(unhex(raw), "latin1"),
      "utf8" -> MysqlValues.charsetDecode(unhex(raw), "utf8"))
    val kind = c("kind")
    branches.tail.foldLeft(when(kind === branches.head._1, branches.head._2.cast("string"))) {
      case (acc, (k, v)) => acc.when(kind === k, v.cast("string"))
    }.otherwise(raw)
  }

  /** Decode an image map by an array of column decoders. Absent columns
    * decode to NULL entries (binlog_row_image=FULL is the supplier contract;
    * partial images surface as nulls, not errors). */
  private def decodeWith(image: Column, columns: Column): Column =
    map_from_entries(transform(columns, c =>
      struct(c("name"), decodeAs(element_at(image, c("name")), c))))

  /** Decode a whole raw image map into a decoded map, per one schema version. */
  def decodeImage(image: Column, schema: TableSchemaV): Column =
    decodeWith(image, typedLit(schema.columns.map(kindOf)))

  /** Decode `before` and `after` of every row of a mixed-table stream
    * against the version of ITS table that was active at ITS position
    * (reference: DataAugmenter × SchemaAtPositionCache /
    * ActiveSchemaManager.java:47-53). The version is the last one, in
    * catalog order, whose validFromMs is <= `pos` — the same one as
    * [[SchemaCatalog.at]] — so a row at exactly a DDL's position sees the
    * post-DDL schema, a row written before an ADD COLUMN lacks that key, and
    * the same wire value re-types across a MODIFY boundary.
    *
    * A row of an unknown table, or one that precedes its table's first
    * version (a catalog bootstrapped mid-binlog stamps its CREATE at the
    * bootstrap position), keeps its raw image rather than being NULLed,
    * which would drop the row's cells downstream. One narrow projection, no
    * shuffle. */
  def decode(df: DataFrame, pos: Column, catalog: SchemaCatalog): DataFrame = {
    val snapshot = typedLit(catalog.tables.map { t =>
      val vs = catalog.versionsOf(t)
      t -> TableVersions(vs.map(_.validFromMs), vs.map(_.columns.map(kindOf)))
    }.toMap)
    val table = element_at(snapshot, col("table"))
    // 1-based index of the active version, 0 before the first one
    val idx = array_max(transform(table("froms"), (from, i) => when(from <= pos, i + 1).otherwise(0)))
    def decoded(image: Column): Column =
      when(idx > 0 && image.isNotNull, decodeWith(image, element_at(table("columns"), idx)))
        .otherwise(image)
    df.withColumn("before", decoded(col("before")))
      .withColumn("after", decoded(col("after")))
  }
}
