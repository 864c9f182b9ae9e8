package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** MySQL cell-decode semantics as composable Catalyst column expressions.
  *
  * These reproduce the normative output semantics of the reference's type
  * deserializer (reference: mysql-replicator-augmenter-model/.../format/
  * MysqlTypeDeserializer.java:48-236) — but as codegen'd built-in function
  * compositions, NOT row-at-a-time UDFs, so they stay inside whole-stage
  * codegen and vectorize on the parquet scan path.
  */
object MysqlValues {

  /** Unsigned TINYINT: mask to 0..255 (reference: MysqlTypeDeserializer.java:37-41,172-190). */
  def unsignedTiny(c: Column): Column = c.bitwiseAND(lit(0xFFL))

  /** Unsigned SMALLINT: mask to 16 bits. */
  def unsignedSmall(c: Column): Column = c.bitwiseAND(lit(0xFFFFL))

  /** Unsigned MEDIUMINT: mask to 24 bits. */
  def unsignedMedium(c: Column): Column = c.bitwiseAND(lit(0xFFFFFFL))

  /** Unsigned INT: mask to 32 bits, still fits a Long. */
  def unsignedInt(c: Column): Column = c.bitwiseAND(lit(0xFFFFFFFFL))

  /** Unsigned BIGINT: negative two's-complement longs are reconstructed as
    * 2^64 + x, which needs DecimalType(20,0)
    * (reference: MysqlTypeDeserializer.java:192-207). */
  def unsignedBigint(c: Column): Column = {
    val asDec = c.cast(DecimalType(20, 0))
    when(c < 0, asDec + lit(new java.math.BigDecimal("18446744073709551616")))
      .otherwise(asDec)
  }

  /** BIT(n) rendered as a minimal binary string, "0" when empty
    * (reference: MysqlTypeDeserializer.java:111-121 — reversed BitSet form). */
  def bitString(c: Column): Column = bin(c)

  /** BINARY/BLOB rendered as upper-case hex
    * (reference: MysqlTypeDeserializer.java:60-83). */
  def hexBytes(c: Column): Column = hex(c)

  /** Fixed BINARY(n) is zero-padded to its declared byte length before hexing
    * (reference: MysqlTypeDeserializer.java:60-75 — charMaxLength padding). */
  def hexBytesPadded(c: Column, declaredBytes: Int): Column =
    rpad(hex(c), declaredBytes * 2, "0")

  /** CHAR/VARCHAR/TEXT byte payloads decode as latin1 or utf8 by collation
    * (reference: MysqlTypeDeserializer.java:85-97). */
  def charsetDecode(bytes: Column, collation: String): Column = {
    val cs = if (collation != null && collation.contains("latin1")) "ISO-8859-1" else "UTF-8"
    decode(bytes, cs)
  }

  /** Parse the member list out of an `enum('a','b')` / `set('a','b')` column
    * type string (reference: AugmenterContext.java:78-79,934-955 — the
    * per-batch member cache; here members are parsed once per schema
    * version and ride in the decoder's catalog literal). */
  def parseMembers(columnType: String): Seq[String] = {
    val m = "(?i)^(?:enum|set)\\s*\\((.*)\\)".r.findFirstMatchIn(columnType.trim)
    m.map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("'").stripSuffix("'"))).getOrElse(Nil)
  }

  /** ENUM: 1-based index into the member list (an `array<string>` Column);
    * index 0 → NULL (reference: MysqlTypeDeserializer.java:144-152, members
    * parsed at AugmenterContext.java:934-955). `element_at` is 1-based like
    * MySQL. A NULL index never reaches `element_at`: its generated code
    * reads a NULL index as -1, the last member. */
  def enumDecode(idx: Column, members: Column): Column =
    when(idx > 0 && idx <= size(members), element_at(members, idx.cast("int")))

  /** SET: bitmask → comma-joined names of the members (an `array<string>`
    * Column) whose bit is set, 0 → NULL (reference:
    * MysqlTypeDeserializer.java:154-170). `array_join` skips the NULLs of
    * the unset bits; the `transform` over the members runs interpreted
    * inside the generated code. */
  def setDecode(mask: Column, members: Column): Column =
    nullif(array_join(transform(members, (m, i) => when(getbit(mask, i) === 1, m)), ","), lit(""))

  /** DATETIME/TIMESTAMP normalized to a UTC epoch-millis string
    * (reference: MysqlTypeDeserializer.java:131-142). */
  def epochMillisString(ts: Column): Column = unix_millis(ts).cast("string")

  /** DATE as "yyyy-MM-dd" (reference: MysqlTypeDeserializer.java:123-125). */
  def dateString(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** TIME as "HH:mm:ss.SSS" from millis-of-day (reference:
    * MysqlTypeDeserializer.java:127-129). MySQL TIME is a duration (may
    * exceed 24h and be negative), so this is arithmetic, not a timestamp
    * format. */
  def timeString(millis: Column): Column = {
    val neg = millis < 0
    val a = abs(millis)
    val h = floor(a / 3600000L).cast("long")
    val m = floor(pmod(a, lit(3600000L)) / 60000L).cast("long")
    val sec = floor(pmod(a, lit(60000L)) / 1000L).cast("long")
    val ms = pmod(a, lit(1000L)).cast("long")
    val body = format_string("%02d:%02d:%02d.%03d", h, m, sec, ms)
    when(neg, concat(lit("-"), body)).otherwise(body)
  }

  /** YEAR: two-digit wire years map 0-69 → 2000s, 70-99 → 1900s (MySQL YEAR
    * semantics); four-digit values pass through. */
  def yearValue(c: Column): Column =
    when(c >= 0 && c <= 69, c + 2000)
      .when(c >= 70 && c <= 99, c + 1900)
      .otherwise(c)

  /** JSON columns arrive from a row-based binlog in MySQL's binary JSON
    * storage format; decode to a JSON string (reference:
    * MysqlTypeDeserializer.java:99-109 JsonBinary.parseAsString). Native
    * codegen'd expression over the binary payload. */
  def jsonBinaryDecode(bytes: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.MysqlJsonBinaryExpr(GraftBridge.toExpr(bytes)))
  }

  /** GEOMETRY wire payload (4-byte SRID + WKB) rendered as WKT. The
    * reference's own sink renders geometry through the hex path (its
    * UNKNOWN fallback, MysqlTypeDeserializer.java:220-230) — `hexBytes`
    * covers that parity; this is the typed surface. */
  def geometryWkt(bytes: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toCol(graft.functions.MysqlGeometryWktExpr(GraftBridge.toExpr(bytes)))
  }

  /** Salted HBase-style row key: first 4 bytes of md5(first PK value) as hex,
    * then all PK values, ';'-separated — spreads lexicographically-clustered
    * keys across regions/partitions (reference:
    * applier/hbase/schema/HBaseRowKeyMapper.java:24-100).
    * At 100 TB this is the anti-hot-spot device: the 8-hex-char prefix gives
    * 2^32 uniformly distributed shard prefixes. */
  def saltedRowKey(pkCols: Seq[Column]): Column = {
    require(pkCols.nonEmpty, "tables without a primary key are rejected (HBaseRowKeyMapper.java:60-66)")
    val first = pkCols.head.cast("string")
    val salt = substring(md5(first.cast("binary")), 1, 8)
    concat_ws(";", (salt +: pkCols.map(_.cast("string"))): _*)
  }
}
