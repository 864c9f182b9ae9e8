package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.functions.MysqlValues

/** MySQL type-decode semantics (SURVEY §1.3): one [[QuerySpec]] per query. */
private[graft] object MysqlDecodeQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mysql_unsigned_decode", (s, d) => {
      val sgn = (col("event_id") % 300) - 150
      t(s, d, "events").select(
        col("event_id"), sgn.as("s"),
        MysqlValues.unsignedTiny(sgn).as("utiny"),
        MysqlValues.unsignedSmall(sgn).as("usmall"),
        MysqlValues.unsignedInt(sgn).as("uint"),
        MysqlValues.unsignedBigint(sgn).cast("string").as("ubig"))
    },
      """WITH s AS (SELECT event_id, (event_id % 300) - 150 AS s FROM events)
         SELECT event_id, s, s & 255 AS utiny, s & 65535 AS usmall,
           s & 4294967295 AS uint,
           CAST(CAST(CASE WHEN s < 0 THEN 18446744073709551616 + s ELSE s END AS DECIMAL(20,0)) AS VARCHAR) AS ubig
         FROM s""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("mysql_hex_bit_decode", (s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        MysqlValues.bitString(col("event_id") % 256).as("bits"),
        MysqlValues.hexBytes(col("props").cast("binary")).as("hex_props"),
        MysqlValues.hexBytesPadded(col("props").cast("binary"), 40).as("hex_padded")),
      """SELECT event_id, bin(event_id % 256) AS bits, hex(props) AS hex_props,
           rpad(hex(props), 80, '0') AS hex_padded
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("mysql_enum_set_decode", (s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        MysqlValues.enumDecode(col("event_id") % 5,
          typedLit(Seq("animalia", "plantae", "fungi", "bacteria"))).as("enum_val"),
        MysqlValues.setDecode(col("event_id") % 16,
          typedLit(Seq("read", "write", "exec", "admin"))).as("set_val")),
      """SELECT event_id,
           CASE WHEN event_id % 5 BETWEEN 1 AND 4
                THEN list_extract(['animalia','plantae','fungi','bacteria'], CAST(event_id % 5 AS INT))
                ELSE NULL END AS enum_val,
           nullif(concat_ws(',',
             CASE WHEN (event_id % 16) & 1 <> 0 THEN 'read' END,
             CASE WHEN (event_id % 16) & 2 <> 0 THEN 'write' END,
             CASE WHEN (event_id % 16) & 4 <> 0 THEN 'exec' END,
             CASE WHEN (event_id % 16) & 8 <> 0 THEN 'admin' END), '') AS set_val
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("mysql_datetime_decode", (s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        MysqlValues.epochMillisString(col("ts")).as("epoch_str"),
        MysqlValues.dateString(col("ts")).as("date_str")),
      """SELECT event_id, CAST(epoch_ms(ts) AS VARCHAR) AS epoch_str,
           strftime(ts, '%Y-%m-%d') AS date_str
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("mysql_json_decode", (s, d) => {
      // JSON cells arrive from a row-based binlog in MySQL's binary JSON
      // storage format (reference: MysqlTypeDeserializer.java:99-109). The
      // fixture step synthesizes that wire image for each row's {"k": n}
      // props (small object, one key, inlined int16 — k is in [0,99]); the
      // operator under test is the binary→string decode expression.
      val k = get_json_object(col("props"), "$.k").cast("int")
      val wire = concat(
        unhex(lit("00")),   // doc type: small object
        unhex(lit("0100")), // element count = 1
        unhex(lit("0C00")), // payload byte size = 12
        unhex(lit("0B00")), // key offset = 11
        unhex(lit("0100")), // key length = 1
        unhex(lit("05")),   // value type: int16, inlined
        unhex(lpad(hex(k.bitwiseAND(lit(0xFF))), 2, "0")),                 // value LE lo
        unhex(lpad(hex(shiftright(k, 8).bitwiseAND(lit(0xFF))), 2, "0")),  // value LE hi
        unhex(lit("6B")))   // key bytes: "k"
      t(s, d, "events").select(col("event_id"),
        MysqlValues.jsonBinaryDecode(wire).as("json_str"))
    },
      """SELECT event_id,
           '{"k":' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) || '}' AS json_str
         FROM events""",
      cap = Some(Cap("event_id", 10))),

    QuerySpec("mysql_geometry_decode", (s, d) => {
      // GEOMETRY family (reference DataType.java:50-58): the fixture step
      // synthesizes each row's MySQL wire image (4-byte SRID + WKB) for
      // POINT(x y); the operators under test are the WKT decode expression
      // and the reference's hex fallback rendering.
      val mkPoint = udf((x: Long, y: Long) =>
        functions.GeometryAlgos.mysqlPointBytes(x.toDouble, y.toDouble))
      t(s, d, "events")
        .withColumn("__geo", mkPoint(col("event_id") % 360 - 180, (col("event_id") * 7) % 180 - 90))
        .select(col("event_id"), MysqlValues.geometryWkt(col("__geo")).as("wkt"))
    },
      """SELECT event_id,
           'POINT(' || CAST(event_id % 360 - 180 AS VARCHAR) || ' '
             || CAST((event_id * 7) % 180 - 90 AS VARCHAR) || ')' AS wkt
         FROM events""",
      cap = Some(Cap("event_id", 10)))
  )
}
