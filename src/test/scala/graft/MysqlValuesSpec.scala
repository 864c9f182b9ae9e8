package graft

import org.apache.spark.sql.functions._
import graft.functions.MysqlValues

/** Golden type-decode vectors mirroring the reference's deserializer tests
  * (reference: MysqlTypeDeserializerTest.java; boundary values from
  * mysql.init.sql via FIXTURES.md §1). */
class MysqlValuesSpec extends SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("v")).collect()(0).get(0)

  test("unsigned masks reproduce the organisms boundary row") {
    // TINYINT UNSIGNED 240 stored as signed byte -16
    assert(one(MysqlValues.unsignedTiny(lit(-16L))) == 240L)
    // SMALLINT UNSIGNED 65500 stored as -36
    assert(one(MysqlValues.unsignedSmall(lit(-36L))) == 65500L)
    // MEDIUMINT UNSIGNED 16770215 stored as -7001
    assert(one(MysqlValues.unsignedMedium(lit(-7001L))) == 16770215L)
    // INT UNSIGNED 4294897295 stored as -70001
    assert(one(MysqlValues.unsignedInt(lit(-70001L))) == 4294897295L)
  }

  test("unsigned BIGINT reconstructs 2^64 + x as Decimal(20,0)") {
    val v = one(MysqlValues.unsignedBigint(lit(-2094967296L)))
    assert(v.toString == "18446744071614584320")
    assert(one(MysqlValues.unsignedBigint(lit(5L))).toString == "5")
  }

  test("BIT renders as minimal binary string, 0 as '0'") {
    assert(one(MysqlValues.bitString(lit(170L))) == "10101010")
    assert(one(MysqlValues.bitString(lit(0L))) == "0")
  }

  test("BINARY hex is upper-case; fixed BINARY(n) zero-pads to declared bytes") {
    assert(one(MysqlValues.hexBytes(lit("za").cast("binary"))) == "7A61")
    // BINARY(16) padding (organisms.soylent_dummy_id semantics)
    assert(one(MysqlValues.hexBytesPadded(lit(Array[Byte](0x01, 0x34.toByte)), 16))
      == "0134" + "0" * 28)
  }

  test("ENUM decodes 1-based, 0 -> null; SET decodes bitmask, 0 -> null") {
    val members = typedLit(Seq("animalia", "plantae"))
    assert(one(MysqlValues.enumDecode(lit(1), members)) == "animalia")
    assert(one(MysqlValues.enumDecode(lit(2), members)) == "plantae")
    assert(one(MysqlValues.enumDecode(lit(0), members)) == null)
    val set = typedLit(Seq("a", "b", "c", "d"))
    assert(one(MysqlValues.setDecode(lit(5L), set)) == "a,c")
    assert(one(MysqlValues.setDecode(lit(15L), set)) == "a,b,c,d")
    assert(one(MysqlValues.setDecode(lit(0L), set)) == null)
  }

  test("charset decode: latin1 collation -> ISO-8859-1, else UTF-8") {
    val latin1Bytes = Array[Byte](0xD1.toByte) // 'Ñ' in ISO-8859-1
    assert(one(MysqlValues.charsetDecode(lit(latin1Bytes), "latin1_swedish_ci")) == "Ñ")
    val utf8Bytes = "Ñandú".getBytes("UTF-8")
    assert(one(MysqlValues.charsetDecode(lit(utf8Bytes), "utf8_general_ci")) == "Ñandú")
  }

  test("datetime normalizes to UTC epoch-millis string; date to yyyy-MM-dd") {
    assert(one(MysqlValues.epochMillisString(to_timestamp(lit("2024-01-01 00:00:07.179")))) == "1704067207179")
    assert(one(MysqlValues.dateString(to_timestamp(lit("2024-01-02 03:04:05")))) == "2024-01-02")
  }

  test("salted row key: md5-prefix of first PK + ';'-joined PKs (composite)") {
    // HBaseRowKeyMapper semantics on the sometable fixture shape
    val k = one(MysqlValues.saltedRowKey(Seq(lit("pk1"), lit(42)))).toString
    val md5pk1 = java.security.MessageDigest.getInstance("MD5")
      .digest("pk1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(k == md5pk1.take(8) + ";pk1;42")
    // the reference's own golden vector (RowKeyMapperTest.java:30-36)
    assert(one(MysqlValues.saltedRowKey(Seq(lit(123), lit(456)))).toString == "202cb962;123;456")
  }

  test("TIME renders as duration HH:mm:ss.SSS incl. >24h and negative") {
    assert(one(MysqlValues.timeString(lit(3723456L))) == "01:02:03.456")
    assert(one(MysqlValues.timeString(lit(0L))) == "00:00:00.000")
    // 123 hours — beyond a day, stays a duration
    assert(one(MysqlValues.timeString(lit(123L * 3600000L + 500L))) == "123:00:00.500")
    assert(one(MysqlValues.timeString(lit(-3601000L))) == "-01:00:01.000")
  }

  test("YEAR maps two-digit wire values per MySQL semantics") {
    assert(one(MysqlValues.yearValue(lit(69))) == 2069)
    assert(one(MysqlValues.yearValue(lit(70))) == 1970)
    assert(one(MysqlValues.yearValue(lit(2024))) == 2024)
  }

  // --- MySQL binary JSON (reference: MysqlTypeDeserializer.java:99-109) ---

  private def jsonOf(hex: String): String = {
    val bytes = hex.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    one(MysqlValues.jsonBinaryDecode(lit(bytes))).toString
  }

  test("binary JSON: small object with inlined int16") {
    // {"k":69}: type 00, count 1, size 12, key@11 len 1, value int16 inline
    assert(jsonOf("00 0100 0C00 0B00 0100 05 4500 6B") == """{"k":69}""")
    // negative inline int16: {"b":-2}
    assert(jsonOf("00 0100 0C00 0B00 0100 05 FEFF 62") == """{"b":-2}""")
  }

  test("binary JSON: small array with literals, ints and an out-of-line string") {
    // [1,true,null,"ab"]: count 4, size 19; string entry points at offset 16
    assert(jsonOf("02 0400 1300 05 0100 04 0100 04 0000 0C 1000 02 6162")
      == """[1,true,null,"ab"]""")
  }

  test("binary JSON: nested small object") {
    // {"a":{"b":-2}}: outer value entry points at offset 12 where the inner
    // small object begins
    assert(jsonOf("00 0100 1800 0B00 0100 00 0C00 61 0100 0C00 0B00 0100 05 FEFF 62")
      == """{"a":{"b":-2}}""")
  }

  // --- MySQL GEOMETRY (reference DataType.java:50-58; OGC WKB) ---

  test("geometry WKT: point/linestring/polygon/multipoint, both endians") {
    import graft.functions.GeometryAlgos
    def wkt(hex: String): String = {
      val bytes = hex.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      one(MysqlValues.geometryWkt(lit(bytes))).toString
    }
    def d(v: Double): String = { // little-endian IEEE-754 hex
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(v); bb.array().map("%02X".format(_)).mkString
    }
    val srid = "00000000"
    assert(wkt(s"$srid 01 01000000 ${d(-3)} ${d(7.5)}") == "POINT(-3 7.5)")
    assert(wkt(s"$srid 01 02000000 02000000 ${d(0)} ${d(0)} ${d(1)} ${d(2)}")
      == "LINESTRING(0 0,1 2)")
    assert(wkt(s"$srid 01 03000000 01000000 04000000 ${d(0)}${d(0)} ${d(4)}${d(0)} ${d(4)}${d(4)} ${d(0)}${d(0)}")
      == "POLYGON((0 0,4 0,4 4,0 0))")
    assert(wkt(s"$srid 01 04000000 02000000 01 01000000 ${d(1)}${d(1)} 01 01000000 ${d(2)}${d(2)}")
      == "MULTIPOINT(1 1,2 2)")
    // big-endian point: order byte 00, type/doubles big-endian
    assert(wkt(s"$srid 00 00000001 C008000000000000 401E000000000000") == "POINT(-3 7.5)")
    // collection: point + linestring
    assert(wkt(s"$srid 01 07000000 02000000 01 01000000 ${d(5)}${d(6)} 01 02000000 01000000 ${d(9)}${d(9)}")
      == "GEOMETRYCOLLECTION(POINT(5 6),LINESTRING(9 9))")
    // round-trip the fixture encoder
    assert(one(MysqlValues.geometryWkt(lit(GeometryAlgos.mysqlPointBytes(-180, 89)))).toString
      == "POINT(-180 89)")
  }

  test("binary JSON: scalar docs — double, u64, escaped string") {
    // 1.5 = 0x3FF8000000000000 (LE on the wire)
    assert(jsonOf("0B 000000000000F83F") == "1.5")
    assert(jsonOf("0A FFFFFFFFFFFFFFFF") == "18446744073709551615")
    // "a\"b" : varint len 3, bytes 61 22 62 — quote must escape
    assert(jsonOf("0C 03 612262") == "\"a\\\"b\"")
  }
}
