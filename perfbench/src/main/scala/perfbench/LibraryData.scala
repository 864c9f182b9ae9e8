package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tables `SparkEntry.queries` read, generated with the schemas those
  * queries expect, at about a third of the 0.01 scale factor: a TPC-H-like star (region,
  * nation, supplier, customer, part, orders, lineitem), an `events` stream
  * table, `documents` (a small vocabulary, with planted near-duplicates)
  * and `embeddings` (64-d vectors around ten label centres). The data is a
  * fixed function of [[Seed]], so every query's row count and digest are
  * constants the benchmark records and checks. */
object LibraryData {
  val Seed = 20261017L

  private def u(k: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(Seed), lit(k), col("id")), lit(1000000L)).cast("double") / 1e6

  private def pick(k: Int, xs: Seq[String]) =
    element_at(array(xs.map(lit): _*), (u(k) * xs.size).cast("int") + 1)

  private val Vocab = ("the a key row scan slow fast table value part hash merge batch spark line " +
    "sort window order data column agg join small customer query big stream group filter " +
    "vector index shard cache block page node edge graph").split(" ").toSeq

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val day0 = 694224000L // 1992-01-01 UTC, the TPC-H date range

    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION"), col("id")).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("supplier", spark.range(1, 101).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"), (u(1) * 25).cast("int").as("s_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("s_acctbal")))
    save("customer", spark.range(1, 1501).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"), (u(3) * 25).cast("int").as("c_nationkey"),
      round(u(4) * 11000 - 1000, 2).as("c_acctbal"),
      pick(5, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("part", spark.range(1, 1001).select(col("id").as("p_partkey"),
      concat(pick(6, Vocab), lit(" "), pick(7, Vocab)).as("p_name"),
      concat(lit("Brand#"), (u(8) * 5 + 1).cast("int"), (u(9) * 5 + 1).cast("int")).as("p_brand"),
      pick(10, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")).as("p_type"),
      (u(11) * 50 + 1).cast("int").as("p_size"), round(u(12) * 1000 + 900, 2).as("p_retailprice")))
    save("orders", spark.range(1, 5001).select(col("id").as("o_orderkey"),
      (u(13) * 1500 + 1).cast("long").as("o_custkey"), pick(14, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(15) * 400000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(day0) + (u(16) * 2400).cast("long") * 86400L).as("o_orderdate"),
      pick(17, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    // four lines per order on average (1-7), parts uniform over 1000
    save("lineitem", spark.range(1, 5001).select(col("id"), (u(18) * 7 + 1).cast("int").as("n"))
      .select(col("id"), explode(sequence(lit(1), col("n"))).as("ln"))
      .select(col("id").as("l_orderkey"), (pmod(xxhash64(lit(Seed), col("id"), col("ln")), lit(1000L)) + 1)
        .as("l_partkey"), (pmod(xxhash64(lit(Seed + 1), col("id"), col("ln")), lit(100L)) + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (pmod(xxhash64(lit(Seed + 2), col("id"), col("ln")), lit(50L)) + 1).cast("double").as("l_quantity"),
        round(pmod(xxhash64(lit(Seed + 3), col("id"), col("ln")), lit(9000000L)).cast("double") / 100 + 900, 2)
          .as("l_extendedprice"),
        (pmod(xxhash64(lit(Seed + 4), col("id"), col("ln")), lit(11L)).cast("double") / 100).as("l_discount"),
        (pmod(xxhash64(lit(Seed + 5), col("id"), col("ln")), lit(9L)).cast("double") / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(xxhash64(lit(Seed + 6), col("id"), col("ln")), lit(3L)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pmod(xxhash64(lit(Seed + 7), col("id"), col("ln")), lit(2L)) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(day0) + pmod(xxhash64(lit(Seed + 8), col("id"), col("ln")), lit(2500L)) * 86400L)
          .as("l_shipdate")))
    save("events", spark.range(10000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + col("id") * 220000000L + (u(19) * 1e8).cast("long")).as("ts"),
      (u(20) * 100).cast("long").as("user_id"),
      pick(21, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(u(22) * 100, 2).as("value"),
      concat(lit("{\"k\": "), (u(23) * 100).cast("int"), lit("}")).as("props")))

    val rnd = new java.util.Random(Seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      val t =
        if (i % 10 == 7) {
          // a near-duplicate of an earlier document: one word replaced
          val w = texts(i - 1 - rnd.nextInt(i - 1)).split(" ")
          w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.size))
          w.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(70))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      texts += t
    }
    val langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
    save("documents", texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val centres = Array.fill(10, 64)(rnd.nextGaussian().toFloat)
    save("embeddings", (0 until 500).map { i =>
      val label = rnd.nextInt(10)
      (i.toLong, centres(label).map(c => c + 0.6f * rnd.nextGaussian().toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label"))
  }
}
