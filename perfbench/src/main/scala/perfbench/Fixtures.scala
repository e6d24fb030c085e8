package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the ten fixture tables the declared queries read
  * (schemas as in FIXTURES.md), one parquet file per table. Every value is
  * a pure function of (seed, table, row id), so the files are identical on
  * any host and at any parallelism. */
object Fixtures {

  final case class Sizes(supplier: Int, customer: Int, part: Int, orders: Int,
      lineitem: Int, events: Int, users: Int, documents: Int, embeddings: Int)

  /** Row counts of the sf0.01 fixtures in FIXTURES.md. */
  val Sf001: Sizes = Sizes(supplier = 100, customer = 1500, part = 2000,
    orders = 15000, lineitem = 60000, events = 10000, users = 150,
    documents = 500, embeddings = 500)

  private val Epoch1992 = 694224000L // 1992-01-01T00:00:00Z
  private val Epoch2024 = 1704067200L // 2024-01-01T00:00:00Z

  private val vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "part", "window", "small", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "slow", "filter", "customer", "line",
    "value", "agg", "column", "a", "big", "vector")

  private def pick(h: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h, lit(xs.size.toLong)) + 1).cast(IntegerType))

  /** Writes every table under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, sz: Sizes): Unit = {
    def h(salt: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def id = col("id")
    // wall-clock timestamps without a zone; the sessions run in UTC
    def ntz(baseEpochS: Long, secs: Column): Column =
      timestamp_seconds(lit(baseEpochS) + secs).cast(TimestampNTZType)
    def cents(salt: String, range: Long, shift: Long = 0L): Column =
      ((pmod(h(salt, id), lit(range)) - lit(shift)) / lit(100.0)).cast(DoubleType)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(id.cast(IntegerType).as("r_regionkey"),
        pick(id, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast(IntegerType).as("n_regionkey")),
      "supplier" -> spark.range(sz.supplier).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pmod(h("s_n", id), lit(25L)).cast(IntegerType).as("s_nationkey"),
        cents("s_a", 1099999L, 99999L).as("s_acctbal")),
      "customer" -> spark.range(sz.customer).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pmod(h("c_n", id), lit(25L)).cast(IntegerType).as("c_nationkey"),
        cents("c_a", 1099999L, 99999L).as("c_acctbal"),
        pick(h("c_m", id), Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "part" -> spark.range(sz.part).select(id.as("p_partkey"),
        concat_ws(" ", pick(h("p_a", id), Seq("cold", "small", "large", "red", "shiny")),
          pick(h("p_b", id), Seq("widget", "bolt", "gear", "valve", "spring"))).as("p_name"),
        concat(lit("Brand#"), pmod(h("p_br", id), lit(25L)) + 1).as("p_brand"),
        pick(h("p_t", id), Seq("ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL",
          "MEDIUM")).as("p_type"),
        (pmod(h("p_s", id), lit(50L)) + 1).cast(IntegerType).as("p_size"),
        ((lit(9000L) + id % 1000) / lit(10.0)).as("p_retailprice")),
      "orders" -> spark.range(sz.orders).select(id.as("o_orderkey"),
        pmod(h("o_c", id), lit(sz.customer.toLong)).as("o_custkey"),
        pick(h("o_s", id), Seq("F", "O", "P")).as("o_orderstatus"),
        cents("o_t", 50000000L).as("o_totalprice"),
        ntz(Epoch1992, pmod(h("o_d", id), lit(2557L)) * 86400L).as("o_orderdate"),
        pick(h("o_p", id), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> spark.range(sz.lineitem).select(
        pmod(h("l_o", id), lit(sz.orders.toLong)).as("l_orderkey"),
        pmod(h("l_p", id), lit(sz.part.toLong)).as("l_partkey"),
        pmod(h("l_s", id), lit(sz.supplier.toLong)).as("l_suppkey"),
        (pmod(h("l_n", id), lit(7L)) + 1).cast(IntegerType).as("l_linenumber"),
        (pmod(h("l_q", id), lit(50L)) + 1).cast(DoubleType).as("l_quantity"),
        cents("l_e", 10000000L).as("l_extendedprice"),
        (pmod(h("l_d", id), lit(11L)) / lit(100.0)).as("l_discount"),
        (pmod(h("l_t", id), lit(9L)) / lit(100.0)).as("l_tax"),
        pick(h("l_r", id), Seq("A", "N", "R")).as("l_returnflag"),
        pick(h("l_l", id), Seq("O", "F")).as("l_linestatus"),
        ntz(Epoch1992, pmod(h("l_sd", id), lit(2557L)) * 86400L).as("l_shipdate")),
      "events" -> spark.range(sz.events).select(id.as("event_id"),
        // arrival order with up to 15 minutes of disorder, over 30 days, µs grain
        (lit(Epoch2024 * 1000000L) + id * (30L * 86400L * 1000000L / sz.events) +
          pmod(h("e_j", id), lit(900L * 1000000L))).as("us"),
        pmod(h("e_u", id), lit(sz.users.toLong)).as("user_id"),
        pick(h("e_t", id), Seq("click", "purchase", "error", "signup", "view")).as("event_type"),
        (cents("e_v", 32800L) + lit(0.03)).as("value"),
        concat(lit("{\"k\": "), pmod(h("e_k", id), lit(100L)), lit("}")).as("props"))
        .select(col("event_id"), expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      "documents" -> {
        // every 10th document is a near-duplicate of its predecessor with
        // one word replaced
        val origin = when(id % 10 === 9, id - 1).otherwise(id)
        val n = pmod(xxhash64(lit(seed), lit("d_n"), origin), lit(70L)) + 8
        val words = transform(sequence(lit(0L), n - 1), i =>
          when(id % 10 === 9 && i === pmod(h("d_m", id), n), lit("merge"))
            .otherwise(pick(xxhash64(lit(seed), lit("d_w"), origin, i), vocab)))
        spark.range(sz.documents).select(id.as("doc_id"), array_join(words, " ").as("text"),
          pick(h("d_l", id), Seq("en", "en", "en", "en", "en", "fr", "es", "zh", "de"))
            .as("lang"),
          concat(lit("src"), id % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast(LongType))
      },
      "embeddings" -> {
        val label = pmod(h("v_l", id), lit(10L))
        val raw = transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(lit(seed), lit("v_c"), label, d), lit(2001L)) - 1000) / lit(1000.0) +
            (pmod(xxhash64(lit(seed), lit("v_n"), id, d), lit(2001L)) - 1000) / lit(3000.0))
        spark.range(sz.embeddings).select(id.as("vec_id"), raw.as("raw"),
          label.cast(IntegerType).as("label"))
          .select(col("vec_id"),
            expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float))")
              .as("embedding"), col("label"))
      })

    Files.createDirectories(Paths.get(dir))
    tables.foreach { case (name, df) => writeOne(df, Paths.get(dir), name) }
  }

  private def writeOne(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
