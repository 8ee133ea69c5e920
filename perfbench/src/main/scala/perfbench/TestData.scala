package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-like tables the operator keys read
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`, one parquet per table under `dir`).
  *
  * Schemas, key ranges and value distributions follow the tables the
  * operator surface was written against: row counts scale with `sf`
  * like TPC-H (lineitem = 6M·sf), timestamps are written as
  * TIMESTAMP_NTZ, (l_orderkey, l_linenumber) is deliberately not unique,
  * events span January 2024, documents draw from a 30-word vocabulary
  * with 5 % near-duplicates, and embeddings are 64-d unit vectors with
  * 10 weakly clustered labels. Every value is a hash of (seed, table,
  * row, column), so the same seed writes the same rows.
  */
object TestData {

  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")

  private val Vocab = Seq("a", "the", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
    "vector", "window")

  /** Uniform double in [0, 1) from (seed, salt, id). */
  private def u(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)

  private def uniInt(seed: Long, salt: Int, id: Column, lo: Int, hi: Int): Column =
    (floor(u(seed, salt, id) * (hi - lo + 1)) + lo).cast("int")

  private def pick(seed: Long, salt: Int, id: Column, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*), uniInt(seed, salt, id, 1, choices.size))

  private def money(c: Column): Column = round(c, 2)

  private def dayIn(seed: Long, salt: Int, id: Column, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), uniInt(seed, salt, id, 0, days)).cast("timestamp_ntz")

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val nCust = math.max(1, (150000 * sf).toLong)
    val nSupp = math.max(1, (10000 * sf).toLong)
    val nPart = math.max(1, (200000 * sf).toLong)
    val nOrd  = math.max(1, (1500000 * sf).toLong)
    val nLine = math.max(1, (6000000 * sf).toLong)
    val nEvt  = math.max(1, (1000000 * sf).toLong)
    val nDoc  = math.max(500L, (50000 * sf).toLong)
    val nEmb  = math.max(500L, (20000 * sf).toLong)
    val nUser = math.max(1L, nCust / 10)
    // ~4 partitions per table keeps the files few without a one-task write
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF("id")
    val id = col("id")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name"))

    write("nation", rows(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")))

    write("customer", rows(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniInt(seed, 1, id, 0, 24).as("c_nationkey"),
      money(u(seed, 2, id) * 10999.99 - 999.99).as("c_acctbal"),
      pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))

    write("supplier", rows(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniInt(seed, 4, id, 0, 24).as("s_nationkey"),
      money(u(seed, 5, id) * 10999.99 - 999.99).as("s_acctbal")))

    write("part", rows(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, id, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(seed, 7, id, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), uniInt(seed, 8, id, 1, 25).cast("string")).as("p_brand"),
      pick(seed, 9, id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      uniInt(seed, 10, id, 1, 50).as("p_size"),
      money(lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10).as("p_retailprice")))

    write("orders", rows(nOrd).select(
      id.as("o_orderkey"),
      pmod(xxhash64(lit(seed), lit(11), id), lit(nCust)).as("o_custkey"),
      pick(seed, 12, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(u(seed, 13, id) * 499000 + 1000).as("o_totalprice"),
      dayIn(seed, 14, id, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))

    write("lineitem", rows(nLine).select(
      pmod(xxhash64(lit(seed), lit(16), id), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(lit(seed), lit(17), id), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lit(seed), lit(18), id), lit(nSupp)).as("l_suppkey"),
      uniInt(seed, 19, id, 1, 7).as("l_linenumber"),
      uniInt(seed, 20, id, 1, 50).cast("double").as("l_quantity"),
      money(u(seed, 21, id) * 104100 + 900).as("l_extendedprice"),
      (uniInt(seed, 22, id, 0, 10).cast("double") / 100).as("l_discount"),
      (uniInt(seed, 23, id, 0, 8).cast("double") / 100).as("l_tax"),
      pick(seed, 24, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, id, Seq("F", "O")).as("l_linestatus"),
      dayIn(seed, 26, id, "1995-01-02", 2498).as("l_shipdate")))

    // ids are in time order: event i lands in slot i of an even spread
    // over 30 days, jittered inside its slot
    val slotMicros = 30L * 86400L * 1000000L / nEvt
    write("events", rows(nEvt).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * slotMicros +
        (u(seed, 27, id) * slotMicros).cast("long")).cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(lit(seed), lit(28), id), lit(nUser)).as("user_id"),
      pick(seed, 29, id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(greatest(lit(0.0), -log(lit(1.0) - u(seed, 30, id)) * 50)).as("value"),
      format_string("{\"k\": %d}", uniInt(seed, 31, id, 0, 99)).as("props")))

    // 5 % of documents repeat another document's text with a marker
    // word appended (the near-duplicate pairs the dedup keys look for)
    val vocab = array(Vocab.map(lit): _*)
    val base = rows(nDoc).select(id.as("doc_id"),
      array_join(transform(sequence(lit(1), uniInt(seed, 32, id, 10, 100)),
        (i: Column) => element_at(vocab,
          (pmod(xxhash64(lit(seed), lit(33), id, i), lit(Vocab.size.toLong)) + 1).cast("int"))),
        " ").as("base_text"))
    val src = base.select(col("doc_id").as("src_id"), col("base_text").as("src_text"))
    val docs = base
      .withColumn("src_id", when(u(seed, 34, col("doc_id")) < 0.05,
        pmod(xxhash64(lit(seed), lit(35), col("doc_id")), lit(nDoc))))
      .join(src, Seq("src_id"), "left_outer")
      .select(col("doc_id"),
        when(col("src_id").isNotNull && col("src_id") =!= col("doc_id"),
          concat(col("src_text"), lit(" dup"))).otherwise(col("base_text")).as("text"))
    write("documents", docs.select(
      col("doc_id"), col("text"),
      when(u(seed, 36, col("doc_id")) < 0.44, "en")
        .otherwise(pick(seed, 37, col("doc_id"), Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")).orderBy("doc_id"))

    // label centre (sign pattern per label) plus Gaussian-ish noise,
    // normalised to unit length
    val label = uniInt(seed, 38, id, 0, 9)
    val raw = transform(sequence(lit(0), lit(63)), (i: Column) =>
      (pmod(xxhash64(lit(seed), lit(39), label, i), lit(2L)).cast("double") * 2 - 1) * 0.15 +
        (u(seed, 40, id * 64 + i) + u(seed, 41, id * 64 + i) + u(seed, 42, id * 64 + i) - 1.5))
    write("embeddings", rows(nEmb)
      .select(id.as("vec_id"), label.as("label"), raw.as("raw"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc: Column, x: Column) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), (x: Column) => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }
}
