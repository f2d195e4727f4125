package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every table is a pure function of
  * (seed, scale): the same seed writes the same rows at any parallelism.
  * Shapes follow the TPC-H-style tables `graft.sources.TpchKg.load` reads
  * and the `documents` table `graft.pipeline.Pages.fromDir` reads; row
  * counts depend on the scale only, so two seeds give inputs of equal size
  * whose keys, foreign keys and values differ.
  */
object Gen {

  /** Uniform draw in [0, m) keyed on (seed, salt, key column). */
  private def draw(seed: Long, salt: String, key: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(m))

  private def pick(seed: Long, salt: String, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(seed, salt, key, values.size) + 1).cast("int"))

  private def money(seed: Long, salt: String, key: Column, lo: Long, span: Long): Column =
    ((draw(seed, salt, key, span * 100) + lo * 100) / 100.0).cast("double")

  final case class Sizes(customers: Long, suppliers: Long, parts: Long, orders: Long)

  /** TPC-H row counts at scale factor `sf` (sf 1 = 150k customers). */
  def sizes(sf: Double): Sizes = Sizes(
    customers = math.max(10L, (150000 * sf).toLong),
    suppliers = math.max(5L, (10000 * sf).toLong),
    parts = math.max(10L, (200000 * sf).toLong),
    orders = math.max(20L, (1500000 * sf).toLong))

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** Write region, nation, customer, supplier, part, orders and lineitem
    * parquet tables under `dir`. Lineitems: 1..7 per order. */
  def tpch(spark: SparkSession, dir: String, seed: Long, sf: Double): Sizes = {
    val z = sizes(sf)
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def keys(n: Long, name: String) =
      spark.range(1, n + 1, 1, 2).select(col("id").as(name))

    out(spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "region")
    out(spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    val c = col("c_custkey")
    out(keys(z.customers, "c_custkey").select(c,
      format_string("Customer#%09d", c).as("c_name"),
      draw(seed, "cn", c, 25).cast("int").as("c_nationkey"),
      money(seed, "cb", c, -999, 10999).as("c_acctbal"),
      pick(seed, "cm", c, segments).as("c_mktsegment")), "customer")

    val s = col("s_suppkey")
    out(keys(z.suppliers, "s_suppkey").select(s,
      format_string("Supplier#%09d", s).as("s_name"),
      draw(seed, "sn", s, 25).cast("int").as("s_nationkey"),
      money(seed, "sb", s, -999, 10999).as("s_acctbal")), "supplier")

    val p = col("p_partkey")
    out(keys(z.parts, "p_partkey").select(p,
      concat(lit("part "), draw(seed, "pn", p, 1000)).as("p_name"),
      format_string("Brand#%d%d", draw(seed, "pb1", p, 5) + 1, draw(seed, "pb2", p, 5) + 1)
        .as("p_brand"),
      pick(seed, "pt", p, Seq("STANDARD ANODIZED TIN", "SMALL PLATED COPPER",
        "MEDIUM BRUSHED STEEL", "LARGE POLISHED BRASS", "ECONOMY BURNISHED NICKEL"))
        .as("p_type"),
      (draw(seed, "ps", p, 50) + 1).cast("int").as("p_size"),
      money(seed, "pr", p, 900, 1100).as("p_retailprice")), "part")

    val o = col("o_orderkey")
    val orders = keys(z.orders, "o_orderkey").select(o,
      (draw(seed, "oc", o, z.customers) + 1).as("o_custkey"),
      pick(seed, "os", o, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, "ot", o, 850, 500000).as("o_totalprice"),
      (lit(java.sql.Timestamp.valueOf("1992-01-01 00:00:00")).cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), draw(seed, "od", o, 2400).cast("int")))
        .as("o_orderdate"),
      pick(seed, "op", o, priorities).as("o_orderpriority"))
    out(orders, "orders")

    val lines = keys(z.orders, "l_orderkey")
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (draw(seed, "ln", col("l_orderkey"), 7) + 1).cast("int"))))
    val lk = Seq(col("l_orderkey"), col("l_linenumber"))
    def drawL(salt: String, m: Long) = pmod(xxhash64(lit(seed) +: lit(salt) +: lk: _*), lit(m))
    out(lines.select(col("l_orderkey"),
      (drawL("lp", z.parts) + 1).as("l_partkey"),
      (drawL("ls", z.suppliers) + 1).as("l_suppkey"),
      col("l_linenumber"),
      (drawL("lq", 50) + 1).cast("double").as("l_quantity"),
      (drawL("le", 10000000) / 100.0).as("l_extendedprice"),
      (drawL("ld", 11) / 100.0).as("l_discount"),
      (drawL("lt", 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (drawL("lr", 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (drawL("lst", 2) + 1).cast("int"))
        .as("l_linestatus"),
      (lit(java.sql.Timestamp.valueOf("1992-01-02 00:00:00")).cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), drawL("lsd", 2500).cast("int")))
        .as("l_shipdate")), "lineitem")
    z
  }

  private val words = Seq("the", "a", "fast", "slow", "big", "small", "key", "value", "order",
    "sort", "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream",
    "spark", "dup", "group", "query", "row", "data", "filter", "customer", "line", "agg",
    "column", "vector")

  /** `documents(doc_id, text, lang, source, n_chars)`: `docs` pages with
    * doc ids `offset .. offset + docs - 1` and 8..80 seeded filler words.
    * The page facts `Pages.fromDocuments` plants are arithmetic in doc_id,
    * so the offset alone changes which entities and relations a batch
    * states. */
  def documents(spark: SparkSession, dir: String, seed: Long, docs: Long, offset: Long,
                files: Int): Unit = {
    val id = col("doc_id")
    val nWords = (draw(seed, "nw", id, 73) + 8).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      element_at(array(words.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit("w"), id, i), lit(words.size.toLong)) + 1).cast("int"))),
      " ")
    spark.range(offset, offset + docs, 1, files).select(col("id").as("doc_id"))
      .select(id, text.as("text"),
        pick(seed, "lg", id, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
