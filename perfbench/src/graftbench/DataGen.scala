package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the ten input tables the queries read
  * (`graft.Tables.names`), with the column names, types and value
  * ranges of the graded testdata: TPC-H-like star schema, a click
  * `events` table, a 31-word text corpus with 5% near-duplicates, and
  * 64-d unit embeddings in ten clusters.
  *
  * Every value is a hash of (generator seed, column tag, row key), so
  * the output does not depend on partitioning or thread count. Each
  * table is one parquet file, as in the testdata (`Tables.load` spreads
  * only `documents`, and single-file scans shape the other plans).
  */
object DataGen {
  val Seed = 20261017L

  /** Bump when the generated bytes change: the cache key. */
  val Version = 1

  private def h(tag: Int, cs: Column*): Column =
    xxhash64((lit(Seed) +: lit(tag) +: cs): _*)
  /** Uniform integer in [0, n). */
  private def ui(tag: Int, n: Long, cs: Column*): Column = pmod(h(tag, cs: _*), lit(n))
  /** Uniform double in [0, 1). */
  private def ud(tag: Int, cs: Column*): Column =
    ui(tag, 1000000007L, cs: _*).cast("double") / 1000000007.0
  private def pick(tag: Int, xs: Seq[String], cs: Column*): Column =
    element_at(array(xs.map(lit): _*), (ui(tag, xs.size.toLong, cs: _*) + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)
  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, events: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Long) = math.max(10L, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(1000000), n(50000), n(20000))
  }

  /** Order date as a day offset from 1995-01-01 over ~6.6 years; the
    * item generator re-derives it from the order key. */
  private def orderDay(k: Column): Column = ui(7, 2404, k)

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val s = sizes(sf)
    val id = col("id")
    val day0 = to_date(lit("1995-01-01"))
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(s.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(1, 25, id).cast("int").as("c_nationkey"),
      money(ud(2, id) * 10999.0 - 999.99).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), id)
        .as("c_mktsegment"))
    val supplier = spark.range(s.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(4, 25, id).cast("int").as("s_nationkey"),
      money(ud(5, id) * 10999.0 - 999.99).as("s_acctbal"))
    val part = spark.range(s.parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(6, Seq("large", "hot", "blue", "small", "green", "red", "cold",
        "dark"), id), pick(8, Seq("ring", "bolt", "nut", "gear", "pipe", "wire", "cap",
        "pin"), id)).as("p_name"),
      concat(lit("Brand#"), ui(9, 25, id) + 1).as("p_brand"),
      pick(10, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), id).as("p_type"),
      (ui(11, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 1).as("p_retailprice"))
    val orders = spark.range(s.orders).select(id.as("o_orderkey"),
      ui(12, s.customers, id).as("o_custkey"),
      pick(13, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(ud(14, id) * 499000.0 + 1000.0).as("o_totalprice"),
      ntz(date_add(day0, orderDay(id).cast("int"))).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
    // 1..7 lines per order (mean 4): (l_orderkey, l_linenumber) is unique,
    // so every item event id is distinct before duplicates are injected
    val lineitem = spark.range(s.orders)
      .select(id.as("l_orderkey"), explode(sequence(lit(1), (ui(16, 7, id) + 1).cast("int")))
        .as("l_linenumber"))
      .select(col("l_orderkey"),
        ui(17, s.parts, col("l_orderkey"), col("l_linenumber")).as("l_partkey"),
        ui(18, s.suppliers, col("l_orderkey"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (ui(19, 50, col("l_orderkey"), col("l_linenumber")) + 1).cast("double").as("l_quantity"),
        col("l_orderkey").as("k"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"),
        money(col("l_quantity") * (lit(900.0) + (col("l_partkey") % 1000) * 0.1) *
          (ud(20, col("k"), col("l_linenumber")) * 0.2 + 0.9)).as("l_extendedprice"),
        (ui(21, 11, col("k"), col("l_linenumber")) / 100.0).as("l_discount"),
        (ui(22, 9, col("k"), col("l_linenumber")) / 100.0).as("l_tax"),
        pick(23, Seq("A", "N", "R"), col("k"), col("l_linenumber")).as("l_returnflag"),
        pick(24, Seq("O", "F"), col("k"), col("l_linenumber")).as("l_linestatus"),
        ntz(date_add(day0, (orderDay(col("k")) + ui(25, 120, col("k"), col("l_linenumber")) + 1)
          .cast("int"))).as("l_shipdate"))
    // click events: strictly increasing ts over 30 days, skewed values
    val span = 30L * 86400L * 1000000L
    val events = spark.range(s.events).select(id.as("event_id"),
      ntz(timestamp_micros(lit(1704067200000000L) +
        (id * (span / s.events) + ui(26, span / s.events, id)))).as("ts"),
      ui(27, math.max(10L, s.customers / 10), id).as("user_id"),
      pick(28, Seq("signup", "click", "error", "view", "purchase"), id).as("event_type"),
      money(-log(lit(1.0) - ud(29, id) * 0.99999) * 50.0).as("value"),
      concat(lit("{\"k\": "), ui(30, 100, id), lit("}")).as("props"))
    // 5% near-duplicates: doc d with d % 20 == 11 repeats doc d-11 plus " dup"
    val src = when(id % 20 === 11, id - 11).otherwise(id)
    val words = transform(sequence(lit(1), (ui(31, 91, col("src")) + 10).cast("int")),
      i => element_at(array(vocab.map(lit): _*), (ui(32, vocab.size.toLong, col("src"), i) + 1)
        .cast("int")))
    val documents = spark.range(s.documents).select(id, src.as("src"))
      .select(col("id").as("doc_id"),
        concat(array_join(words, " "), when(col("id") =!= col("src"), lit(" dup"))
          .otherwise(lit(""))).as("text"),
        pick(33, Seq("en", "en", "en", "es", "zh", "de", "fr"), col("id")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // label-centred 64-d vectors, normalized to unit length
    val raw = transform(sequence(lit(1), lit(64)), j =>
      (ud(34, col("label"), j) - 0.5) * 0.6 + (ud(35, col("vec_id"), j) - 0.5) * 0.5)
    val embeddings = spark.range(s.embeddings)
      .select(id.as("vec_id"), ui(36, 10, id).cast("int").as("label"))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes every table under `dir` (one parquet file each) unless a
    * complete copy for this scale and [[Version]] is already there. */
  def ensure(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val done = dir.resolve("_COMPLETE")
    val stamp = s"v$Version sf$sf"
    if (Files.exists(done) && Files.readString(done) == stamp) return
    Util.deleteTree(dir)
    tables(spark, sf).foreach { case (name, df) =>
      val tmp = dir.resolve(s"_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Util.list(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
      Util.deleteTree(tmp)
    }
    Files.writeString(done, stamp)
  }
}
