package distbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic star, schema-compatible with the engine's
  * fixture tables (lineitem, orders, customer, supplier, part, events,
  * documents). Every value is a pure function of (row id, column salt,
  * `DataSeed`) through `xxhash64`, so two generations are identical on any
  * machine and any partitioning; the workload seed never reaches the data.
  *
  * Usage: `DataGen <outDir>`. */
object DataGen {
  val DataSeed = 42L

  /** Row counts: the engine's sf0.1 fixture sizes. */
  val rows: Map[String, Long] = Map(
    "lineitem" -> 600000L, "orders" -> 150000L, "customer" -> 15000L,
    "supplier" -> 1000L, "part" -> 20000L, "events" -> 100000L,
    "documents" -> 50000L)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[4]").appName("distbench-datagen")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      for ((t, n) <- rows.toSeq.sorted) {
        // one file per table, like the engine's own fixture tables
        val df = table(spark, t, n)
        df.coalesce(1).sortWithinPartitions(df.columns.head)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        val got = spark.read.parquet(s"$out/$t.parquet").count()
        require(got == n, s"$t: wrote $got rows, expected $n")
        println(s"[datagen] $t $got")
      }
    } finally spark.stop()
  }

  /** Uniform double in [0, 1) from the row id and a per-column salt. */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt), lit(DataSeed)), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  /** Uniform integer in [0, n). */
  private def ui(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(DataSeed)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (ui(id, salt, values.size.toLong) + 1).cast("int"))

  private def money(c: Column): Column = round(c, 2)

  /** Midnight UTC of a day offset from 1992-01-01. */
  private def day(offset: Column): Column =
    timestamp_seconds(lit(694224000L) + floor(offset) * 86400L)

  /** One table of `n` rows. */
  def table(spark: SparkSession, name: String, n: Long): DataFrame = {
    val id = col("id")
    val base = spark.range(n).toDF()
    name match {
      case "lineitem" =>
        val qty = (floor(u(id, 1) * 50) + 1).cast("double")
        base.select(
          (id / 4).cast("long").as("l_orderkey"),
          (ui(id, 2, 20000) + 1).as("l_partkey"),
          (ui(id, 3, 1000) + 1).as("l_suppkey"),
          (ui(id, 4, 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          money(qty * (lit(900.0) + u(id, 5) * 1200.0)).as("l_extendedprice"),
          (floor(u(id, 6) * 11) / 100).as("l_discount"),
          (floor(u(id, 7) * 9) / 100).as("l_tax"),
          pick(id, 8, Seq("A", "N", "R")).as("l_returnflag"),
          pick(id, 9, Seq("F", "O")).as("l_linestatus"),
          day(u(id, 10) * 2500).as("l_shipdate"))
      case "orders" =>
        base.select(
          id.as("o_orderkey"),
          (ui(id, 1, 15000) + 1).as("o_custkey"),
          pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
          money(u(id, 3) * 500000.0).as("o_totalprice"),
          day(u(id, 4) * 2400).as("o_orderdate"),
          pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
            .as("o_orderpriority"))
      case "customer" =>
        base.select(
          (id + 1).as("c_custkey"),
          concat(lit("Customer#"), id.cast("string")).as("c_name"),
          ui(id, 1, 25).cast("int").as("c_nationkey"),
          money(u(id, 2) * 10999.99 - 999.99).as("c_acctbal"),
          pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
            .as("c_mktsegment"))
      case "supplier" =>
        base.select(
          (id + 1).as("s_suppkey"),
          concat(lit("Supplier#"), id.cast("string")).as("s_name"),
          ui(id, 1, 25).cast("int").as("s_nationkey"),
          money(u(id, 2) * 10999.99 - 999.99).as("s_acctbal"))
      case "part" =>
        base.select(
          (id + 1).as("p_partkey"),
          concat(lit("part "), id.cast("string")).as("p_name"),
          concat(lit("Brand#"), (ui(id, 1, 5) + 1).cast("string"), (ui(id, 2, 5) + 1).cast("string"))
            .as("p_brand"),
          pick(id, 3, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")).as("p_type"),
          (ui(id, 4, 50) + 1).cast("int").as("p_size"),
          money(lit(900.0) + u(id, 5) * 1200.0).as("p_retailprice"))
      case "events" =>
        // value: 2% null, 1% NaN, otherwise a skewed positive amount
        val v = u(id, 5)
        base.select(
          id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + (u(id, 1) * 2.592e12).cast("long")).as("ts"),
          (ui(id, 2, 5000) + 1).as("user_id"),
          pick(id, 3, Seq("click", "view", "purchase", "error", "signup")).as("event_type"),
          when(v < 0.02, lit(null).cast("double"))
            .when(v < 0.03, lit(Double.NaN))
            .otherwise(money(pow(u(id, 6), 3) * 490.0 + 0.01)).as("value"),
          concat(lit("{\"k\": "), ui(id, 7, 100).cast("string"), lit("}")).as("props"))
      case "documents" => documents(base)
    }
  }

  /** Documents over a 400-word vocabulary; ~12% of documents copy one of the
    * 1,000 documents before them and rewrite a share of its tokens (none for
    * an exact copy, 1 in 50 for a near copy above the 0.8 Jaccard threshold,
    * 1 in 12 for one mostly below it). Copies keep their source's length.
    * Sources are recent, so every stretch of ids holds as many copies of
    * documents in the same stretch. */
  private def documents(base: DataFrame): DataFrame = {
    val syl = Seq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "xe",
      "ba", "co", "di", "fa", "ge", "hi", "jo", "ku", "le", "mo")
    val vocab = for (a <- syl; b <- syl) yield a + b
    val id = col("id")
    val isCopy = id > 0 && ui(id, 1, 100) < 12
    val withSrc = base.select(id,
      when(isCopy, id - 1 - pmod(xxhash64(id, lit(2), lit(DataSeed)), least(id, lit(1000L))))
        .otherwise(id).as("src"),
      ui(id, 3, 3).as("mode"))
    val rewriteEvery = when(col("id") === col("src"), lit(0L))
      .when(col("mode") === 0, lit(0L)).when(col("mode") === 1, lit(50L)).otherwise(lit(12L))
    val nTok = (ui(col("src"), 4, 100) + 20).cast("int")
    val word = (h: Column) => element_at(typedLit(vocab), (pmod(h, lit(vocab.size.toLong)) + 1).cast("int"))
    val toks = transform(sequence(lit(0), nTok - 1), i =>
      when(rewriteEvery > 0 && pmod(xxhash64(col("id"), i, lit(5)), rewriteEvery) === 0,
        word(xxhash64(col("id"), i, lit(6))))
        .otherwise(word(xxhash64(col("src"), i, lit(DataSeed)))))
    withSrc.select(
      col("id").as("doc_id"),
      array_join(toks, " ").as("text"),
      pick(col("id"), 7, Seq("en", "de", "fr", "es", "it")).as("lang"),
      concat(lit("src"), ui(col("id"), 8, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
