package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded mirror of `graft.tools.GenData`: the same ten tables, schemas,
  * key ranges and distributions, with the seed as an argument instead
  * of the constant 42. Every value derives from
  * xxhash64(seed, salt, row id), so one (seed, sf, table) triple always
  * gives the same rows on any partitioning.
  *
  * [[SelfCheck]] pins this copy to GenData: at seed 42 both must write
  * row-for-row identical tables.
  */
object Gen {
  val All: Seq[String] = graft.sources.Tables.all

  def generate(spark: SparkSession, outDir: String, sf: Double, seed: Long,
               tables: Set[String]): Unit = {
    import spark.implicits._
    val Seed = lit(seed.toInt)
    def u(salt: Int, idCol: String = "id") =
      pmod(xxhash64(Seed, lit(salt), col(idCol)), lit(1000000000L)) / 1e9
    def h(salt: Int, n: Long, idCol: String = "id") =
      pmod(xxhash64(Seed, lit(salt), col(idCol)), lit(n))

    val nCustomer = math.max(1, (150000 * sf).toLong)
    val nSupplier = math.max(1, (10000 * sf).toLong)
    val nPart = math.max(1, (200000 * sf).toLong)
    val nOrders = math.max(1, (1500000 * sf).toLong)
    val nEvents = math.max(1, (1000000 * sf).toLong)
    val nUsers = math.max(1, (15000 * sf).toLong)
    val nDocs = math.max(500L, (50000 * sf).toLong)
    val nVecs = math.max(500L, (20000 * sf).toLong)

    // the tables are independent, so they are written concurrently once
    // all are defined
    val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def write(name: String)(df: => DataFrame): Unit =
      if (tables(name))
        writes += (() => df.write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet"))

    def dayTs(startDate: String, days: Column) =
      to_date(lit(startDate)).cast("timestamp") +
        days.cast("int") * expr("INTERVAL 1 DAY")

    write("region")(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")
    ).toDF("r_regionkey", "r_name").select(
      $"r_regionkey".cast("int"), $"r_name"))

    write("nation")(spark.range(25).select(
      $"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")))

    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    write("customer")(spark.range(nCustomer).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(2) * 11000.0, 2).as("c_acctbal"),
      element_at(segments, (h(3, 5) + 1).cast("int")).as("c_mktsegment")))

    write("supplier")(spark.range(nSupplier).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(5) * 11000.0, 2).as("s_acctbal")))

    val adjs = array(Seq("blue", "cold", "hot", "large", "new", "old",
      "red", "small").map(lit): _*)
    val nouns = array(Seq("anvil", "bolt", "gear", "gizmo", "plate",
      "ring", "rod", "widget").map(lit): _*)
    val ptypes = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    write("part")(spark.range(nPart).select(
      $"id".as("p_partkey"),
      concat(element_at(adjs, (h(6, 8) + 1).cast("int")), lit(" "),
        element_at(nouns, (h(7, 8) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (h(8, 25) + 1)).as("p_brand"),
      element_at(ptypes, (h(9, 6) + 1).cast("int")).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + ($"id" % 1000) / 10.0, 1).as("p_retailprice")))

    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val priorities = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    write("orders")(spark.range(nOrders).select(
      $"id".as("o_orderkey"),
      h(11, nCustomer).as("o_custkey"),
      element_at(statuses, (h(12, 3) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u(13) * 499000.0, 2).as("o_totalprice"),
      dayTs("1995-01-01", h(14, 2405)).as("o_orderdate"),
      element_at(priorities, (h(15, 5) + 1).cast("int"))
        .as("o_orderpriority")))

    // Poisson(4) lines per order through a literal inverse CDF
    val cdf = {
      val pmf = (0 until 18).scanLeft(math.exp(-4.0)) { case (p, k) =>
        p * 4.0 / (k + 1)
      }.take(18)
      array(pmf.scanLeft(0.0)(_ + _).drop(1).map(lit): _*)
    }
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val lstat = array(Seq("F", "O").map(lit): _*)
    write("lineitem")(spark.range(nOrders)
      .withColumn("n_lines", aggregate(cdf, lit(0),
        (acc, c) => acc + when(u(16) >= c, 1).otherwise(0)))
      .filter($"n_lines" >= 1)
      .select($"id".as("l_orderkey"),
        explode(sequence(lit(1), $"n_lines")).as("ln"))
      .withColumn("lid", xxhash64(Seed, $"l_orderkey", $"ln"))
      .select(
        $"l_orderkey",
        h(17, nPart, "lid").as("l_partkey"),
        h(18, nSupplier, "lid").as("l_suppkey"),
        $"ln".cast("int").as("l_linenumber"),
        (h(19, 50, "lid") + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(20, "lid") * 104100.0, 2)
          .as("l_extendedprice"),
        (h(21, 11, "lid") / 100.0).as("l_discount"),
        (h(22, 9, "lid") / 100.0).as("l_tax"),
        element_at(flags, (h(23, 3, "lid") + 1).cast("int"))
          .as("l_returnflag"),
        element_at(lstat, (h(24, 2, "lid") + 1).cast("int"))
          .as("l_linestatus"),
        dayTs("1995-01-02", h(25, 2499, "lid")).as("l_shipdate")))

    val spanUs = 30L * 24 * 3600 * 1000000
    val strideUs = math.max(1L, spanUs / nEvents)
    val etypes = array(Seq("click", "error", "purchase", "signup",
      "view").map(lit): _*)
    write("events")(spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(
        lit(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .getEpochSecond * 1000000L) +
          $"id" * strideUs + h(26, strideUs)).as("ts"),
      h(27, nUsers).as("user_id"),
      element_at(etypes, (h(28, 5) + 1).cast("int")).as("event_type"),
      round(-log((pmod(xxhash64(Seed, lit(29), $"id"),
        lit(999999L)) + 1) / 1e6) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), h(30, 100), lit("}")).as("props")))

    // 10-100 words over a 30-word vocabulary; 5% near-duplicates are an
    // earlier doc's text with " dup" appended
    val vocab = array(Seq("a", "agg", "batch", "big", "column",
      "customer", "data", "fast", "filter", "group", "hash", "join",
      "key", "line", "merge", "order", "part", "query", "row", "scan",
      "slow", "small", "sort", "spark", "stream", "table", "the",
      "value", "vector", "window").map(lit): _*)
    val langs = array(Seq("en", "de", "es", "fr", "zh").map(lit): _*)
    write("documents")(spark.range(nDocs)
      .withColumn("isdup", u(31) < 0.05 && $"id" >= 20)
      .withColumn("gid", when($"isdup",
        pmod(xxhash64(Seed, lit(32), $"id"), $"id")).otherwise($"id"))
      .withColumn("nw",
        pmod(xxhash64(Seed, lit(33), $"gid"), lit(91L)) + 10)
      .withColumn("text0", array_join(transform(
        sequence(lit(0L), $"nw" - 1),
        j => element_at(vocab,
          (pmod(xxhash64(Seed, lit(34), $"gid", j), lit(30L)) + 1)
            .cast("int"))), " "))
      .withColumn("text",
        when($"isdup", concat($"text0", lit(" dup"))).otherwise($"text0"))
      .select(
        $"id".as("doc_id"),
        $"text",
        when(u(35) < 0.41, "en").otherwise(
          element_at(langs, (h(36, 4) + 2).cast("int"))).as("lang"),
        concat(lit("src"), $"id" % 20).as("source"),
        length($"text").cast("long").as("n_chars")))

    // unit-norm 64-dim vectors; 5% near-copies of an earlier vector
    def gauss(salt: Int, idc: Column, j: Column): Column =
      (1 to 4).map { k =>
        pmod(xxhash64(Seed, lit(salt), lit(k), idc, j), lit(1000L)) /
          lit(1000.0)
      }.reduce(_ + _) - 2.0
    write("embeddings")(spark.range(nVecs)
      .withColumn("isdup", u(41) < 0.05 && $"id" >= 20)
      .withColumn("gid", when($"isdup",
        pmod(xxhash64(Seed, lit(42), $"id"), $"id")).otherwise($"id"))
      .withColumn("rawv", transform(sequence(lit(0), lit(63)),
        j => gauss(43, $"gid", j) +
          when($"isdup", gauss(44, $"id", j) * lit(0.03))
            .otherwise(lit(0.0))))
      .withColumn("nrm", sqrt(aggregate($"rawv", lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        $"id".as("vec_id"),
        transform($"rawv", x => (x / $"nrm").cast("float"))
          .as("embedding"),
        h(45, 10).cast("int").as("label")))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.Cores)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}
