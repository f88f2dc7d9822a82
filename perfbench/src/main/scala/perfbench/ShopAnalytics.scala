package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.ops.{Analytics, Documents, Graph, Warehouse}
import graft.tables.Tables

/** The TPC-H-style star schema the `graft.ops` layer is written against
  * (the column set of [[graft.tables.Tables.schemas]]), generated by Spark
  * from counter-based hashes of a FIXED data seed: the same rows on every
  * machine and partitioning, so each call's expected digest is a constant
  * checked once against DuckDB (see oracle/validate.py). About half the
  * row counts of the suite's sf0.01 set. */
object ShopTables {
  val DataSeed = 42L
  val NCustomer = 1000L
  val NPart = 1000L
  val NOrders = 8000L
  val Names: Seq[String] = Seq("region", "nation", "customer", "part", "orders", "lineitem")
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def u(salt: String, key: Column): Column =
    pmod(xxhash64(lit(DataSeed), lit(salt), key), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)
  private def pickOf(salt: String, key: Column, values: Seq[String]): Column =
    element_at(lit(values.toArray), (floor(u(salt, key) * values.size) + 1).cast("int"))
  private def cents(c: Column): Column = floor(c * 100.0) / 100.0
  private def orderDate(key: Column): Column =
    timestamp_seconds(lit(694224000L) + floor(u("odate", key) * 2400).cast("long") * 86400L)

  def generate(spark: SparkSession): Map[String, DataFrame] = {
    val id = col("id")
    val region = spark.range(0, 5).select(id.cast("int").as("r_regionkey"),
      element_at(lit(Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")), (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(0, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(1, NCustomer + 1).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u("cnat", id) * 25).cast("int").as("c_nationkey"),
      cents(u("cbal", id) * 10999.99 - 999.99).as("c_acctbal"),
      pickOf("cseg", id, Segments).as("c_mktsegment"))
    val part = spark.range(1, NPart + 1).select(id.as("p_partkey"),
      concat_ws(" ", pickOf("pn1", id, Seq("almond", "azure", "blush", "coral", "ivory", "olive")),
        pickOf("pn2", id, Seq("lace", "metallic", "plum", "rose", "smoke", "tan"))).as("p_name"),
      format_string("Brand#%d%d", floor(u("pb1", id) * 5) + 1, floor(u("pb2", id) * 5) + 1).as("p_brand"),
      concat_ws(" ", pickOf("pt1", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        pickOf("pt2", id, Seq("ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED")),
        pickOf("pt3", id, Seq("BRASS", "COPPER", "NICKEL", "STEEL", "TIN"))).as("p_type"),
      (floor(u("psz", id) * 50) + 1).cast("int").as("p_size"),
      cents(lit(900.0) + u("pprice", id) * 1100.0).as("p_retailprice"))
    val orders = spark.range(1, NOrders + 1).select(id.as("o_orderkey"),
      (floor(u("ocust", id) * NCustomer) + 1).cast("long").as("o_custkey"),
      pickOf("ostat", id, Seq("F", "F", "O", "O", "P")).as("o_orderstatus"),
      cents(lit(850.0) + u("oprice", id) * 400000.0).as("o_totalprice"),
      orderDate(id).as("o_orderdate"),
      pickOf("oprio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val ln = col("l_linenumber").cast("long")
    val lk = col("l_orderkey") * 8 + ln
    val lineitem = spark.range(1, NOrders + 1)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (floor(u("nitems", id) * 7) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        (floor(u("lpart", lk) * NPart) + 1).cast("long").as("l_partkey"),
        (floor(u("lsupp", lk) * 100) + 1).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u("lqty", lk) * 50) + 1).cast("double").as("l_quantity"),
        cents((floor(u("lqty", lk) * 50) + 1) * (lit(900.0) + u("lunit", lk) * 1100.0)).as("l_extendedprice"),
        (floor(u("ldisc", lk) * 11) / 100.0).as("l_discount"),
        (floor(u("ltax", lk) * 9) / 100.0).as("l_tax"),
        pickOf("lrf", lk, Seq("A", "N", "R")).as("l_returnflag"),
        pickOf("lls", lk, Seq("F", "O")).as("l_linestatus"),
        (orderDate(col("l_orderkey")) + make_interval(lit(0), lit(0), lit(0),
          (floor(u("lship", lk) * 120) + 1).cast("int"))).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem)
  }

  /** Write the tables as `<dir>/<name>.parquet`, the layout Tables.load reads. */
  def write(spark: SparkSession, dir: Path): Unit =
    generate(spark).foreach { case (n, df) =>
      df.coalesce(2).write.mode("overwrite").parquet(dir.resolve(s"$n.parquet").toString)
    }
}

/** One parameterised warehouse or reporting call: `build` makes the result
  * through the program's public functions, `oracle` is the same question in
  * DuckDB SQL over the same tables. */
final case class Call(id: String, layerFn: String, build: () => DataFrame, oracle: String)

object ShopCalls {
  private def sumMoney(e: String) = graft.functions.money.sumMoneySql(e)
  private def oracle(q: String): String = graft.SparkEntry.oracleSql(q)

  /** Every call kind with its parameter values; the seed picks among them. */
  def kinds(spark: SparkSession, t: String => DataFrame): Seq[(String, Seq[Call])] = {
    def factSlim = Warehouse.factSalesSlim(t("lineitem"), t("orders"), t("customer"))
    Seq(
      "revenue_by_segment_month" -> Seq(Call("revenue_by_segment_month", "Warehouse.revenueBySegmentMonth",
        () => Warehouse.revenueBySegmentMonth(factSlim), oracle("q12_revenue_by_segment_month"))),
      "top_customers" -> Seq(5, 10, 25).map(k => Call(s"top_customers(k=$k)", "Warehouse.topCustomersByRevenue",
        () => Warehouse.topCustomersByRevenue(factSlim, k),
        oracle("q13_top_customers").replace("LIMIT 10", s"LIMIT $k"))),
      "copurchase_pairs" -> Seq(2, 3).map(m => Call(s"copurchase_pairs(min=$m)", "Graph.coPurchasePairs",
        () => Graph.coPurchasePairs(t("lineitem"), minCount = m),
        oracle("q33_copurchase_pairs").replace("HAVING count(*) >= 3", s"HAVING count(*) >= $m"))),
      "doc_nest" -> Seq(Call("doc_nest", "Documents.nest", () =>
        Documents.nest(t("orders"), t("lineitem")).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          size(col("items")).as("n_items"),
          aggregate(col("items"), lit(0.0), (acc, x) => acc + x.getField("l_quantity")).as("total_qty"),
          array_max(transform(col("items"), x => x.getField("l_extendedprice"))).as("max_item_price")),
        oracle("q09_doc_nest"))),
      "revenue_autocorr" -> Seq(7, 14).map(l => Call(s"revenue_autocorr(lag=$l)", "Analytics.dailyRevenueAutocorr",
        () => Analytics.dailyRevenueAutocorr(t("orders"), l),
        oracle("q154_revenue_autocorr").replace("INTERVAL 7 DAY", s"INTERVAL $l DAY"))),
      "sql_priority_mix" -> (for (seg <- ShopTables.Segments; y <- 1993 to 1997) yield {
        val q = "SELECT o_orderpriority, count(*) AS n_orders, " +
          s"${sumMoney("o_totalprice")} AS total_price FROM orders JOIN customer ON o_custkey = c_custkey " +
          s"WHERE c_mktsegment = '$seg' AND year(o_orderdate) = $y GROUP BY o_orderpriority"
        Call(s"sql_priority_mix(seg=$seg,year=$y)", "Engine.sql", () => Engine.sql(spark, q), q)
      }))
  }

  def readExpected(p: Path): Map[String, Digest] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> Digest(a(1).toLong, a(2).toLong)).toMap
}

/** Warehouse and reporting calls, one closed-loop client. Each round calls
  * every kind once, in an order and with parameters the seed picks; each
  * call ends in the digest action and must match its DuckDB-validated
  * expected digest. */
final class ShopAnalytics(seed: Long, tiny: Boolean) extends Workload {
  private var kinds: Seq[(String, Seq[Call])] = Nil
  private var expected: Map[String, Digest] = Map.empty
  private val rnd = new scala.util.Random(seed)
  private var order: IndexedSeq[Call] = IndexedSeq.empty

  val classes: Set[String] = Set("query")
  val roundSize = 6

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.dir.resolve("tables")
    ctx.tracer.span("bench", "generate") { ShopTables.write(ctx.spark, dir) }
    val loaded = ShopTables.Names.map(n =>
      n -> ctx.tracer.span("tables", "Tables.load") { Tables.load(ctx.spark, dir.toString, n) }).toMap
    loaded.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    kinds = ShopCalls.kinds(ctx.spark, loaded)
    require(kinds.size == roundSize)
    expected = ShopCalls.readExpected(Paths.get(sys.props("perfbench.expected")))
  }

  def warmUp(ctx: Ctx): Unit = kinds.foreach { case (_, cs) => Digest.of(cs.head.build()) }

  def op(ctx: Ctx, i: Int): Op = {
    if (i % roundSize == 0)
      order = rnd.shuffle(kinds).map { case (_, cs) => cs(rnd.nextInt(cs.size)) }.toIndexedSeq
    val c = order(i % roundSize)
    Op(c.id, "query",
      () => ctx.tracer.span("ops", c.layerFn) { Digest.of(c.build()) },
      r => Check.equal(c.id, r, expected.getOrElse(c.id, throw new CheckFailed(s"no expected digest for ${c.id}"))))
  }

  def properties: Seq[(String, Any)] = Seq(
    "customers" -> ShopTables.NCustomer, "parts" -> ShopTables.NPart, "orders" -> ShopTables.NOrders,
    "call_kinds" -> roundSize, "distinct_calls" -> kinds.map(_._2.size).sum)

  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] = Map.empty
}

/** Writes the shop tables, every call's result and its DuckDB SQL, for the
  * one-off oracle validation in oracle/validate.py:
  * `OracleDump <out dir>`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors()), out)
    val dir = out.resolve("tables")
    ShopTables.write(spark, dir)
    val loaded = ShopTables.Names.map(n => n -> Tables.load(spark, dir.toString, n)).toMap
    loaded.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val lines = ShopCalls.kinds(spark, loaded).flatMap(_._2).zipWithIndex.map { case (c, k) =>
      val df = c.build()
      val d = Digest.of(df)
      df.write.mode("overwrite").parquet(out.resolve(s"result/$k").toString)
      Seq(c.id, d.rows, d.hash, k, c.oracle.replace("\t", " ").replace("\n", " ")).mkString("\t")
    }
    Files.write(out.resolve("calls.tsv"), lines.asJava, StandardCharsets.UTF_8)
    spark.stop()
  }
}
