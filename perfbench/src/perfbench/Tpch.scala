package perfbench

import graft.IcebergTable
import graft.write.TableWriteOptions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Small TPC-H-shaped tables generated from the seed with Spark expressions
 * (no input files), written once as plain parquet (the reference side) and
 * once as v3 Iceberg tables on `pbfs://`. orders and lineitem then take
 * three merge-on-read commits through graft: a DELETE on orders, then an
 * UPDATE and a DELETE on lineitem (deletion vectors over both the original
 * and the rewritten files).
 */
object Tpch {
  val Customers = 2000
  val Orders = 20000
  val Tables: Seq[String] = Seq("nation", "customer", "orders", "lineitem")

  private def h(seed: Long, salt: Int, c: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), c), lit(Long.MaxValue))
  private def pick(xs: Seq[String], i: Column): Column = element_at(array(xs.map(lit): _*), (i + 1).cast("int"))
  private def cents(c: Column): Column = (c / 100).cast("decimal(12,2)")
  private def day0 = to_date(lit("1992-01-01"))
  private def orderDate(seed: Long, key: Column): Column =
    date_add(day0, (h(seed, 11, key) % 2400).cast("int"))

  def frames(spark: SparkSession, seed: Long): Map[String, DataFrame] = {
    val k = col("id")
    val nation = spark.range(25).select(k.as("n_nationkey"),
      format_string("NATION_%02d", k).as("n_name"), (k % 5).as("n_regionkey"))
    val customer = spark.range(1, Customers + 1).select(k.as("c_custkey"),
      format_string("Customer#%06d", k).as("c_name"), (h(seed, 1, k) % 25).as("c_nationkey"),
      cents(h(seed, 2, k) % 1100000 - 100000).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), h(seed, 3, k) % 5)
        .as("c_mktsegment"))
    val orders = spark.range(1, Orders + 1).select(k.as("o_orderkey"),
      (h(seed, 6, k) % Customers + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, 7, k) % 3).as("o_orderstatus"),
      cents(h(seed, 8, k) % 50000000 + 100000).as("o_totalprice"),
      orderDate(seed, k).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), h(seed, 9, k) % 5)
        .as("o_orderpriority"))
    val o = (k / 7 + 1).cast("long")
    val qty = (h(seed, 13, k) % 50 + 1).cast("int")
    val ship = date_add(orderDate(seed, o), (h(seed, 14, k) % 121 + 1).cast("int"))
    val lineitem = spark.range(0, Orders * 7L)
      .where((k % 7 + 1) <= (h(seed, 12, o) % 7 + 1))
      .select(o.as("l_orderkey"), (h(seed, 15, k) % 2000 + 1).as("l_partkey"),
        (h(seed, 16, k) % 100 + 1).as("l_suppkey"), (k % 7 + 1).cast("int").as("l_linenumber"),
        qty.as("l_quantity"), cents(qty * (h(seed, 17, k) % 10000 + 90000)).as("l_extendedprice"),
        cents(h(seed, 18, k) % 11).as("l_discount"), cents(h(seed, 19, k) % 9).as("l_tax"),
        pick(Seq("R", "A", "N"), h(seed, 20, k) % 3).as("l_returnflag"),
        pick(Seq("O", "F"), h(seed, 21, k) % 2).as("l_linestatus"),
        ship.as("l_shipdate"),
        date_add(orderDate(seed, o), (h(seed, 22, k) % 61 + 30).cast("int")).as("l_commitdate"),
        date_add(ship, (h(seed, 23, k) % 30 + 1).cast("int")).as("l_receiptdate"),
        pick(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"), h(seed, 24, k) % 7)
          .as("l_shipmode"))
    Map("nation" -> nation, "customer" -> customer, "orders" -> orders, "lineitem" -> lineitem)
  }

  private val deleteOrders = "o_orderkey % 53 = 1"
  private val updateLines = "l_orderkey % 47 = 2"
  /** Overlaps the updated rows, so deletes land on both original and
    * rewritten files. */
  private val deleteLines = "l_orderkey % 59 = 2 OR l_orderkey % 94 = 2"

  /** Writes the parquet sources under `dir/src` and the Iceberg tables
    * under `pbfs://dir/tpch`, then commits the three DML statements. Returns the
    * Iceberg path of each table. */
  def build(spark: SparkSession, seed: Long, dir: String): Map[String, String] = {
    val paths = frames(spark, seed).map { case (t, df) =>
      df.write.parquet(s"$dir/src/$t")
      val p = CountingFs.uri(s"$dir/tpch/$t")
      IcebergTable.write(spark.read.parquet(s"$dir/src/$t"), p, TableWriteOptions(formatVersion = 3))
      t -> p
    }
    IcebergTable.delete(spark, paths("orders"), deleteOrders)
    IcebergTable.update(spark, paths("lineitem"), updateLines, Map("l_quantity" -> "l_quantity + 1"))
    IcebergTable.delete(spark, paths("lineitem"), deleteLines)
    paths
  }

  /** Reference digests of [[LakehouseRead.Queries]]: the parquet sources
    * with the same DML applied as DataFrame filters and projections, run
    * with graft's late optimizer rules removed. Leaves the session's rules
    * as it found them. */
  def reference(spark: SparkSession, dir: String): Map[String, String] = {
    val src = Tables.map(t => t -> spark.read.parquet(s"$dir/src/$t")).toMap
    val orders = src("orders").where(s"NOT ($deleteOrders)")
    val lineitem = src("lineitem")
      .withColumn("l_quantity", expr(s"CASE WHEN $updateLines THEN l_quantity + 1 ELSE l_quantity END"))
      .where(s"NOT ($deleteLines)")
    (src ++ Map("orders" -> orders, "lineitem" -> lineitem)).foreach { case (t, df) =>
      df.createOrReplaceTempView(t)
    }
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try LakehouseRead.Queries.map { case (n, q) => n -> Common.digest(spark.sql(q).collect()) }.toMap
    finally spark.experimental.extraOptimizations = rules
  }
}
