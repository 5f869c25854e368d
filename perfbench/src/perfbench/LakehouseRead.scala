package perfbench

import graft.IcebergTable
import graft.core.Transforms
import graft.read.{ReadOptions, ScanPlan}
import graft.write.TableWriteOptions
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * lakehouse_read: the read side in two phases, every storage request charged
 * a fixed 3 ms (the object-store regime).
 *
 * Phase 1 fills the timed window, alternating a SQL narrow-range lookup on `li_frag` through the
 * `graft` source with an `IcebergTable.plan` call carrying the same class of
 * predicate. `li_frag` is landed by [[FragBatches]] fast appends, so every
 * plan reads that many manifests; every operation uses a fresh key, so the
 * 32-entry scan-plan cache in `GraftScan` never hits. Phase 1 is driver
 * planning.
 *
 * Phase 2 then makes one pass over [[Queries]] on TPC-H-shaped v3 tables whose
 * orders and lineitem carry merge-on-read DELETE/UPDATE rounds (deletion
 * vectors). A pass uses fewer than 32 distinct scans, so the plan cache
 * holds them (the warm-up pass loads it). Phase 2 is executor scans, delete application and the
 * optimizer rules.
 */
final class LakehouseRead(seed: Long) extends Workload {
  import LakehouseRead._

  val primaryKind = "lookup"

  private val frag = new FragData(seed)
  private var fragPath = ""
  private var fileKeys = Map.empty[String, Array[Long]]
  private var reference = Map.empty[String, String]
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5EED)
  private var passSeconds = 0.0

  def setup(spark: SparkSession, dir: String): Unit = {
    fragPath = CountingFs.uri(s"$dir/li_frag")
    IcebergTable.createTable(spark, fragPath, FragData.schema, TableWriteOptions(
      partitionBy = Seq("l_shipdate" -> Transforms.Year),
      properties = Map("commit.manifest-merge.enabled" -> "false", "write.distribution-mode" -> "none")))
    (0 until FragBatches).foreach { b =>
      IcebergTable.append(spark.createDataFrame(frag.batchRows(b), FragData.schema).coalesce(1), fragPath)
    }
    // Which data files hold which keys, read from the files themselves with
    // the plain parquet reader: the truth a plan's file list is held to.
    fileKeys = spark.read.schema(FragData.schema).option("recursiveFileLookup", "true").parquet(s"$dir/li_frag/data")
      .select(input_file_name().as("f"), col("l_orderkey"))
      .groupBy("f").agg(array_sort(collect_set("l_orderkey")).as("k"))
      .collect().map(r => stripScheme(r.getString(0)) -> r.getSeq[Long](1).toArray).toMap
    spark.read.format("graft").load(fragPath).createOrReplaceTempView("li_frag")
    val tpchPaths = Tpch.build(spark, seed, dir)
    reference = Tpch.reference(spark, dir)
    tpchPaths.foreach { case (t, p) => spark.read.format("graft").load(p).createOrReplaceTempView(t) }
  }

  /** Uncharged: the warm-up compiles and loads code, it measures nothing. */
  def warmup(spark: SparkSession, h: Harness): Unit = {
    lookup(spark, h, "warmup.lookup")
    plan(spark, h, "warmup.plan")
    Queries.foreach { case (_, q) => spark.sql(q).collect() }
  }

  /** Phase 1 for the whole window, then one phase-2 pass. */
  def run(spark: SparkSession, h: Harness, deadlineNs: Long): Unit = {
    CountingFs.chargeMs = ChargeMs
    var i = 0
    while (Harness.nowNs() < deadlineNs) {
      if (i % 2 == 0) lookup(spark, h, "lookup") else plan(spark, h, "plan_only")
      i += 1
    }
    val t0 = Harness.nowNs()
    Queries.foreach { case (name, q) =>
      h.op("analytic") {
        val df = spark.sql(q)
        h.span("sources.compile")(df.queryExecution.executedPlan)
        df.collect()
      }(rows => { h.count("exec.rows_out", rows.length); Common.digest(rows) == reference(name) })
    }
    passSeconds = (Harness.nowNs() - t0) / 1e9
  }

  private def range(): (Long, Long) = {
    val k = 1L + rnd.nextLong(frag.nOrders.toLong)
    (k, k + rnd.nextInt(MaxWidth + 1))
  }

  private def lookup(spark: SparkSession, h: Harness, kind: String): Unit = {
    val (lo, hi) = range()
    h.op(kind) {
      val df = spark.sql("SELECT l_orderkey, l_linenumber, l_quantity FROM li_frag " +
        s"WHERE l_orderkey BETWEEN $lo AND $hi")
      h.span("sources.compile")(df.queryExecution.executedPlan)
      df.collect()
    }(rows => { h.count("exec.rows_out", rows.length); frag.truth(lo, hi) == FragData.summarize(rows) },
      _ => Probes.plan(spark, h, fragPath, planFilter(lo, hi)))
  }

  private def plan(spark: SparkSession, h: Harness, kind: String): Unit = {
    val (lo, hi) = range()
    h.op(kind)(h.span("read.plan")(IcebergTable.plan(spark, fragPath, ReadOptions(filterSql = Some(planFilter(lo, hi))))))(
      p => { Probes.record(h, p); keepsEveryMatch(p, lo, hi) })
  }

  /** The lookup's predicate as Spark pushes it down. `BETWEEN` itself is
    * not used: `IcebergTable.plan` prunes no files on it (see NOTES.md). */
  private def planFilter(lo: Long, hi: Long): String = s"l_orderkey >= $lo AND l_orderkey <= $hi"

  /** No false negatives: every file holding a key in [lo, hi] is kept. */
  private def keepsEveryMatch(p: ScanPlan, lo: Long, hi: Long): Boolean = {
    val kept = p.dataFiles.map(f => stripScheme(f.resolvedPath)).toSet
    fileKeys.forall { case (f, keys) =>
      val i = java.util.Arrays.binarySearch(keys, lo)
      val hit = i >= 0 || { val at = -i - 1; at < keys.length && keys(at) <= hi }
      !hit || kept(f)
    }
  }

  def metrics(h: Harness): Seq[Metric] = Seq(
    Metric("op_p50_ms", Harness.median(h.ms("lookup")), "ms"),
    Metric("side_p50_ms", Harness.median(h.ms("plan_only")), "ms"),
    Metric("work_per_s", Queries.size / passSeconds, "1/s"))

  def report(h: Harness): Seq[Metric] =
    Common.latency(h, "lookup", "lookup") ++ Common.latency(h, "plan_only", "plan", p90 = false) ++
      Seq(Metric("analytic_pass_s", passSeconds, "s"))
}

object LakehouseRead {
  /** Per-request storage charge (ms) while the timed operations run. */
  val ChargeMs = 3L
  /** Fast appends that land li_frag: one manifest each. */
  val FragBatches = 32
  val OrdersPerBatch = 250
  /** Widest lookup range, in order keys (0 = point lookup). */
  val MaxWidth = 16

  def stripScheme(p: String): String = new java.net.URI(p).getPath

  /** Phase 2's analytic set: an aggregation, a three-way join with top-N, a
    * semi join, an anti join and a window, all over decimal, integral, date
    * and string columns so results compare exactly. A pass makes 10 scans,
    * inside the 32-entry plan cache. */
  val Queries: Seq[(String, String)] = Seq(
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
        |  avg(l_discount) AS avg_disc, count(*) AS n
        |FROM lineitem WHERE l_shipdate <= date'1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "shipping_priority" ->
      """SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < date'1995-03-15'
        |  AND l_shipdate > date'1995-03-15'
        |GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,
    "order_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderdate >= date'1993-07-01' AND o_orderdate < date'1993-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "idle_rich_customers_anti" ->
      """SELECT c_nationkey, count(*) AS n, sum(c_acctbal) AS bal FROM customer
        |WHERE c_acctbal > 0
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= date'1996-01-01')
        |GROUP BY c_nationkey""".stripMargin,
    "top_customers_window" ->
      """SELECT n_name, c_custkey, spend, rk FROM (
        |  SELECT n_name, c_custkey, spend,
        |    rank() OVER (PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rk
        |  FROM (SELECT c_custkey, c_nationkey, sum(o_totalprice) AS spend
        |        FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey, c_nationkey)
        |  JOIN nation ON c_nationkey = n_nationkey)
        |WHERE rk <= 3""".stripMargin)
}

/** li_frag's rows, generated in the driver so every lookup has a known
  * answer. Order keys are dense and ship dates rise with them (orders land
  * over time), so a key-range batch touches one or two year partitions. */
final class FragData(seed: Long) {
  import LakehouseRead._
  val nOrders: Int = FragBatches * OrdersPerBatch
  private val base = java.time.LocalDate.parse("1992-01-01").toEpochDay.toInt
  private val lines: Array[Int] = Array.tabulate(nOrders)(o => 1 + (Common.mix(seed, 1, o + 1L) % 7).toInt)
  /** First row index of each order key (index 0 = key 1). */
  private val first: Array[Int] = lines.scanLeft(0)(_ + _)
  val nRows: Int = first(nOrders)
  private val qty = Array.tabulate(nRows)(r => 1 + (Common.mix(seed, 2, r) % 50).toInt)
  private val key = { val k = new Array[Long](nRows); (0 until nOrders).foreach(o => (first(o) until first(o + 1)).foreach(k(_) = o + 1L)); k }

  def rowOf(r: Int): Row = {
    val k = key(r)
    val line = r - first((k - 1).toInt) + 1
    val orderDay = base + ((k - 1) * 2400 / nOrders).toInt + (Common.mix(seed, 3, k) % 15).toInt
    val ship = orderDay + 1 + (Common.mix(seed, 4, r) % 120).toInt
    val price = java.math.BigDecimal.valueOf(qty(r) * (90000L + Common.mix(seed, 5, r) % 10000L), 2)
    Row(k, line, Common.mix(seed, 6, r) % 20000L + 1, qty(r), price,
      java.time.LocalDate.ofEpochDay(ship.toLong), s"c${Common.mix(seed, 7, r) % 100000}")
  }

  def batchRows(b: Int): java.util.List[Row] = {
    val from = first(b * OrdersPerBatch)
    val to = first((b + 1) * OrdersPerBatch)
    java.util.Arrays.asList((from until to).map(rowOf): _*)
  }

  /** (rows, sum of key*16+line, sum of quantity) of keys in [lo, hi]. */
  def truth(lo: Long, hi: Long): (Long, Long, Long) = {
    val from = first((math.max(lo, 1L) - 1).toInt.min(nOrders))
    val to = first(hi.min(nOrders.toLong).toInt.max(0))
    var (n, s, q) = (0L, 0L, 0L)
    var r = from
    while (r < to) {
      n += 1; s += key(r) * 16 + (r - first((key(r) - 1).toInt) + 1); q += qty(r); r += 1
    }
    (n, s, q)
  }
}

object FragData {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType), StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", DecimalType(12, 2)), StructField("l_shipdate", DateType),
    StructField("l_comment", StringType)))

  def summarize(rows: Array[Row]): (Long, Long, Long) =
    (rows.length.toLong, rows.map(r => r.getLong(0) * 16 + r.getInt(1)).sum, rows.map(_.getInt(2).toLong).sum)
}
