package perfbench

import scala.collection.mutable
import graft.IcebergTable
import graft.core.Transforms
import graft.write.{Dml, TableWriteOptions}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * ingest_dml: a seeded commit stream into one partitioned v3 table that
 * starts empty. Most commits append a batch of new keys; some are MERGE
 * upserts (half updates of live keys, half inserts, as in change-data
 * capture); a DELETE removes a key slice; each cycle ends with
 * `rewriteDataFiles` then `expireSnapshots`. Each commit is
 * followed by a read-after-write point lookup checked against the
 * benchmark's model of the table. Storage is counted, not charged (local
 * disk). Manifests and delete files pile up between compactions, so the
 * lookups show the read cost the write side leaves behind.
 */
final class IngestDml(seed: Long) extends Workload {
  import IngestDml._

  val primaryKind = "append"

  private var path = ""
  private var warmPath = ""
  private val rnd = new java.util.SplittableRandom(seed ^ 0x1D9E)
  /** key -> value: the benchmark's model of the live rows. */
  private val model = mutable.LongMap[Long]()
  private var nextKey = 1L
  private var rowsIn = 0L
  private var commits = 0
  private var streamNs = 0L

  def setup(spark: SparkSession, dir: String): Unit = {
    path = CountingFs.uri(s"$dir/ingest")
    warmPath = CountingFs.uri(s"$dir/warm")
    Seq(path, warmPath).foreach(p => IcebergTable.createTable(spark, p, schema, options))
  }

  /** An append and a read-back on a separate table, so the timed table
    * still starts empty. MERGE, DELETE and compaction are not warmed: a
    * fresh JVM pays their first-use cost inside the first timed cycle, the
    * same way in every run. */
  def warmup(spark: SparkSession, h: Harness): Unit = {
    val scratch = new IngestDml(seed + 1)
    scratch.path = warmPath
    scratch.commit(spark, h, Append, "warmup.")
    scratch.commit(spark, h, Append, "warmup.")
  }

  /** Whole cycles of [[Cycle]] until the deadline, at least one, so every
    * run applies the same mix of commit kinds. */
  def run(spark: SparkSession, h: Harness, deadlineNs: Long): Unit = {
    val start = Harness.nowNs()
    while (Harness.nowNs() < deadlineNs || commits == 0) Cycle.foreach { kind =>
      commits += 1
      commit(spark, h, kind, "")
    }
    streamNs = Harness.nowNs() - start
  }

  private def commit(spark: SparkSession, h: Harness, kind: String, prefix: String): Unit = {
    val probeKey: Long = kind match {
      case Append =>
        val keys = (nextKey until nextKey + AppendRows).toArray
        nextKey += AppendRows
        val rows = keys.map(k => k -> value(k, 0))
        val df = frame(spark, rows)
        h.op(prefix + kind)(h.span("write.append")(IcebergTable.append(df, path)))(
          _ => true, _ => Probes.commit(spark, h, path))
        rows.foreach { case (k, v) => model(k) = v }
        rowsIn += rows.length
        keys(rnd.nextInt(keys.length))
      case Merge =>
        val updates = if (model.isEmpty) Array.empty[Long] else Array.fill(MergeRows / 2)(liveKey()).distinct
        val inserts = (nextKey until nextKey + MergeRows / 2).toArray
        nextKey += MergeRows / 2
        val round = commits
        val rows = (updates ++ inserts).map(k => k -> value(k, round))
        val df = frame(spark, rows)
        h.op(prefix + kind)(h.span("write.merge")(IcebergTable.merge(spark, path, df, "t.k = s.k",
          Dml.MergeActions(matchedUpdate = Some(Map("v" -> "s.v", "payload" -> "s.payload")), insertAll = true))))(
          _ => true, _ => Probes.commit(spark, h, path))
        rows.foreach { case (k, v) => model(k) = v }
        rowsIn += rows.length
        rows(rnd.nextInt(rows.length))._1
      case Delete =>
        val lo = liveKey()
        val hi = lo + DeleteSpan - 1
        h.op(prefix + kind)(h.span("write.delete")(IcebergTable.delete(spark, path, s"k BETWEEN $lo AND $hi")))(
          _ => true, _ => Probes.commit(spark, h, path))
        (lo to hi).foreach(model.remove)
        lo
      case Compact =>
        h.op(prefix + kind)(h.span("write.compact")(IcebergTable.rewriteDataFiles(spark, path)))(
          _ => true, _ => Probes.commit(spark, h, path))
        h.op(prefix + "expire")(h.span("write.expire")(IcebergTable.expireSnapshots(spark, path)))(
          _ => true, _ => Probes.commit(spark, h, path))
        liveKey()
    }
    readAfterWrite(spark, h, prefix, probeKey)
  }

  private def readAfterWrite(spark: SparkSession, h: Harness, prefix: String, key: Long): Unit =
    h.op(prefix + "read_after_write") {
      val df = spark.read.format("graft").load(path).where(col("k") === key).select("k", "v")
      h.span("sources.compile")(df.queryExecution.executedPlan)
      df.collect()
    }(rows => { h.count("exec.rows_out", rows.length)
      rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq == model.get(key).map(key -> _).toSeq },
      _ => Probes.plan(spark, h, path, s"k = $key"))

  /** A live key, or the first key ever written once everything is gone. */
  private def liveKey(): Long =
    if (model.isEmpty) 1L
    else {
      var k = 1L + rnd.nextLong(nextKey - 1)
      while (!model.contains(k)) k = 1L + rnd.nextLong(nextKey - 1)
      k
    }

  private def value(k: Long, round: Int): Long = Common.mix(seed, round, k) % 1000000007L

  private def frame(spark: SparkSession, rows: Array[(Long, Long)]) =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, v) =>
      Row(k, (k % Partitions).toInt, v, s"p$v") }: _*), schema)

  /** The table must hold exactly the model's rows. */
  override def finalCheck(spark: SparkSession): Boolean = {
    val got = IcebergTable.load(spark, path)
      .agg(count(lit(1)), coalesce(sum(col("k") * 31 + col("v")), lit(0L))).head()
    val want = (model.size.toLong, model.iterator.map { case (k, v) => k * 31 + v }.sum)
    (got.getLong(0), got.getLong(1)) == want
  }

  def metrics(h: Harness): Seq[Metric] = {
    val appends = h.ms(Append)
    Seq(
      Metric("op_p50_ms", Harness.median(appends), "ms"),
      Metric("side_p50_ms", Harness.median(h.ms("read_after_write")), "ms"),
      Metric("work_per_s", rowsIn / (streamNs / 1e9), "1/s"))
  }

  def report(h: Harness): Seq[Metric] =
    Common.latency(h, Append, "append") ++ Common.latency(h, Merge, "merge", p90 = false) ++
      Common.latency(h, "read_after_write", "read_after_write", p90 = false) ++
      Common.latency(h, Delete, "delete", p90 = false) ++ Common.latency(h, Compact, "compact", p90 = false) ++
      Seq(Metric("ingest_rows_per_s", rowsIn / (streamNs / 1e9), "rows/s"),
        Metric("commits", commits.toDouble, "count"))

  override def layerReport(h: Harness): Seq[Metric] = Probes.writeLayer(h)
}

object IngestDml {
  val Append = "append"
  val Merge = "merge"
  val Delete = "delete"
  val Compact = "compact"
  val AppendRows = 2000
  val MergeRows = 1000
  val DeleteSpan = 200
  /** One cycle of the commit stream; the compaction step also expires
    * snapshots. */
  val Cycle: Seq[String] = Seq(Append, Append, Merge, Append, Append, Delete, Append, Compact)
  val Partitions = 4

  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("part", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false), StructField("payload", StringType)))

  val options: TableWriteOptions =
    TableWriteOptions(partitionBy = Seq("part" -> Transforms.Identity), formatVersion = 3)
}
