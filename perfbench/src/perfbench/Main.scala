package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * Benchmark process: one workload, one seed, one timed window.
 *
 *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <set-ups>
 *
 * Prints readable `name value unit` lines, then one JSON object as the last
 * line of stdout (the contract `perfbench/run.py` relays).
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, setupsS) = args
    val (seed, seconds, tracing, setups) = (seedS.toLong, secondsS.toDouble, traceS == "1", setupsS.toInt)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.BenchSession.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration.set(s"fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)

    val w: Workload = name match {
      case "lakehouse_read" => new LakehouseRead(seed)
      case "ingest_dml" => new IngestDml(seed)
      case "dedup_pipeline" => new DedupPipeline(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up runs several times from scratch; its median is setup_s. Only
    // the last set-up's tables are used afterwards.
    CountingFs.chargeMs = 0
    val setupTimes = (1 to setups).map { i =>
      val dir = s"$work/setup-$i"
      val t0 = System.nanoTime()
      w.setup(spark, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) Common.rm(new java.io.File(s"$work/setup-${i - 1}"))
      line("setup_run_s", s, "s")
      s
    }

    // Warm-up operations are checked and counted, never traced.
    val warm = new Harness(spark, tracing = false)
    val tw = System.nanoTime()
    w.warmup(spark, warm)
    line("warmup_s", (System.nanoTime() - tw) / 1e9, "s")
    line("process_to_first_op_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, "s")

    val h = new Harness(spark, tracing)
    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val start = Harness.nowNs()
    // A traced run alternates traced and untraced operations, so it measures
    // twice as long to trace as many operations as an untraced run times.
    w.run(spark, h, start + (seconds * (if (tracing) 2 else 1) * 1e9).toLong)
    val timedSeconds = (Harness.nowNs() - start) / 1e9
    val gc = gcMs() - gcBefore
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    CountingFs.chargeMs = 0
    h.finish()
    val finalOk = try w.finalCheck(spark) catch {
      case e: Throwable => System.err.println(s"[perfbench] final check failed: $e"); false
    }
    if (!finalOk) System.err.println("[perfbench] final state differs from the model")

    val attempted = warm.attempted + h.attempted + 1
    val failed = warm.failed + h.failed + (if (finalOk) 0 else 1)
    line("timed_s", timedSeconds, "s")
    line("failed_op_ratio", failed.toDouble / attempted, "ratio")
    val setupMetric = Metric("setup_s", Harness.median(setupTimes), "s")
    w.report(h).foreach(m => line(m.name, m.value, m.unit))

    val metrics =
      if (!tracing) setupMetric +: w.metrics(h)
      else {
        val layers = Layers.compute(h, w, gc, heapPeakMb)
        (layers ++ w.layerReport(h)).foreach(m => line(m.name, m.value, m.unit))
        Layers.writeSpans(h, s"$work/spans.jsonl")
        line("spans_written", h.allSpans.size.toDouble, "count")
        layers
      }
    if (!tracing) metrics.foreach(m => line(m.name, m.value, m.unit))
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def line(name: String, v: Double, unit: String): Unit = println(s"[perfbench] $name ${num(v)} $unit")
}
