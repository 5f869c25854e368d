package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** What one workload reports: its end-to-end metrics plus the readable
  * per-workload names the notes use (`lookup_p50_ms`, ...). */
final case class Metric(name: String, value: Double, unit: String)

/** A workload: seeded set-up (repeatable, from scratch), an untimed warm-up,
  * the timed closed loop, and a final check of the state it left behind. */
trait Workload {
  /** Build every input under `dir` from the seed; called several times,
    * each into a fresh directory, and only the last one is kept. */
  def setup(spark: SparkSession, dir: String): Unit
  def warmup(spark: SparkSession, h: Harness): Unit
  /** Run timed operations until `deadlineNs` (Harness.nowNs clock). */
  def run(spark: SparkSession, h: Harness, deadlineNs: Long): Unit
  /** Untimed end-of-run check of the program's final state; false counts as
    * one failed operation. */
  def finalCheck(spark: SparkSession): Boolean = true
  /** The workload's gated end-to-end metrics, from its untraced operations.
    * Medians only: no run times ten operations beyond a higher percentile. */
  def metrics(h: Harness): Seq[Metric]
  /** Per-workload readable metrics (the names NOTES.md uses), printed only. */
  def report(h: Harness): Seq[Metric]
  /** Trace-only layer metrics of this workload (write.*, pipeline.*). */
  def layerReport(h: Harness): Seq[Metric] = Nil
  /** The operation kind whose latency gives `trace.overhead_pct`. */
  def primaryKind: String
}

object Common {
  /** Order-insensitive digest of a result: rows rendered as strings (decimal
    * and integral columns only in the checked queries, so rendering is
    * exact), sorted, then hashed. */
  def digest(rows: Array[Row]): String = {
    val lines = rows.map(r => r.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString + s"/${rows.length}"
  }

  /** Deterministic 63-bit hash of (seed, salt, key) for generators. */
  def mix(seed: Long, salt: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xC2B2AE3D27D4EB4FL + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def rm(dir: java.io.File): Unit = {
    if (dir.isDirectory) Option(dir.listFiles()).foreach(_.foreach(rm))
    dir.delete()
  }

  /** The latencies of `kind`, with their sample count, as readable metrics. */
  def latency(h: Harness, kind: String, name: String, p90: Boolean = true): Seq[Metric] = {
    val xs = h.ms(kind)
    if (xs.isEmpty) Nil
    else Seq(Metric(s"${name}_p50_ms", Harness.median(xs), "ms")) ++
      (if (p90) Seq(Metric(s"${name}_p90_ms", Harness.quantile(xs, 0.9), "ms")) else Nil) ++
      Seq(Metric(s"${name}_samples", xs.size.toDouble, "count"))
  }
}
