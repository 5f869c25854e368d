package perfbench

import graft.IcebergTable
import graft.read.{ReadOptions, ScanPlan}
import org.apache.spark.sql.SparkSession

/** Trace-only layer measurements taken after an operation, outside its
  * latency: a timed `IcebergTable.plan` of its predicate (read layer) and
  * the committed table state after a write (write layer). */
object Probes {
  def plan(spark: SparkSession, h: Harness, path: String, filter: String): ScanPlan = {
    val p = h.span("read.plan")(IcebergTable.plan(spark, path, ReadOptions(filterSql = Some(filter))))
    record(h, p)
    p
  }

  def record(h: Harness, p: ScanPlan): Unit = {
    h.count("read.plans", 1)
    h.count("read.manifests_read", p.scannedManifests)
    h.count("read.manifests_pruned", p.prunedManifests)
    h.count("read.data_files_kept", p.dataFiles.size)
    h.count("read.data_files_total", p.totalDataFiles)
    h.count("read.delete_files_kept", p.deleteFiles.size)
  }

  /** Layout a commit left behind, read back from the committed metadata. */
  def commit(spark: SparkSession, h: Harness, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val metaFile = graft.core.TableMetadata.findMetadataFile(path, conf)
    val meta = graft.core.TableMetadata.load(path, conf)
    val p = IcebergTable.plan(spark, path)
    val mf = new org.apache.hadoop.fs.Path(metaFile)
    h.count("write.commits", 1)
    h.count("write.files_added",
      meta.currentSnapshot.flatMap(_.summary.get("added-data-files")).map(_.toDouble).getOrElse(0.0))
    h.count("write.manifests", p.scannedManifests + p.prunedManifests)
    h.count("write.delete_files_live", p.deleteFiles.size)
    h.count("write.metadata_json_bytes", mf.getFileSystem(conf).getFileStatus(mf).getLen.toDouble)
  }

  /** write.* metrics: per-call times of each write entry point, the part of
    * append and merge spent outside Spark jobs, and the layout per commit. */
  def writeLayer(h: Harness): Seq[Metric] = {
    def driverMs(kind: String): Double = h.driverMs(h.tracedOps.filter(_.kind == kind))
    val commits = math.max(h.counts("write.commits"), 1.0)
    Seq(
      Metric("write.append_ms", h.meanSpanMs("write.append"), "ms"),
      Metric("write.append_driver_ms", driverMs("append"), "ms"),
      Metric("write.merge_ms", h.meanSpanMs("write.merge"), "ms"),
      Metric("write.merge_driver_ms", driverMs("merge"), "ms"),
      Metric("write.delete_ms", h.meanSpanMs("write.delete"), "ms"),
      Metric("write.compact_ms", h.meanSpanMs("write.compact"), "ms"),
      Metric("write.expire_ms", h.meanSpanMs("write.expire"), "ms"),
      Metric("write.files_added_per_commit", h.counts("write.files_added") / commits, "count"),
      Metric("write.manifests_per_snapshot", h.counts("write.manifests") / commits, "count"),
      Metric("write.delete_files_live", h.counts("write.delete_files_live") / commits, "count"),
      Metric("write.metadata_json_bytes", h.counts("write.metadata_json_bytes") / commits, "bytes"))
  }
}
