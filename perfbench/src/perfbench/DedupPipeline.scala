package perfbench

import scala.collection.mutable
import graft.IcebergTable
import graft.pipeline.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * dedup_pipeline: each timed job reads one corpus table, finds near-duplicate
 * pairs with `Dedup.minhashNearDuplicatesExact`, resolves clusters with
 * `Dedup.resolveClusters`, and appends one kept document per cluster to an
 * output table. Every corpus mixes unique documents, near-duplicate
 * families (3-shingle Jaccard >= 0.9, must cluster) and near-miss variants
 * (below 0.9, must not), and its true clusters are computed exactly when it
 * is generated. Each corpus is one append, so planning is trivial here.
 * Storage is counted, not charged.
 */
final class DedupPipeline(seed: Long) extends Workload {
  import DedupPipeline._

  val primaryKind = "job"

  private var corpora = Vector.empty[(String, Map[Long, Long])]
  private var outPath = ""
  private var jobs = 0
  private var docsDone = 0L
  private var streamNs = 0L
  /** Latency of the pair-finding call inside each untraced timed job. */
  private val pairsMs = mutable.ArrayBuffer[Double]()

  def setup(spark: SparkSession, dir: String): Unit = {
    corpora = (0 until Corpora).toVector.map { c =>
      val docs = Corpus.generate(Common.mix(seed, 100, c), DocsPerCorpus)
      val path = CountingFs.uri(s"$dir/corpus-$c")
      val rows = docs.map(d => Row(d.id, d.text))
      IcebergTable.write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), path)
      path -> docs.map(d => d.id -> d.cluster).toMap
    }
    outPath = CountingFs.uri(s"$dir/kept")
    IcebergTable.createTable(spark, outPath, schema)
  }

  /** One job per corpus: the first job of a process runs about twice as
    * long as later ones (code generation, JIT), and the first job on a
    * corpus still runs slower than the ones after it. */
  def warmup(spark: SparkSession, h: Harness): Unit = corpora.foreach(c => job(spark, h, "warmup.job", c))

  /** Jobs until the deadline, and at least [[MinJobs]], so that every
    * median is taken over several jobs. */
  def run(spark: SparkSession, h: Harness, deadlineNs: Long): Unit = {
    val start = Harness.nowNs()
    while (jobs < MinJobs || Harness.nowNs() < deadlineNs) {
      jobs += 1
      job(spark, h, "job", corpora(jobs % Corpora))
      docsDone += DocsPerCorpus
    }
    streamNs = Harness.nowNs() - start
  }

  private def job(spark: SparkSession, h: Harness, kind: String, corpus: (String, Map[Long, Long])): Unit = {
    val (path, truth) = corpus
    h.op(kind) {
      val docs = IcebergTable.load(spark, path)
      h.span("sources.compile")(docs.queryExecution.executedPlan)
      val t0 = System.nanoTime()
      val pairs = h.span("pipeline.pairs")(Dedup.minhashNearDuplicatesExact(docs, "text", "id"))
      if (kind == "job" && !h.tracingCurrent) pairsMs += (System.nanoTime() - t0) / 1e6
      val clusters = h.span("pipeline.clusters")(Dedup.resolveClusters(docs, "id", pairs))
      h.span("pipeline.write") {
        val kept = clusters.where(col("doc_id") === col("cluster_id")).select(col("doc_id").as("id"))
          .join(docs, "id")
        h.span("write.append")(IcebergTable.append(kept.select("id", "text"), outPath))
      }
      (pairs, clusters)
    }(res => {
      val got = res._2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      h.count("exec.rows_out", got.size)
      got == truth
    }, res => {
      val candidates = h.span("pipeline.candidates") {
        Dedup.minhashCandidatePairs(IcebergTable.load(spark, path), "text", "id").count()
      }
      h.count("pipeline.candidate_pairs", candidates)
      h.count("pipeline.verified_pairs", res._1.count())
      h.count("pipeline.jobs", 1)
      Probes.plan(spark, h, path, "id >= 0")
      Probes.commit(spark, h, outPath)
    })
  }

  def metrics(h: Harness): Seq[Metric] = {
    val js = h.ms("job")
    Seq(
      Metric("op_p50_ms", Harness.median(js), "ms"),
      Metric("side_p50_ms", Harness.median(pairsMs.toSeq), "ms"),
      Metric("work_per_s", docsDone / (streamNs / 1e9), "1/s"))
  }

  def report(h: Harness): Seq[Metric] =
    Common.latency(h, "job", "dedup_job") ++
      Seq(Metric("dedup_docs_per_s", docsDone / (streamNs / 1e9), "docs/s"),
        Metric("pairs_p50_ms", Harness.median(pairsMs.toSeq), "ms"))

  override def layerReport(h: Harness): Seq[Metric] = {
    val n = math.max(h.counts("pipeline.jobs"), 1.0)
    val cand = h.counts("pipeline.candidate_pairs")
    Seq(
      Metric("pipeline.pairs_ms", h.meanSpanMs("pipeline.pairs"), "ms"),
      Metric("pipeline.clusters_ms", h.meanSpanMs("pipeline.clusters"), "ms"),
      Metric("pipeline.write_ms", h.meanSpanMs("pipeline.write"), "ms"),
      Metric("pipeline.candidate_pairs", cand / n, "count"),
      Metric("pipeline.verified_pairs", h.counts("pipeline.verified_pairs") / n, "count"),
      Metric("pipeline.verified_per_candidate", h.counts("pipeline.verified_pairs") / math.max(cand, 1.0), "ratio")) ++
      Probes.writeLayer(h).filter(m => m.name != "write.append_driver_ms" &&
        Set("write.append", "write.files", "write.manifests", "write.metadata").exists(m.name.startsWith))
  }
}

object DedupPipeline {
  val Corpora = 2
  val DocsPerCorpus = 3000
  /** Timed jobs per run, at the least; a job takes about 5 to 7 s. */
  val MinJobs = 2

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType)))
}

/** One generated document and the id of the cluster it truly belongs to
  * (the smallest id in its connected component at Jaccard >= 0.9). */
final case class Doc(id: Long, text: String, cluster: Long)

/**
 * Seeded corpus with planted clusters. Documents are drawn from a random
 * vocabulary; a family is a base document plus variants with one word
 * substituted (Jaccard >= 0.94 to the base), and a near miss is the base
 * with a tenth of its words substituted (far below 0.9). Truth is computed
 * exactly from the 3-word shingle sets of each family group, with
 * union-find over pairs at Jaccard >= 0.9; documents of different groups
 * share no shingles in practice (random words from a 4000-word vocabulary).
 */
object Corpus {
  val Shingle = 3

  def generate(seed: Long, n: Int): Vector[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.fill(4000)(Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    def words(len: Int): Array[String] = Array.fill(len)(vocab(rnd.nextInt(vocab.length)))
    def substitute(base: Array[String], count: Int): Array[String] = {
      val w = base.clone()
      (1 to count).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
      w
    }
    // A fixed mix per block of 20 documents, so every seed does the same
    // amount of work: one family (base, three variants, one near miss), one
    // base with a near miss, and thirteen unique documents.
    val groups = mutable.ArrayBuffer[Seq[Array[String]]]()
    var total = 0
    while (total < n) {
      val base = words(100 + rnd.nextInt(60))
      val g = groups.size % 15 match {
        case 0 => Seq(base) ++ Seq.fill(3)(substitute(base, 1)) :+ substitute(base, base.length / 10)
        case 1 => Seq(base, substitute(base, base.length / 10))
        case _ => Seq(base)
      }
      groups += g.take(n - total)
      total += g.size
    }
    // Ids are a seeded permutation, so members of a family are scattered.
    val ids = {
      val a = Array.tabulate(n)(i => i.toLong + 1)
      (n - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    var next = 0
    groups.toVector.flatMap { g =>
      val gi = g.indices.map { _ => val id = ids(next); next += 1; id }
      val sets = g.map(w => w.sliding(Shingle).map(_.mkString(" ")).toSet)
      val parent = Array.tabulate(g.size)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for (a <- g.indices; b <- a + 1 until g.size) {
        val inter = sets(a).intersect(sets(b)).size
        val union = sets(a).size + sets(b).size - inter
        if (inter * 10 >= union * 9) parent(find(a)) = find(b)
      }
      val minId = g.indices.groupBy(find).view.mapValues(_.map(gi).min).toMap
      g.indices.map(i => Doc(gi(i), g(i).mkString(" "), minId(find(i))))
    }
  }
}
