package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.Caches
import graft.dedup._
import graft.io.{DedupOutputs, StageStore}

/** Output quality of one pass against the planted truth. */
final case class Quality(
    recall: Double, precision: Double,
    plantedPairs: Long, foundPairs: Long, clusteredPairs: Long, truePairs: Long,
    cappedDocs: Long, cappedDocsClustered: Long, cappedPairsFound: Long)

/** One measured call: its wall, process/machine counters, Spark totals, and
  * the checked outputs. */
final case class PassOut(
    tag: String, wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
    stealS: Double, iowaitS: Double, peakHeapMb: Double, totals: Totals,
    digest: (Long, BigInt), metrics: Map[String, Long], quality: Quality)

/** A traced layer span; `parent` is the span that caused it. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The passes the benchmark runs against one session and one written corpus. */
final class Passes(spark: SparkSession, listener: LayerListener, wl: Workload,
                   corpusDir: String, work: String, val cfg: DedupConfig) {
  import spark.implicits._

  private val sc = spark.sparkContext
  val outDir = s"$work/out"
  val storeDir = s"$work/store"
  val spans = mutable.ArrayBuffer.empty[Span]

  private def pages: DataFrame = spark.read.parquet(corpusDir)

  /** Runs `body` as one pass keyed `tag`, then checks its routed output. */
  private def measured(tag: String)(body: => Map[String, Long]): PassOut = {
    System.gc() // every pass starts from the same heap, outside its timing
    listener.window = tag
    Env.PeakHeap.peak.set(0L)
    Env.PeakHeap.recording = true
    val s0 = Env.sample()
    val metrics = try body finally {
      Env.PeakHeap.recording = false
      listener.window = "idle"
    }
    val s1 = Env.sample()
    val totals = listener.take(tag)
    PassOut(tag, (s1.nanos - s0.nanos) / 1e9, (s1.cpuNs - s0.cpuNs) / 1e9,
      (s1.gcMs - s0.gcMs) / 1e3, (s1.jitMs - s0.jitMs) / 1e3,
      (s1.steal - s0.steal) / 100.0, (s1.iowait - s0.iowait) / 100.0,
      Env.PeakHeap.peak.get / 1048576.0, totals, routedDigest(), metrics, quality())
  }

  private def metricMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The flagship: `DedupPipeline.run` and the routed write, as a user runs them. */
  def flagship(tag: String): PassOut = measured(tag) {
    val res = DedupPipeline.run(pages, cfg)
    DedupOutputs.writeRouted(res, outDir)
    val m = metricMap(res.metrics)
    res.cleanup()
    m
  }

  private def span[T](name: String, parent: String)(body: => T): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val s = System.nanoTime()
    try body finally {
      spans += Span(name, parent, s, System.nanoTime())
      sc.clearJobGroup()
    }
  }

  /** The flagship op chain rebuilt from the layers' public functions, each
    * layer forced by an action at its `Caches.truncate` boundary inside its
    * own span. Returns the same metric names `DedupPipeline.run` reports. */
  def traced(): PassOut = measured("traced_pass") {
    val p = "traced_pass"
    val (sigsAll, sigsAllRaw, gateRejects) = span("signatures", p) {
      val (raw, rejects) = DedupPipeline.signatures(pages, cfg)
      val s = Caches.truncate(raw.select("doc_id", "text", "minhash", "simhash", "reject_reason"))
      s.count()
      (s, raw, rejects)
    }
    val sigs = sigsAll.where($"minhash".isNotNull)
    val sigCols = sigs.select("doc_id", "minhash", "simhash")
    val (pairs, overflow) = span("lsh_candidates", p) {
      val (pr, o) = Lsh.candidatePairs(sigCols, cfg)
      val t = Caches.truncate(pr)
      t.count()
      (t, o.head())
    }
    val (scored, candidates, verifiedN) = span("lsh_verify", p) {
      val s = Caches.truncate(Lsh.verifyPairs(pairs, sigCols, cfg))
      val r = s.agg(F.count(F.lit(1)),
        F.coalesce(F.sum(F.when($"verified", 1L).otherwise(0L)), F.lit(0L))).head()
      (s, r.getLong(0), r.getLong(1))
    }
    val (substr, substrN) = span("substring", p) {
      val s = Caches.truncate(
        SubstringDedup.substringEdges(sigs.select($"doc_id", $"text"), cfg).select($"a", $"b"))
      (s, s.count())
    }
    val assign = span("cc", p) {
      val a = ConnectedComponents.run(scored.where($"verified").select($"a", $"b").union(substr))
      a.count()
      a
    }
    val nearMisses = scored.where(!$"verified")
    val (flags, tags) = span("winner", p) {
      val f = Caches.truncate(DedupPipeline.winnerFlags(sigs, assign, cfg))
      val t = Caches.truncate(DedupPipeline.nearMissTags(nearMisses))
      f.count()
      t.count()
      (f, t)
    }
    span("emission", p) {
      val admittedWide = sigsAllRaw.where($"reject_reason".isNull)
        .drop("minhash", "simhash", "reject_reason")
      val noContent = admittedWide.join(
        sigsAll.where($"reject_reason".isNull && $"minhash".isNull).select("doc_id"),
        Seq("doc_id"), "left_semi").withColumn("reject_reason", F.lit("no_content"))
      val rejects = gateRejects.unionByName(noContent, allowMissingColumns = true)
      val flagged = Caches.truncate(admittedWide.join(flags.hint("shuffle_hash"), "doc_id")
        .join(tags.hint("shuffle_hash"), Seq("doc_id"), "left"))
      val st = flagged.agg(
        F.coalesce(F.sum(F.when($"is_duplicate", 1L).otherwise(0L)), F.lit(0L)),
        F.countDistinct(F.when($"is_duplicate", $"cluster_id"))).head()
      val m = Map(
        "candidate_pairs" -> candidates, "verified_pairs" -> verifiedN,
        "substring_pairs" -> substrN, "clusters_multi" -> st.getLong(1),
        "duplicates_removed" -> st.getLong(0),
        "lsh_overflow_buckets" -> overflow.getLong(0), "lsh_overflow_rows" -> overflow.getLong(1))
      val result = DedupResult(flagged,
        flagged.where($"is_canonical").drop("is_canonical", "is_duplicate", "cluster_id"),
        flagged.where($"is_duplicate").drop("is_canonical", "is_duplicate"),
        flagged.select($"url", $"doc_id", $"cluster_id", $"is_canonical"),
        nearMisses, rejects, m.toSeq.toDF("metric", "value"))
      DedupOutputs.writeRouted(result, outDir)
      result.cleanup()
      m
    }
  }

  /** `ResumableDedupPipeline.run` into a fresh store (`fresh`), or against
    * the store a previous call committed: every stage then reloads. */
  def durable(fresh: Boolean): PassOut = {
    val name = if (fresh) "stage_store" else "resume"
    if (fresh) Passes.rmRf(Paths.get(storeDir))
    measured(name) {
      span(name, "durable_pass") {
        val res = ResumableDedupPipeline.run(pages, cfg, new StageStore(spark, storeDir))
        DedupOutputs.writeRouted(res, outDir)
        val m = metricMap(res.metrics)
        res.cleanup()
        m
      }
    }
  }

  /** Order-independent digest of the routed output rows. */
  private def routedDigest(): (Long, BigInt) = {
    val r = spark.read.parquet(s"$outDir/pages_routed")
      .select(F.xxhash64($"url", $"text", $"lang", $"route", $"reject_reason")
        .cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
  }

  /** Pairs placed in one cluster vs the planted pairs, from the written
    * clusters table. Pairs of capped pages are outside the recall base. */
  private def quality(): Quality = {
    val clusterOf = spark.read.parquet(s"$outDir/clusters").select("url", "cluster_id")
      .collect().map(r => Workload.idOfUrl(r.getString(0)) -> r.getLong(1))
    def pairs(groups: Iterable[Int]): Long = groups.map(c => c.toLong * (c - 1) / 2).sum
    def rootOf(id: Long) = { val r = wl.root(id); if (r < 0) id else r }
    val base = (0L until wl.n).filter(id => wl.root(id) >= 0 && !wl.capped(id))
    val planted = pairs(base.groupBy(wl.root).values.map(_.size))
    val cluster = clusterOf.toMap
    val found = pairs(base.filter(cluster.contains)
      .groupBy(id => (wl.root(id), cluster(id))).values.map(_.size))
    val clustered = pairs(clusterOf.groupBy(_._2).values.map(_.length))
    val truePairs = pairs(clusterOf.groupBy { case (id, c) => (c, rootOf(id)) }.values.map(_.length))
    val capped = (0L until wl.n).filter(wl.capped)
    val cappedIn = capped.filter(cluster.contains)
    Quality(
      if (planted == 0) 1.0 else found.toDouble / planted,
      if (clustered == 0) 1.0 else truePairs.toDouble / clustered,
      planted, found, clustered, truePairs, capped.size.toLong, cappedIn.size.toLong,
      pairs(cappedIn.groupBy(cluster).values.map(_.size)))
  }
}

object Passes {
  def rmRf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }
}
