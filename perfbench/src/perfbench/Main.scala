package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.dedup.DedupConfig

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Set-up is repeated [[SetupReps]] times (the first from JVM start): session
  * start, corpus generated from the seed and written, one warmup pass. Then
  * closed-loop flagship passes run one at a time for `--seconds`. With
  * `--trace 1` a traced pass and the durable pair (staged write, resume)
  * follow. Every pass is gated on its outputs. The last stdout line is the
  * result object; the line before it is the raw record of every sample. */
object Main {
  val SetupReps = 2
  /** Per-layer spans, in the order the traced passes run them. */
  val Layers = Seq("signatures", "lsh_candidates", "lsh_verify", "substring", "cc",
    "winner", "emission", "stage_store", "resume")
  /** Metric-table entries the traced chain must reproduce exactly. */
  val ParityKeys = Seq("candidate_pairs", "verified_pairs", "substring_pairs",
    "clusters_multi", "duplicates_removed", "lsh_overflow_rows")
  /** The subset `ResumableDedupPipeline.run` reports. */
  val DurableParityKeys = Seq("candidate_pairs", "verified_pairs", "substring_pairs",
    "duplicates_removed")
  /** Holds every class one pass generates (Spark's default, 100, does not,
    * so each pass would recompile and re-JIT its generated code). */
  val CodegenCacheEntries = 4000
  /** Rows of the different-seed digest comparison. */
  val SelfTestRows = 1000L
  val MinRecall = 0.99
  val MinPrecision = 0.99
  /** Traced layer spans must cover at least this share of the traced pass. */
  val MinSpanCoverage = 0.95

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private def progress(what: String): Unit = System.err.println(f"perfbench $sinceJvmStart%7.2f s: $what")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = s"${opt("work")}/${wl.name}"
    val code = try run(wl, seed, seconds, trace, cores, work) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
                  cores: Int, work: String): Int = {
    Passes.rmRf(Paths.get(work))
    Files.createDirectories(Paths.get(work))
    val cfg = DedupConfig(allowedLangs = Some(Set("en")))
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Boolean = { if (!ok) failures += what; ok }
    val loadAtStart = Env.loadAvg()
    Env.PeakHeap.install()

    // generator self-test, before any engine call. The same-seed half is the
    // written corpus's digest (an independent Spark-side generation) matched
    // against this driver-side one after each set-up.
    val digest = Workload.digest(wl, seed)
    check(Workload.digest(wl, seed + 1, SelfTestRows) != Workload.digest(wl, seed, SelfTestRows),
      "another seed gave the same corpus digest")
    for ((what, holds) <- wl.plantedChecks(seed, DedupConfig())) check(holds, s"planted: $what")
    val selfTestS = sinceJvmStart

    // set-up, repeated; each repetition ends with one warmup pass
    val corpusDir = s"$work/corpus"
    var spark: SparkSession = null
    var listener: LayerListener = null
    var passes: Passes = null
    val setups = mutable.ArrayBuffer.empty[Double]
    val warmups = mutable.ArrayBuffer.empty[PassOut]
    for (rep <- 1 to SetupReps) {
      val t0 = if (rep == 1) jvmStartMs * 1000000L else System.currentTimeMillis() * 1000000L
      if (spark != null) spark.stop()
      spark = session(cores, work)
      listener = new LayerListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      Workload.frame(spark, wl, seed).write.mode("overwrite").parquet(corpusDir)
      passes = new Passes(spark, listener, wl, corpusDir, work, cfg)
      progress(s"set-up $rep: corpus written")
      warmups += passes.flagship(s"warmup-$rep")
      progress(s"set-up $rep: warmup pass checked")
      setups += (System.currentTimeMillis() * 1000000L - t0) / 1e9
      if (rep == 1) {
        val input = spark.read.parquet(corpusDir)
        check(input.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"),
          s"engine input columns ${input.columns.mkString(",")}")
        check(Workload.frameDigest(input) == digest, "written corpus differs from the generator")
      }
    }

    // timed closed loop: one pass at a time, for `seconds`
    val deadline = if (trace) 95.0 else 140.0
    val timed = mutable.ArrayBuffer.empty[PassOut]
    var attempted = 0
    var failed = 0
    val loopStart = System.nanoTime()
    def gate(p: PassOut, reference: Option[PassOut]): Boolean = {
      val q = p.quality
      val okDigest = reference.forall(r => check(r.digest == p.digest,
        s"${p.tag}: routed digest differs from ${r.tag}"))
      val okRecall = check(q.recall >= MinRecall, s"${p.tag}: dup_pair_recall ${q.recall}")
      val okPrecision = check(q.precision >= MinPrecision, s"${p.tag}: dup_pair_precision ${q.precision}")
      val okCapped = check(q.cappedDocsClustered == q.cappedDocs,
        s"${p.tag}: ${q.cappedDocsClustered} of ${q.cappedDocs} capped-family pages admitted")
      val overflow = p.metrics.get("lsh_overflow_rows")
      val okOverflow = overflow.forall(o => check(o == wl.expectedOverflowRows(cfg),
        s"${p.tag}: lsh_overflow_rows $o, planted ${wl.expectedOverflowRows(cfg)}"))
      okDigest && okRecall && okPrecision && okCapped && okOverflow
    }
    warmups.foreach(w => gate(w, warmups.headOption))
    while (attempted == 0 ||
        ((System.nanoTime() - loopStart) / 1e9 < seconds && sinceJvmStart < deadline)) {
      attempted += 1
      try {
        val p = passes.flagship(s"pass-$attempted")
        progress(s"pass-$attempted checked")
        if (gate(p, warmups.headOption)) timed += p else failed += 1
      } catch { case e: Exception => failed += 1; failures += s"pass-$attempted threw $e" }
    }
    val reference = timed.headOption.orElse(warmups.headOption)

    // traced pass and the durable pair
    val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val traceRecord = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val out = mutable.LinkedHashMap.empty[String, PassOut]
      var emissionMb, storeMb = 0.0
      for ((tag, call) <- Seq[(String, () => PassOut)](
          "traced_pass" -> (() => passes.traced()),
          "stage_store" -> (() => passes.durable(fresh = true)),
          "resume" -> (() => passes.durable(fresh = false)))) {
        attempted += 1
        try {
          val p = call()
          if (tag == "traced_pass") emissionMb = Passes.dirMb(s"${passes.outDir}/pages_routed")
          if (tag == "stage_store") storeMb = Passes.dirMb(passes.storeDir)
          out(tag) = p
          if (!gate(p, reference)) failed += 1
        } catch { case e: Exception => failed += 1; failures += s"$tag threw $e" }
      }
      for (ref <- reference; t <- out.get("traced_pass")) ParityKeys.foreach { k =>
        check(t.metrics.get(k) == ref.metrics.get(k),
          s"parity $k: traced ${t.metrics.get(k)} vs DedupPipeline.run ${ref.metrics.get(k)}")
      }
      for (ref <- reference; tag <- Seq("stage_store", "resume"); d <- out.get(tag))
        DurableParityKeys.foreach { k =>
          check(d.metrics.get(k) == ref.metrics.get(k),
            s"parity $k: ResumableDedupPipeline.run ($tag) ${d.metrics.get(k)} vs DedupPipeline.run ${ref.metrics.get(k)}")
        }
      val spans = passes.spans.toSeq
      for (t <- out.get("traced_pass")) {
        val covered = spans.filter(_.parent == "traced_pass").map(_.wallS).sum / t.wallS
        traceRecord("span_coverage") = covered
        check(covered >= MinSpanCoverage, f"layer spans cover $covered%.3f of the traced pass")
      }
      val untracedWall = median(timed.map(_.wallS).toSeq)
      for (layer <- Layers) {
        val span = spans.find(_.name == layer)
        val tot = out.get(layer).map(_.totals).getOrElse(listener.take(layer))
        val wall = span.map(_.wallS).getOrElse(0.0)
        val busy = tot.busyMs / 1e3
        def put(suffix: String, v: Double, unit: String) = layerMetrics(s"$layer.$suffix") = (v, unit)
        put("wall_s", wall, "s")
        put("jobs", tot.jobs.toDouble, "count")
        put("tasks", tot.tasks.toDouble, "count")
        put("busy_core_s", busy, "s")
        put("idle_core_frac", if (wall > 0) 1.0 - busy / (wall * cores) else 0.0, "frac")
        put("gc_s", tot.gcMs / 1e3, "s")
        put("shuffle_write_mb", tot.shuffleWrite / 1048576.0, "MB")
        put("shuffle_read_mb", tot.shuffleRead / 1048576.0, "MB")
        put("spill_mb", tot.spill / 1048576.0, "MB")
        put("task_skew", tot.taskSkew, "ratio")
        put("max_task_read_rows", tot.maxTaskReadRows.toDouble, "rows")
        put("failed_tasks", tot.failedTasks.toDouble, "count")
      }
      val t = out.get("traced_pass")
      val tm = t.map(_.metrics).getOrElse(Map.empty)
      val signed = reference.flatMap(_.metrics.get("docs_admitted")).getOrElse(0L)
      val cand = tm.getOrElse("candidate_pairs", 0L)
      layerMetrics("lsh_candidates.pairs") = (cand.toDouble, "pairs")
      layerMetrics("lsh_candidates.overflow_rows") = (tm.getOrElse("lsh_overflow_rows", 0L).toDouble, "rows")
      layerMetrics("lsh_verify.verified_frac") =
        (if (cand > 0) tm.getOrElse("verified_pairs", 0L).toDouble / cand else 0.0, "frac")
      layerMetrics("substring.pairs") = (tm.getOrElse("substring_pairs", 0L).toDouble, "pairs")
      layerMetrics("emission.output_mb") = (emissionMb, "MB")
      layerMetrics("stage_store.output_mb") = (storeMb, "MB")
      layerMetrics("trace.overhead_frac") =
        (t.map(x => if (untracedWall > 0) x.wallS / untracedWall - 1.0 else 0.0).getOrElse(0.0), "frac")
      traceRecord ++= Seq(
        "bases" -> Map(
          "lsh_candidates.pairs" -> s"$signed signed docs",
          "lsh_candidates.overflow_rows" -> s"${signed * cfg.bands} band rows (signed docs x ${cfg.bands} bands)",
          "lsh_verify.verified_frac" -> s"$cand candidate pairs",
          "substring.pairs" -> s"$signed signed docs",
          "trace.overhead_frac" -> s"median untraced wall_s $untracedWall"),
        "passes" -> out.values.map(passRecord).toSeq,
        "spans" -> spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.createDirectories(Paths.get(s"$work/../traces"))
      Files.writeString(Paths.get(s"$work/../traces/${wl.name}-seed$seed.json"),
        Json.write(traceRecord.toMap))
    }
    progress("passes done")
    spark.stop()
    progress("session stopped")

    // end-to-end numbers: untraced timed passes only
    val wall = median(timed.map(_.wallS).toSeq)
    val kdocs = wl.n / 1000.0
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setups.toSeq), "s"),
      "wall_s" -> (wall, "s"),
      "docs_per_s" -> (if (wall > 0) wl.n / wall else 0.0, "docs/s"),
      "cpu_s_per_kdoc" -> (median(timed.map(_.cpuS / kdocs).toSeq), "s/kdoc"),
      "peak_heap_mb" -> ((timed.map(_.peakHeapMb) :+ 0.0).max, "MB"),
      "shuffle_mb" -> (median(timed.map(_.totals.shuffleWrite / 1048576.0).toSeq), "MB"),
      "dup_pair_recall" -> (median(timed.map(_.quality.recall).toSeq), "frac"),
      "dup_pair_precision" -> (median(timed.map(_.quality.precision).toSeq), "frac"))

    val raw = Map(
      "workload" -> wl.name, "seed" -> seed, "docs" -> wl.n, "trace" -> trace,
      "corpus_digest" -> s"${digest._1}:${digest._2}",
      "env" -> Map(
        "load_avg_at_start" -> loadAtStart,
        "master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> math.max(cores, 8),
        "spark.sql.adaptive.enabled" -> true,
        "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries,
        "setup_reps" -> SetupReps,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "self_test_done_s" -> selfTestS,
      "setup_s" -> setups.toSeq,
      "warmup" -> warmups.map(passRecord).toSeq,
      "timed" -> timed.map(passRecord).toSeq,
      "end_to_end" -> endToEnd.map { case (k, (v, _)) => k -> v }.toMap,
      "failures" -> failures.toSeq)
    println("raw " + Json.write(raw))
    val metrics = (if (trace) layerMetrics else endToEnd).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    println(Json.write(mutable.LinkedHashMap[String, Any](
      "correct" -> (failures.isEmpty && failed == 0 && timed.nonEmpty),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
    0
  }

  private def passRecord(p: PassOut): Map[String, Any] = Map(
    "tag" -> p.tag, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS,
    "jit_s" -> p.jitS, "steal_s" -> p.stealS, "iowait_s" -> p.iowaitS,
    "peak_heap_mb" -> p.peakHeapMb, "jobs" -> p.totals.jobs, "tasks" -> p.totals.tasks,
    "busy_core_s" -> p.totals.busyMs / 1e3, "shuffle_write_mb" -> p.totals.shuffleWrite / 1048576.0,
    "spill_mb" -> p.totals.spill / 1048576.0, "digest" -> s"${p.digest._1}:${p.digest._2}",
    "recall" -> p.quality.recall, "precision" -> p.quality.precision,
    "planted_pairs" -> p.quality.plantedPairs, "found_pairs" -> p.quality.foundPairs,
    "clustered_pairs" -> p.quality.clusteredPairs,
    "capped_docs" -> p.quality.cappedDocs, "capped_pairs_found" -> p.quality.cappedPairsFound,
    "metrics" -> p.metrics)
}

/** Minimal JSON writer for the result line and the raw record. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => write(other.toString)
  }
}
