package graft.dedup

import graft.SparkSpec
import graft.io.SyntheticCorpus
import org.apache.spark.sql.{functions => F}
import graft.functions._

class LshSpec extends SparkSpec {

  private def sigsOf(n: Long) = {
    val cfg = DedupConfig()
    SyntheticCorpus.pages(spark, n)
      .where(F.length(F.trim(F.col("text"))) > 0)
      .select(F.xxhash64(F.lit(cfg.seed), F.col("url")).as("doc_id"),
        minhash(shingles(F.col("text"), cfg.shingleK, cfg.seed), cfg.numHashes, cfg.seed).as("minhash"),
        simhash(shingles(F.col("text"), cfg.shingleK, cfg.seed), cfg.seed).as("simhash"))
      .where(F.col("minhash").isNotNull)
  }

  test("salted and window hot-bucket strategies emit identical candidate pairs") {
    val sigs = sigsOf(800).cache()
    val (pw, ow) = Lsh.candidatePairsWindow(sigs, DedupConfig())
    val (ps, os) = Lsh.candidatePairsSalted(sigs, DedupConfig(hotBucketStrategy = "salted"))
    val a = pw.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = ps.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty)
    assert(ow.head().getLong(1) === os.head().getLong(1)) // same overflow rows
  }

  test("all strategies enforce the mega-bucket cap identically") {
    val sigs = sigsOf(800).cache()
    // absurdly small cap: every multi-member bucket overflows
    for (strategy <- Seq("window", "salted", "auto")) {
      val cfg = DedupConfig(maxBucketSize = 1, hotBucketStrategy = strategy)
      val (pairs, overflow) = Lsh.candidatePairs(sigs, cfg)
      assert(pairs.count() === 0, strategy)
      assert(overflow.head().getLong(1) > 0, strategy)
    }
  }

  test("auto strategy matches both forced strategies on hot and calm corpora") {
    val sigs = sigsOf(800).cache()
    def pairsOf(strategy: String, cap: Int) = Lsh.candidatePairs(sigs,
      DedupConfig(hotBucketStrategy = strategy, maxBucketSize = cap))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // calm regime (default cap) and hot regime (cap 1 → every shared
    // bucket overflows):
    // auto must be output-identical to the forced strategies in both
    for (cap <- Seq(DedupConfig().maxBucketSize, 1)) {
      val auto = pairsOf("auto", cap)
      assert(auto === pairsOf("window", cap), s"cap=$cap")
      assert(auto === pairsOf("salted", cap), s"cap=$cap")
    }
  }

  test("auto drops a planted mega-bucket, output-identical to forced strategies") {
    val spark2 = spark
    import spark2.implicits._
    // mega group: 30 docs share one signature → every band bucket holds 30
    // members = 15× the cap of 2, so auto's eligibility filter drops it;
    // pair groups: 2-member signatures sit exactly at the cap → pairs must
    // still be emitted, so auto is parity-checked against a NONEMPTY pair
    // set while the mega bucket is dropped
    val mega = (0 until 30).map(i => (100L + i, Array.fill(128)(7L)))
    val pairGroups = (0 until 5).flatMap(g => Seq(
      (200L + 2 * g, Array.fill(128)(1000L + g)),
      (201L + 2 * g, Array.fill(128)(1000L + g))))
    val sigs = (mega ++ pairGroups).toDF("doc_id", "minhash").cache()
    def run(st: String): Seq[(Long, Long)] =
      Lsh.candidatePairs(sigs,
        DedupConfig(maxBucketSize = 2, hotBucketStrategy = st))._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val auto = run("auto")
    assert(auto === (0 until 5).map(g => (200L + 2 * g, 201L + 2 * g)))
    assert(auto === run("window"))
    assert(auto === run("salted"))
    assert(!auto.exists { case (a, b) => a >= 100L && a < 130L }) // mega dropped
    // auto's lazy overflow frame reports the mega bucket at every band
    val (_, overflow) = Lsh.candidatePairs(sigs,
      DedupConfig(maxBucketSize = 2, hotBucketStrategy = "auto"))
    assert(overflow.head().getLong(0) >= 32L)
    sigs.unpersist()
  }

  test("verifyPairs stacked form matches the round-5 semi-join + two-join chain") {
    val cfg = DedupConfig()
    val sigs = sigsOf(800).cache()
    val (pairs, _) = Lsh.candidatePairs(sigs, cfg)
    val p = pairs.cache()
    // the round-5 chain, reconstructed verbatim
    val memberIds = p.select(F.col("a").as("doc_id"))
      .union(p.select(F.col("b").as("doc_id")))
    val needed = sigs.join(memberIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "minhash", "simhash")
    val sa = needed.select(F.col("doc_id").as("a"),
      F.col("minhash").as("ma"), F.col("simhash").as("sa"))
    val sb = needed.select(F.col("doc_id").as("b"),
      F.col("minhash").as("mb"), F.col("simhash").as("sb"))
    val old = p.join(sa.hint("shuffle_hash"), "a")
      .join(sb.hint("shuffle_hash"), "b")
      .withColumn("est_jaccard", estJaccard(F.col("ma"), F.col("mb")))
      .withColumn("sim_hamming", hammingDistance(F.col("sa"), F.col("sb")))
      .withColumn("verified", F.col("est_jaccard") >= cfg.tau)
      .select("a", "b", "est_jaccard", "sim_hamming", "verified")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getBoolean(4))).sorted.toSeq
    val newRows = rows(Lsh.verifyPairs(p, sigs, cfg))
    assert(newRows.nonEmpty)
    assert(newRows === rows(old))
    // a pair member absent from sigs drops the pair (inner-join semantics)
    val spark2 = spark
    import spark2.implicits._
    val firstId = p.select("a").head().getLong(0)
    val ghost = Seq((firstId, -999L)).toDF("a", "b")
    assert(Lsh.verifyPairs(ghost, sigs, cfg).count() === 0)
    p.unpersist(); sigs.unpersist()
  }

  test("star rounds and the one-task CC path agree on a random graph") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(200)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val oneTask = labels(ConnectedComponents.run(edges.toDF("u", "v")))
    val stars = labels(ConnectedComponents.runBounded(edges.toDF("u", "v"), 50, -1L))
    assert(oneTask.nonEmpty)
    assert(oneTask === stars)
  }
}
