package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.functions._

/** MinHash-LSH banding: signature → band buckets → candidate pairs →
  * verified near-duplicate edges.
  *
  * Re-expression of the reference's bucket algebra: band bucketing plays
  * `loc_db[location_key].append(id)` (reference/dupliganger/db.py:400-439),
  * and threshold verification plays the 1-error-tolerant whitelist match
  * inside each bucket (reference/dupliganger/dedup.py:230-269). Differences
  * forced by web text: a doc lands in `bands` buckets (not 1), so edges
  * must be de-duplicated across bands and merged by connected components
  * downstream; and mega-buckets (boilerplate pages) are a first-class skew
  * hazard, not an error path.
  *
  * Scale design (10^12 docs):
  *  - bucket sizes are counted BEFORE any member list is materialized —
  *    the count aggregation is partial-agg (map-side combine) friendly, so
  *    a boilerplate bucket with 10^8 members costs a counter per task, not
  *    a collect_list OOM. Oversized buckets never reach pair generation;
  *    their dropped volume is reported (`lsh_overflow_*` metrics).
  *  - pair generation is a bucket-key equi-join (a self-join of the
  *    bucket-exploded table), shuffled on (band, bucket); AQE handles
  *    residual skew below the cap.
  *  - verification re-joins the two signature columns by doc id instead of
  *    carrying signatures through the bucket shuffle `bands` times.
  */
object Lsh {

  /** Array of `bands` bucket keys for a minhash signature column:
    * bucket_i = xxhash64(i, minhash[i*r .. i*r+r)). Round 6: a codegen'd
    * kernel (graft.functions.BandBuckets) — the previous
    * `transform(sequence, xxhash64(slice))` chain was CodegenFallback
    * (array HOFs interpret their lambda per element) and allocated one
    * slice array per band per row on the engine's hottest explode;
    * bucket values are bit-identical (Spark's own XXH64 fold, parity
    * spec in SignatureExpressionsSpec). */
  def bandBuckets(minhashCol: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.bandBuckets(minhashCol, bands, rowsPerBand)

  /** (doc_id, bucket) — one row per band per doc. The band index is
    * already folded into the 64-bit bucket key (xxhash64(band, slice)),
    * so carrying a separate band column would only widen the explode —
    * the biggest shuffle in the pipeline — by 50%. */
  def explodeBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs
      .where(F.col("minhash").isNotNull)
      .select(F.col("doc_id"),
        F.explode(bandBuckets(F.col("minhash"), cfg.bands, cfg.rowsPerBand))
          .as("bucket"))

  /** Candidate pairs (a < b by doc_id) from band buckets, hot buckets
    * capped. Returns (pairs, overflowStats), both LAZY. Strategies
    * (output-identical, parity-tested in LshSpec):
    *
    *  - "auto" (default) — counts → eligibility join: bucket sizes from a
    *    map-side-combined count (a hot bucket costs one counter per map
    *    task), then only members of buckets with 2 ≤ n ≤ cap join back
    *    for pair generation; AQE broadcasts the small eligible set. No
    *    probe and no strategy choice — see the branch comment.
    *  - "window" — one shuffle on bucket: a window count tags every
    *    member with its bucket size, the capped groupBy reuses the
    *    window's hash partitioning. Cheapest, BUT the window sort
    *    co-locates a mega-bucket in ONE task before the cap filter.
    *  - "salted" — two-phase salted size count + eligibility join-back:
    *    no task ever holds an uncapped bucket, at the cost of an extra
    *    pass over the exploded table and the join machinery (~1.3× the
    *    candidate stage).
    *
    * `sigs` is read by both the counts pass and the member join (and the
    * overflow frame re-runs the counts when it is evaluated), so callers
    * should pass a checkpointed or cached signature frame, as
    * DedupPipeline.run does — otherwise the signature expressions are
    * evaluated once per consumer. */
  def candidatePairs(sigs: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) =
    cfg.hotBucketStrategy match {
      case "salted" => candidatePairsSalted(sigs, cfg)
      case "window" => candidatePairsWindow(sigs, cfg)
      case _ => // auto (round 6): counts → eligibility join, the universal form
        // The pre-round-6 auto ran an EAGER probe pass (groupBy counts →
        // head()) just to choose between window and salted — a driver-
        // blocking job on the serial floor of every pipeline run — and
        // then paid the chosen strategy's own full pass. This form needs
        // no choice: bucket sizes aggregate map-side-combine-safely at
        // ANY skew (a hot bucket costs one counter per map task), the
        // eligibility filter (2 ≤ n ≤ cap) excludes hot buckets BEFORE
        // the only shuffle that co-locates one, and the member join is
        // left to AQE — the eligible-bucket table is tiny on calm
        // corpora (dup buckets only), so it broadcasts at runtime and
        // the exploded table never crosses a full exchange at all; on a
        // dup-heavy corpus AQE keeps a shuffle join, which is exactly
        // the salted form's shape minus its redundant salt level (the
        // salt guarded the SIZE aggregation, but partial aggregation
        // already bounds a hot bucket's reduce-side rows to one per map
        // task). No window sort anywhere. Output pairs and overflow
        // stats are bit-identical to both forced strategies (LshSpec
        // parity, calm + planted-mega-bucket), and the overflow frame is
        // now LAZY: callers that discard it (q_minhash_lsh_dedup) never
        // pay its pass.
        val exploded = explodeBuckets(sigs, cfg)
        val counts = exploded.groupBy("bucket").count()
        val overflow = counts.where(F.col("count") > cfg.maxBucketSize)
          .agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
            F.coalesce(F.sum("count"), F.lit(0L)).as("overflow_rows"))
        val eligible = counts.where(F.col("count").between(2, cfg.maxBucketSize))
          .select("bucket")
        val members = exploded.join(eligible, Seq("bucket"))
        val buckets = members.groupBy("bucket")
          .agg(F.collect_list(F.col("doc_id")).as("ids")) // bounded by maxBucketSize
        val pairs = buckets
          .select(F.explode(F.col("ids")).as("a"), F.col("ids"))
          .select(F.col("a"), F.explode(F.col("ids")).as("b"))
          .where(F.col("a") < F.col("b"))
          .distinct()
        (pairs, overflow)
    }

  /** Salted two-phase strategy — the 10^12-doc path (north_rule: "salted
    * repartition + groupBy to tame hot-bucket skew"). Bucket sizes are
    * aggregated per (band, bucket, salt) first — a boilerplate mega-bucket
    * spreads over `saltBuckets` reducers instead of one — then rolled up,
    * so NO task ever receives all rows of a hot bucket at any point: the
    * eligibility filter (2 ≤ n ≤ cap) is joined back onto the exploded
    * rows BEFORE the only shuffle that co-locates a bucket, and by then
    * hot buckets are already excluded. The window strategy below is
    * cheaper when mega-buckets are rare (one shuffle, no join-back), but
    * its window sort would single-task a hot bucket first.
    */
  def candidatePairsSalted(sigs: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    val exploded = explodeBuckets(sigs, cfg)
    val salted = exploded.withColumn("salt",
      F.pmod(F.xxhash64(F.col("doc_id")), F.lit(cfg.saltBuckets)))
    val partial = salted.groupBy("bucket", "salt").count()
    val sizes = partial.groupBy("bucket")
      .agg(F.sum("count").as("n"))
    val overflow = sizes.where(F.col("n") > cfg.maxBucketSize)
      .agg(F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
        F.coalesce(F.sum("n"), F.lit(0L)).as("overflow_rows"))
    val eligible = sizes.where(F.col("n").between(2, cfg.maxBucketSize))
      .select("bucket")
    val members = exploded.join(eligible.hint("shuffle_hash"), Seq("bucket"))
    val buckets = members.groupBy("bucket")
      .agg(F.collect_list(F.col("doc_id")).as("ids")) // bounded by maxBucketSize
    val pairs = buckets
      .select(F.explode(F.col("ids")).as("a"), F.col("ids"))
      .select(F.col("a"), F.explode(F.col("ids")).as("b"))
      .where(F.col("a") < F.col("b"))
      .distinct()
    (pairs, overflow)
  }

  /** Single-shuffle window strategy. */
  def candidatePairsWindow(sigs: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    // overflow stats take their own narrow count-aggregate pass (partial
    // agg, counts only) — cheaper than persisting the full window output
    // just to read two numbers from it
    val overflow = explodeBuckets(sigs, cfg).groupBy("bucket").count()
      .where(F.col("count") > cfg.maxBucketSize)
      .agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
        F.coalesce(F.sum("count"), F.lit(0L)).as("overflow_rows"))
    (windowPairs(sigs, cfg), overflow)
  }

  /** The window strategy's pair generation alone (no overflow stats):
    * one shuffle on bucket — window count tags members with their bucket
    * size, the capped groupBy reuses the window's hash partitioning. */
  private def windowPairs(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = explodeBuckets(sigs, cfg)
    val counted = exploded.withColumn("n",
      F.count(F.lit(1)).over(Window.partitionBy("bucket")))
    // singleton short-circuit (reference/dupliganger/dedup.py:543-562) +
    // mega-bucket cap in one filter
    val members = counted.where(F.col("n").between(2, cfg.maxBucketSize))
    val buckets = members.groupBy("bucket")
      .agg(F.collect_list(F.col("doc_id")).as("ids")) // bounded by maxBucketSize
    buckets
      .select(F.explode(F.col("ids")).as("a"), F.col("ids"))
      .select(F.col("a"), F.explode(F.col("ids")).as("b"))
      .where(F.col("a") < F.col("b"))
      .distinct()
  }

  /** Attach signatures to pairs and score them. Output columns:
    * a, b, est_jaccard, sim_hamming, verified.
    *
    * Stacked single-join form (round 6; guide §2.4 "remove shuffles
    * outright"): each pair explodes into one row per endpoint keyed by
    * the member doc_id, ONE hash join attaches the signature payload (the
    * inner join IS the member reduction — non-member signatures drop at
    * the join), and a (a, b) aggregation pivots the two endpoints back
    * onto one scored row. The round-5 chain — member-id union, left_semi
    * reduction, then two id-keyed hash joins — cost 7 exchanges and moved
    * the signature table through a shuffle three times (once full for the
    * semi, twice reduced); this costs 3 exchanges (stack, signature
    * build, pivot) and shuffles the signature table once. The
    * npresent = 2 filter reproduces the inner-join semantics exactly: a
    * pair member absent from `sigs` drops the pair, a present member with
    * null columns scores null, bit-for-bit like the old joins
    * (parity-tested in LshSpec). Precondition (holds for every signature
    * builder in the engine): `sigs` has at most one row per doc_id — the
    * old join form would have multiplied scored rows on duplicate
    * signature rows, this form drops such pairs. Signature side stays shuffle-hash
    * hinted — sort-merge would sort a kilobyte of signature per row to
    * equality-match an 8-byte id. */
  def verifyPairs(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val stacked = pairs.select(F.col("a"), F.col("b"),
      F.explode(F.array(F.col("a"), F.col("b"))).as("doc_id"))
    // build side = the STACKED pair frame (2 narrow rows per candidate
    // pair), not the signature table: the round-6.0 form hinted the
    // signature side, building a hash table of kilobyte signature rows
    // per task while streaming the tiny pair frame past it — backwards.
    // Signature rows now stream and probe the small build table (round
    // 6; guide §3.2 "hash-join build side = the smaller input").
    val joined = stacked.hint("shuffle_hash").join(
      sigs.select("doc_id", "minhash", "simhash"),
      Seq("doc_id"))
    joined.groupBy("a", "b").agg(
        F.count(F.lit(1)).as("npresent"),
        F.first(F.when(F.col("doc_id") === F.col("a"), F.col("minhash")),
          ignoreNulls = true).as("ma"),
        F.first(F.when(F.col("doc_id") === F.col("a"), F.col("simhash")),
          ignoreNulls = true).as("sa"),
        F.first(F.when(F.col("doc_id") === F.col("b"), F.col("minhash")),
          ignoreNulls = true).as("mb"),
        F.first(F.when(F.col("doc_id") === F.col("b"), F.col("simhash")),
          ignoreNulls = true).as("sb"))
      .where(F.col("npresent") === 2)
      .withColumn("est_jaccard", estJaccard(F.col("ma"), F.col("mb")))
      .withColumn("sim_hamming", hammingDistance(F.col("sa"), F.col("sb")))
      .withColumn("verified", F.col("est_jaccard") >= cfg.tau)
      .select("a", "b", "est_jaccard", "sim_hamming", "verified")
  }
}
