package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.DedupConfig
import graft.functions.HashUtil.mix64
import graft.io.SyntheticCorpus

/** One input row, shaped like the engine's input contract. The planted truth
  * never travels with it: it stays on the driver in [[Workload.root]]. */
final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

/** A benchmark workload: a pure function of (seed, row id) for its pages, and
  * the planted truth the outputs are checked against. */
sealed trait Workload extends Serializable {
  def name: String
  def n: Long
  def page(seed: Long, id: Long): Page
  /** Planted lineage of a page: pages sharing a root are planted duplicates.
    * -1 marks a planted reject, which carries no truth pair. */
  def root(id: Long): Long
  /** Pages whose pairs the engine's caps drop by design; excluded from the
    * recall base and counted separately. */
  def capped(id: Long): Boolean = false
  /** The exact `lsh_overflow_rows` the planted structures must produce. */
  def expectedOverflowRows(cfg: DedupConfig): Long = 0L
  /** Properties the generator must have before any timing counts; each
    * entry is (check, holds). */
  def plantedChecks(seed: Long, cfg: DedupConfig): Seq[(String, Boolean)] = Nil
}

object Workload {
  val all: Seq[Workload] = Seq(WebCalm, WebSkewed)
  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  private val Epoch = 1704067200000L

  def url(id: Long): String = s"https://example.org/site${id % 97}/page$id"
  def idOfUrl(url: String): Long = url.substring(url.lastIndexOf("page") + 4).toLong

  def page(id: Long, text: String, lang: String = "en", htmlTag: String = ""): Page =
    Page(url(id), new Timestamp(Epoch + id * 1000L),
      ("<html><body>" + htmlTag + text + "</body></html>").getBytes("UTF-8"), text, lang)

  /** Spark-side generation: the engine reads only these five columns. */
  def frame(spark: SparkSession, wl: Workload, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(wl.n).map(id => wl.page(seed, id)).toDF()
  }

  /** Order-independent corpus digest: (rows, Σ xxhash64(url, text, lang, html)),
    * bit-identical to [[frameDigest]] over the same rows. */
  def digest(wl: Workload, seed: Long, rows: Long = Long.MaxValue): (Long, BigInt) = {
    val n = math.min(rows, wl.n)
    var sum = BigInt(0)
    var id = 0L
    while (id < n) {
      val p = wl.page(seed, id)
      var h = 42L
      h = XxHash64Function.hash(UTF8String.fromString(p.url), StringType, h)
      h = XxHash64Function.hash(UTF8String.fromString(p.text), StringType, h)
      h = XxHash64Function.hash(UTF8String.fromString(p.lang), StringType, h)
      h = XxHash64Function.hash(p.html, BinaryType, h)
      sum += h
      id += 1
    }
    (n, sum)
  }

  def frameDigest(df: DataFrame): (Long, BigInt) = {
    val r = df.select(F.xxhash64(F.col("url"), F.col("text"), F.col("lang"), F.col("html"))
        .cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
  }

  // ---- deterministic word material -------------------------------------
  private val Vocab: Array[String] = {
    val cons = Array("b", "d", "f", "g", "k", "l", "m", "n")
    val vows = Array("a", "e", "i", "o")
    for (a <- cons; x <- vows; b <- cons; y <- vows) yield a + x + b + y
  }.take(512)

  def pick(seed: Long, key: Long, slot: Long, bound: Int): Int = {
    val r = mix64(seed ^ mix64(key * 1000003L + slot))
    (((r % bound) + bound) % bound).toInt
  }

  def words(seed: Long, key: Long, count: Int): Array[String] =
    Array.tabulate(count)(w => Vocab(pick(seed, key, 100L + w, Vocab.length)))

  /** Exact Jaccard of word 9-shingle sets (the engine's default shingle). */
  def shingleJaccard(a: String, b: String, k: Int): Double = {
    def sh(t: String) = t.split(' ').sliding(k).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}

/** `web_calm`: the engine's own planted taxonomy (io.SyntheticCorpus: 70%
  * unique, 10% exact, 10% near, 5% substring, 5% reject). */
object WebCalm extends Workload {
  val name = "web_calm"
  val n = 8000L
  def page(seed: Long, id: Long): Page = {
    val p = SyntheticCorpus.pageAt(seed, id)
    Page(p.url, p.warc_ts, p.html, p.text, p.lang)
  }
  def root(id: Long): Long = SyntheticCorpus.kindOf(id) match {
    case "reject" => -1L
    case _ => val d = SyntheticCorpus.donorOf(id); if (d >= 0) d else id
  }
}

/** `web_skewed`: a small SyntheticCorpus background plus planted hot keys.
  *
  *  - an overflow family: `Family` pages with one identical text (their html
  *    differs), more than `maxBucketSize`, so every band bucket of that text
  *    overflows and its pairs are dropped by design;
  *  - a boilerplate footer on every background page with id % 20 in 0..8,
  *    more pages than `maxFingerprintPostings`, so its winnow fingerprints
  *    are hot and capped;
  *  - `NearFamilies` families of one donor and `NearMembers` one-word edits,
  *    which produce many candidate pairs;
  *  - a chain of `Chain` pages, each one more word edit away from the last,
  *    so connected components needs many star rounds.
  */
object WebSkewed extends Workload {
  val name = "web_skewed"
  val Background = 2400L
  val Family = 2100L
  val NearFamilies = 6
  val NearMembers = 30
  /** Long enough that two one-word edits keep winnow containment well above
    * `containmentThreshold`, so every member pair is a substring candidate
    * on every seed, not a seed-dependent share of them. */
  private val NearWords = 400
  val Chain = 240
  private val ChainWords = 300
  private val famStart = Background
  private val nearStart = famStart + Family
  private val chainStart = nearStart + NearFamilies * (NearMembers + 1)
  val n: Long = chainStart + Chain

  private def footered(id: Long) = id < Background && id % 20 <= 8
  /** 32 four-letter words: 159 chars, just over `minSubstringChars`, and
    * short next to a page, so the footer alone rarely makes an LSH candidate. */
  def footer(seed: Long): String = Workload.words(seed, -3L, 32).mkString(" ")
  def footerPages: Long = (0L until Background).count(footered).toLong

  def page(seed: Long, id: Long): Page =
    if (id < famStart) {
      val p = SyntheticCorpus.pageAt(seed, id)
      if (footered(id)) Workload.page(id, p.text + " " + footer(seed))
      else Page(p.url, p.warc_ts, p.html, p.text, p.lang)
    } else if (id < nearStart)
      Workload.page(id, Workload.words(seed, -1L, 300).mkString(" "), htmlTag = s"<!-- copy $id -->")
    else if (id < chainStart) {
      val f = (id - nearStart) / (NearMembers + 1)
      val j = (id - nearStart) % (NearMembers + 1)
      val ws = Workload.words(seed, -100L - f, NearWords)
      if (j > 0) ws(Workload.pick(seed, id, 1L, ws.length)) = s"zq${f}x$j"
      Workload.page(id, ws.mkString(" "))
    } else Workload.page(id, chainText(seed, (id - chainStart).toInt))

  /** Chain step i carries edits 1..i; edit s sits at word (37 s) mod 300, so
    * consecutive edits land in disjoint shingle windows. */
  private def chainText(seed: Long, i: Int): String = {
    val ws = Workload.words(seed, -7L, ChainWords)
    for (s <- 1 to i) ws((s * 37) % ChainWords) = s"zc$s"
    ws.mkString(" ")
  }

  def root(id: Long): Long =
    if (id < famStart) WebCalm.root(id)
    else if (id < nearStart) famStart
    else if (id < chainStart) nearStart + (id - nearStart) / (NearMembers + 1) * (NearMembers + 1)
    else chainStart

  override def capped(id: Long): Boolean = id >= famStart && id < nearStart

  override def expectedOverflowRows(cfg: DedupConfig): Long = cfg.bands * Family

  override def plantedChecks(seed: Long, cfg: DedupConfig): Seq[(String, Boolean)] = {
    val chain = (0 until Chain).map(chainText(seed, _))
    val adjacent = chain.sliding(2).map(p => Workload.shingleJaccard(p(0), p(1), cfg.shingleK)).min
    val ends = Workload.shingleJaccard(chain.head, chain.last, cfg.shingleK)
    Seq(
      s"overflow family $Family > maxBucketSize ${cfg.maxBucketSize}" -> (Family > cfg.maxBucketSize),
      s"footer pages $footerPages > maxFingerprintPostings ${cfg.maxFingerprintPostings}" ->
        (footerPages > cfg.maxFingerprintPostings),
      s"footer ${footer(seed).length} chars >= minSubstringChars ${cfg.minSubstringChars}" ->
        (footer(seed).length >= cfg.minSubstringChars),
      f"chain of $Chain: every link Jaccard $adjacent%.3f >= tau+0.1" -> (adjacent >= cfg.tau + 0.1),
      f"chain of $Chain: ends Jaccard $ends%.3f < tau (no shortcut edge)" -> (ends < cfg.tau))
  }
}
