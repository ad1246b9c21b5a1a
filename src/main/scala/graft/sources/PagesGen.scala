package graft.sources

import graft.DedupConfig
import graft.extract.HtmlExtract
import graft.functions.Xxh
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * SRC3 — deterministic synthetic `pages` corpus with planted duplicates and
 * construction-log ground truth (FIXTURES.md §B; stands in for the
 * reference's pair-recall fixtures, SURVEY.md §0.1.2).
 *
 * Determinism contract: every row is a pure function of (seed, id) — a
 * per-row SplittableRandom(seed ^ mix(id)), never a per-partition or
 * wall-clock source — so the same (seed, n) yields a byte-identical table
 * at ANY parallelism (the property the byte-identical-extract invariant
 * checks across cluster sizes).
 *
 * Roles by id band: 62% base, 15% MinHash near-dups (1-2 token edits),
 * 5% SimHash-only dups (half swap — bag of words preserved), 5% exact-
 * substring splices (≥ gramLen + winnowW − 1 = 149 verbatim bytes), 5%
 * hot-bucket boilerplate (near-identical docs sharing one band key — the
 * salting fixture), 8% shuffled-vocab decoys.
 *
 * Truth is *measured, not assumed*: a planted pair enters truth_pairs only
 * if its exact word-k-shingle Jaccard / SimHash Hamming actually clears the
 * config thresholds (computed with the same hash family as the pipeline).
 */
object PagesGen {

  final case class Page(url: String, warc_ts: java.sql.Timestamp,
                        html: Array[Byte], text: String, lang: String)
  final case class Doc(doc_id: Long, text: String, lang: String)
  final case class TruthPair(a: Long, b: Long, kind: String)

  private val vocab: Array[String] = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "query", "line", "sort", "window",
    "group", "join", "filter", "stream", "column", "order", "data", "small",
    "big", "the", "a", "customer", "supplier", "index", "cache", "disk",
    "memory", "shuffle", "stage", "task", "driver", "executor", "plan",
    "cost", "stats", "null", "type", "schema", "field", "record", "block",
    "page", "byte", "bit", "code", "gen", "loop", "read", "write", "sync",
    "lock", "queue", "pool", "heap", "tree", "graph", "node")

  private val langs = Array("en", "fr", "es", "zh", "de")

  private def rng(seed: Long, id: Long, stream: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed ^ (id * 0x9E3779B97F4A7C15L) ^ (stream * 0xC2B2AE3D27D4EB4FL))

  // ---- role layout ---------------------------------------------------
  private def nBase(n: Int) = math.max(1, (n * 62) / 100)
  private def nMinhash(n: Int) = (n * 15) / 100
  private def nSimhash(n: Int) = (n * 5) / 100
  private def nSubstr(n: Int) = (n * 5) / 100
  private def nHot(n: Int) = (n * 5) / 100

  sealed trait Role
  case object Base extends Role
  final case class MinhashDup(target: Long) extends Role
  final case class SimhashDup(target: Long) extends Role
  final case class SubstrDup(target: Long) extends Role
  case object Hot extends Role
  case object Decoy extends Role

  def role(n: Int, seed: Long, id: Long): Role = {
    val b = nBase(n).toLong
    val m = b + nMinhash(n)
    val s = m + nSimhash(n)
    val x = s + nSubstr(n)
    val h = x + nHot(n)
    if (id < b) Base
    else if (id < m) MinhashDup(rng(seed, id, 1).nextLong(0, b))
    else if (id < s) SimhashDup(rng(seed, id, 1).nextLong(0, b))
    else if (id < x) SubstrDup(rng(seed, id, 1).nextLong(0, b))
    else if (id < h) Hot
    else Decoy
  }

  // ---- text construction (pure functions of (seed, id)) --------------
  private def baseTokens(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, id, 0)
    Array.fill(60 + r.nextInt(61))(vocab(r.nextInt(vocab.length)))
  }

  private val hotBoilerplate: Array[String] =
    ("this site uses cookies to improve your experience accept all cookies " +
      "to continue or manage preferences in settings").split(" ")

  def tokensFor(n: Int, seed: Long, id: Long): Array[String] = role(n, seed, id) match {
    case Base | Decoy => baseTokens(seed, id)
    case Hot =>
      val r = rng(seed, id, 2)
      hotBoilerplate ++ Array.fill(2)(vocab(r.nextInt(vocab.length)))
    case MinhashDup(t) =>
      val r = rng(seed, id, 2)
      val toks = baseTokens(seed, t).clone()
      val edits = 1 + r.nextInt(2)
      (0 until edits).foreach { _ =>
        toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.length))
      }
      toks
    case SimhashDup(t) =>
      val toks = baseTokens(seed, t)
      val half = toks.length / 2
      toks.drop(half) ++ toks.take(half) // paragraph swap: bag preserved
    case SubstrDup(t) =>
      val r = rng(seed, id, 2)
      val own = baseTokens(seed, id)
      // splice a verbatim prefix of the target long enough for the
      // winnowing guarantee (>= 149 bytes, SURVEY.md App A.3)
      val splice = takeBytes(baseTokens(seed, t), 200)
      val cut = r.nextInt(own.length)
      own.take(cut) ++ splice ++ own.drop(cut)
  }

  private def takeBytes(toks: Array[String], minBytes: Int): Array[String] = {
    var bytes = -1
    var i = 0
    while (i < toks.length && bytes < minBytes) { bytes += toks(i).length + 1; i += 1 }
    toks.take(i)
  }

  def textFor(n: Int, seed: Long, id: Long): String = tokensFor(n, seed, id).mkString(" ")

  private def langFor(seed: Long, id: Long): String = {
    val r = rng(seed, id, 3)
    val x = r.nextInt(100)
    if (x < 40) "en" else langs(1 + (x - 40) / 15)
  }

  /** Minimal html wrapper so the extractor has real work (script junk,
    * entities, nested tags). */
  def htmlFor(n: Int, seed: Long, id: Long): String = {
    val body = textFor(n, seed, id)
    s"<html><head><title>doc $id</title><script>var x=1; if(x<2){x&=3;}</script>" +
      s"<style>p { color: red; }</style></head>" +
      s"<body><!-- comment --><h1>Doc &quot;$id&quot;</h1><p>$body</p>&nbsp;</body></html>"
  }

  // ---- truth (measured with the pipeline's own hash families) --------
  private def wordShingles(toks: Array[String], k: Int, seed: Long): Array[Long] = {
    if (toks.length < k) return Array.emptyLongArray
    val out = (0 to toks.length - k).map { i =>
      Xxh.hashString(toks.slice(i, i + k).mkString(" "), seed)
    }.distinct.sorted.toArray
    out
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = a.intersect(b).length
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  private def simhash(toks: Array[String], seed: Long): Long = {
    val counters = new Array[Int](64)
    toks.foreach { t =>
      val h = Xxh.hashString(t, seed)
      (0 until 64).foreach { j =>
        if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((fp, j) => if (counters(j) > 0) fp | (1L << j) else fp)
  }

  /** Measured ground-truth pairs for (n, seed) at config `cfg`. */
  def truthPairsLocal(n: Int, cfg: DedupConfig): Seq[TruthPair] = {
    val seed = cfg.seed
    (0L until n.toLong).flatMap { id =>
      val pairs = role(n, seed, id) match {
        case MinhashDup(t) => Seq((t, "minhash"))
        case SimhashDup(t) => Seq((t, "simhash"))
        case SubstrDup(t)  => Seq((t, "substr"))
        case _ => Nil
      }
      pairs.flatMap { case (t, kindHint) =>
        val ta = tokensFor(n, seed, id)
        val tb = tokensFor(n, seed, t)
        val a = math.min(id, t); val b = math.max(id, t)
        val out = scala.collection.mutable.ListBuffer.empty[TruthPair]
        if (jaccard(wordShingles(ta, cfg.k, seed), wordShingles(tb, cfg.k, seed))
            >= cfg.jaccardThreshold) out += TruthPair(a, b, "minhash")
        if (java.lang.Long.bitCount(simhash(ta, seed) ^ simhash(tb, seed))
            <= cfg.hammingThreshold) out += TruthPair(a, b, "simhash")
        if (kindHint == "substr") out += TruthPair(a, b, "substr")
        out.toSeq
      }
    }
  }

  // ---- Spark datasets -------------------------------------------------
  /** Canonical pages table: text precomputed (= E1(html)) for even ids,
    * NULL for odd ids (exercises the extract-when-null path). */
  def pages(spark: SparkSession, n: Int, cfg: DedupConfig = DedupConfig.test): Dataset[Page] = {
    import spark.implicits._
    val seed = cfg.seed
    spark.range(n.toLong).map { id =>
      val html = htmlFor(n, seed, id)
      val text = if (id % 2 == 0) HtmlExtract.extract(html) else null
      Page(s"synth://gen/$id",
        new java.sql.Timestamp(1704067200000L + id * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        text, langFor(seed, id))
    }
  }

  /** Documents-shaped view (doc_id = generator id) with text always
    * materialized — the pipeline-input fixture. */
  def docs(spark: SparkSession, n: Int, cfg: DedupConfig = DedupConfig.test): Dataset[Doc] = {
    import spark.implicits._
    val seed = cfg.seed
    spark.range(n.toLong).map(id => Doc(id, textFor(n, seed, id), langFor(seed, id)))
  }
}
