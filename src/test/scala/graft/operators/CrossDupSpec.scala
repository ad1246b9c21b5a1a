package graft.operators

import graft.{DedupConfig, SparkSuite}
import graft.functions.Fns
import org.apache.spark.sql.functions._

/** `Lsh.crossDupPairs` / `crossSuppressedEstimate` — cross-corpus near-dup
  * decontamination (the fuzzy complement of the q40 n-gram overlap op).
  * Contract: hits == the brute-force exact-Jaccard cross pairs at the
  * configured threshold (banding is recall-complete at this scale — the
  * q03 evidence), corpus-internal and reference-internal dups never
  * appear, and the hot-key cap drops loudly via the suppressed estimate.
  */
class CrossDupSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = DedupConfig.test

  private def words(seed: Long, n: Int): Array[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.fill(n)("w" + rnd.nextInt(5000))
  }

  /** Corpus (ids >= 100) + reference (ids < 100) with planted structure:
    *  - ref 1 ~ corpus 101 (one word of 40 changed — Jaccard ~0.92)
    *  - ref 2 == corpus 102 (identical)
    *  - corpus 103 ~ corpus 104 (internal near-dup pair, must NOT hit)
    *  - ref 3 ~ ref 4 (reference-internal, must NOT hit)
    *  - everything else independent random text (no accidental dups at
    *    5000-word vocab and 40-word docs). */
  private def fixture(): (Seq[(Long, String)], Seq[(Long, String)]) = {
    def t(seed: Long) = words(seed, 40).mkString(" ")
    def mutate(s: String) = {
      val w = s.split(" "); w(17) = "CHANGED"; w.mkString(" ")
    }
    val refBase = t(1L)
    val identical = t(2L)
    val refs = Seq(1L -> refBase, 2L -> identical, 3L -> t(3L),
      4L -> mutate(t(3L))) ++ (5L to 9L).map(i => i -> t(i))
    val corpus = Seq(101L -> mutate(refBase), 102L -> identical,
      103L -> t(103L), 104L -> mutate(t(103L))) ++
      (105L to 129L).map(i => i -> t(i))
    (corpus, refs)
  }

  /** Brute exact-Jaccard cross pairs — the oracle (crossJoin is fine at
    * 34 docs; the operator itself must never crossJoin). */
  private def brute(corpus: Seq[(Long, String)], refs: Seq[(Long, String)]) = {
    val c = Lsh.shingled(corpus.toDF("doc_id", "text"), cfg)
      .select(col("doc_id"), col("shingles").as("sh_a"))
    val r = Lsh.shingled(refs.toDF("doc_id", "text"), cfg)
      .select(col("doc_id").as("ref_id"), col("shingles").as("sh_b"))
    c.crossJoin(r)
      .withColumn("jaccard", Fns.jaccardSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.jaccardThreshold)
      .select("doc_id", "ref_id")
      .as[(Long, Long)].collect().toSet
  }

  test("hits == brute exact-Jaccard cross pairs; internal dups never hit") {
    val (corpus, refs) = fixture()
    val hits = Lsh.crossDupPairs(
        corpus.toDF("doc_id", "text"), refs.toDF("doc_id", "text"), cfg)
      .select("doc_id", "ref_id").as[(Long, Long)].collect().toSet
    val expected = brute(corpus, refs)
    assert(expected.contains((101L, 1L)), "fixture sanity: planted near-dup")
    assert(expected.contains((102L, 2L)), "fixture sanity: planted identical")
    assert(hits === expected, s"extra=${hits -- expected} missing=${expected -- hits}")
    // cross-output never contains corpus-internal or ref-internal pairs
    assert(hits.forall { case (d, r) => d >= 100L && r < 100L })
  }

  test("verified jaccard values are the exact sorted-intersection ratio") {
    val (corpus, refs) = fixture()
    val j = Lsh.crossDupPairs(
        corpus.toDF("doc_id", "text"), refs.toDF("doc_id", "text"), cfg)
      .where(col("doc_id") === 102L && col("ref_id") === 2L)
      .select("jaccard").as[Double].collect()
    assert(j.toSeq === Seq(1.0), "identical docs verify at exactly 1.0")
  }

  test("hot-key cap drops loudly: suppressed estimate > 0, hits empty") {
    // 30 corpus copies + 2 ref copies of ONE text: every band key's corpus
    // bucket has 30 members, so maxBucket=10 excludes them all
    val boiler = words(42L, 40).mkString(" ")
    val corpus = (100L to 129L).map(i => (i, boiler))
    val refs = Seq((1L, boiler), (2L, boiler))
    val cdf = corpus.toDF("doc_id", "text")
    val rdf = refs.toDF("doc_id", "text")
    assert(Lsh.crossDupPairs(cdf, rdf, cfg, maxBucket = 10).count() === 0L)
    val est = Lsh.crossSuppressedEstimate(cdf, rdf, cfg, maxBucket = 10)
      .as[(Long, Long)].collect().head
    assert(est._1 > 0L, "hot keys counted")
    // each hot key suppresses corpus-bucket × ref-bucket = 30 × 2 pairs
    assert(est._2 === est._1 * 60L, s"suppressed estimate $est")
    // with the default cap the same fixture verifies all 60 cross pairs
    assert(Lsh.crossDupPairs(cdf, rdf, cfg).count() === 60L)
  }
}
