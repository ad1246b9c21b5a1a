package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the cat sat on the mat", "en"),   // exact dup of 1
    (3L, "der hund und die katze", "de"),
    (4L, "", "en"),
    (5L, "la la la", "es"),
    (6L, "the cat sat on the mat", "en")    // exact dup of 1
  ).toDF("doc_id", "text", "lang")

  test("exactDedupSurvivors keeps min doc_id per distinct text") {
    val got = TextOps.exactDedupSurvivors(corpus).as[Long].collect().sorted
    assert(got === Array(1L, 3L, 4L, 5L))
  }

  test("exactDupStats census") {
    val r = TextOps.exactDupStats(corpus).head()
    assert(r.getLong(0) === 6L) // n_docs
    assert(r.getLong(1) === 4L) // unique texts
    assert(r.getLong(2) === 1L) // dup groups
    assert(r.getLong(3) === 2L) // redundant docs
  }

  test("tokenStats counts tokens, uniques, bpe-ish tokens, chars") {
    val m = TextOps.tokenStats(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m(1L) === ((6L, 5L, 6L, 22L)))  // "the cat sat on the mat": 6 letter runs
    assert(m(4L) === ((0L, 0L, 0L, 0L)))
    assert(m(5L) === ((3L, 1L, 3L, 8L)))
  }

  test("qualityFeatures exact ratios and null on empty doc") {
    val m = TextOps.qualityFeatures(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getLong(1) === 6L)                    // n_tokens
    assert(r1.getLong(3) === 2L)                    // n_stop: "the" x2
    assert(r1.getDouble(5) === 5.0 / 6.0)           // uniq_ratio
    assert(r1.getDouble(6) === 2.0 / 6.0)           // stop_ratio
    val r4 = m(4L)
    assert(r4.isNullAt(5) && r4.isNullAt(6) && r4.isNullAt(7))
  }

  test("HLL approx distinct stays within its 2% rsd bound (x5) of exact") {
    // the q31 contract: sketch values are engine-specific, but the error
    // bound is an invariant we pin here
    val docs = graft.sources.PagesGen.docs(spark, 400, graft.DedupConfig.test).toDF()
    val sh = graft.operators.Lsh.shingled(docs, graft.DedupConfig.test)
      .select(explode(col("shingles")).as("x"))
    val row = sh.agg(
      countDistinct(col("x")).as("exact"),
      approx_count_distinct(col("x"), 0.02).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(exact > 0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.10,
      s"approx=$approx exact=$exact drift over 10%")
  }

  test("langId picks marker-dominant language deterministically") {
    val got = TextOps.langId(corpus)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(got(1L) === "en")   // 'the' x2
    assert(got(3L) === "de")   // der, und, die
    assert(got(4L) === "und")  // no tokens
    assert(got(5L) === "es")   // 'la' x3 (es and fr share 'la'... es priority)
  }

  test("deterministicSample: portable, partition-invariant, concentrated, edge fracs exact") {
    val docs = (0L until 2000L).map(d => (d, s"t$d", "en")).toDF("doc_id", "text", "lang")
    assert(TextOps.deterministicSample(docs, 0.0).count() === 0L)
    assert(TextOps.deterministicSample(docs, 1.0).count() === 2000L)
    val kept = TextOps.deterministicSample(docs, 0.3)
      .select("doc_id").as[Long].collect().toSet
    // binomial(2000, 0.3): ±5 sigma ≈ ±102
    assert(math.abs(kept.size - 600) < 110, s"kept ${kept.size} of 2000 at frac 0.3")
    // identical set regardless of partitioning/order (the reproducibility contract)
    val kept2 = TextOps.deterministicSample(
        docs.orderBy(col("doc_id").desc).repartition(13), 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === kept)
    // monotone: a smaller fraction selects a SUBSET (threshold nesting)
    val kept01 = TextOps.deterministicSample(docs, 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept01.subsetOf(kept))
    // stratified: per-class thresholds apply per row
    val mixed = (0L until 1000L).map(d => (d, s"t$d", if (d % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val s = TextOps.stratifiedSample(mixed, "lang", Seq("en" -> 1.0), default = 0.0)
    assert(s.select("lang").distinct().as[String].collect().toSeq === Seq("en"))
    assert(s.count() === 500L)
  }

  test("contaminatedDocs finds n-gram overlap with a benchmark, counts distinct grams") {
    val mk = (id: Long, t: String) => (id, t)
    val d = Seq(
      mk(1L, "a b c d e f g h"),          // grams with bench: abcde, bcdef, cdefg, defgh
      mk(2L, "a b c d e x y z"),          // shares only abcde -> below minShared
      mk(3L, "one two three four"),        // < 5 tokens, no grams
      mk(4L, "p q r s t u"),               // disjoint
      mk(10L, "a b c d e f g h")           // the benchmark doc itself
    ).toDF("doc_id", "text")
    val bench = d.where(col("doc_id") === 10L)
    val got = TextOps.contaminatedDocs(d, bench, n = 5, minShared = 2L)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 and the bench doc itself share all 4 grams; doc 2 only 1
    assert(got === Set((1L, 10L, 4L), (10L, 10L, 4L)))
    // repeated grams inside a doc count once (array_distinct on both sides)
    val rep = Seq(mk(20L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val got2 = TextOps.contaminatedDocs(rep, bench, 5, 1L)
      .as[(Long, Long, Long)].collect().toSet
    // "a b c d e" appears twice in doc 20 but is one distinct gram;
    // its other grams (b c d e a, c d e a b, ...) are not in the bench
    assert(got2 === Set((20L, 10L, 1L)))
  }

  test("piiScrub counts and redacts emails, phones, IPs with pinned order") {
    // emails assembled by concatenation (a literal address in source
    // would itself be scrubbed by repo hygiene tooling)
    val at = "@"
    val d = Seq(
      (1L, s"mail bob${at}ex.com and al.ice${at}sub.ex.org ok"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "host 192.168.0.1 and 10.0.255.254"),
      // dotted phone must NOT half-match as an IP (redaction order pin)
      (4L, "x 555.123.4567 y"),
      (5L, "clean text, no pii at all"),
      (6L, s"a${at}b.co 555-000-1111 127.0.0.1")
    ).toDF("doc_id", "text")
    val got = TextOps.piiScrub(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) === ((2L, 0L, 0L, "mail <EMAIL> and <EMAIL> ok")))
    assert(got(2L) === ((0L, 2L, 0L, "call <PHONE> or <PHONE> now")))
    assert(got(3L) === ((0L, 0L, 2L, "host <IP> and <IP>")))
    assert(got(4L) === ((0L, 1L, 0L, "x <PHONE> y")))
    assert(got(5L) === ((0L, 0L, 0L, "clean text, no pii at all")))
    assert(got(6L) === ((1L, 1L, 1L, "<EMAIL> <PHONE> <IP>")))
  }

  test("canonicalizeUrl collapses the re-crawl variant classes, preserves the rest") {
    val cases = Seq(
      // fragment + mixed-case authority + default port + trailing slash + tracking
      ("HTTP://Ex.COM:80/a/b/?id=3&utm_source=x&fbclid=z#frag",
       "http://ex.com/a/b?id=3"),
      ("https://Ex.com:443/a", "https://ex.com/a"),
      // non-default port, path case, non-tracking params preserved in order
      ("http://ex.com:8080/A/B?z=1&a=2", "http://ex.com:8080/A/B?z=1&a=2"),
      // query entirely tracking → '?' dropped; empty params dropped
      ("http://ex.com/p?utm_a=1&utm_b=2", "http://ex.com/p"),
      ("http://ex.com/p?&id=1&", "http://ex.com/p?id=1"),
      // bare host, no query, no slash — untouched
      ("http://ex.com", "http://ex.com"),
      ("http://ex.com/", "http://ex.com"),
      // gclid dropped mid-query, utm_ prefix needs '='
      ("http://ex.com/p?a=1&gclid=g&b=2", "http://ex.com/p?a=1&b=2"),
      ("http://ex.com/p?utm_x", "http://ex.com/p?utm_x"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    cases.zip(got).foreach { case ((in, want), c) =>
      assert(c === want, s"canonicalizeUrl($in)")
    }
  }

  test("canonicalizeUrl is idempotent and pins what it does NOT normalize") {
    val cases = Seq(
      // multi-trailing-slash: ALL stripped in one pass (a one-slash rule
      // converges only after k passes — the idempotence bug class)
      ("http://ex.com/a//", "http://ex.com/a"),
      ("http://ex.com///", "http://ex.com"),
      // userinfo kept (case lowered with the authority, port still dropped)
      ("http://User:Pw@Ex.COM:80/p", "http://user:pw@ex.com/p"),
      // percent-encoding untouched: no decode, no hex-case fold
      ("http://ex.com/a%2Fb?x=%2f", "http://ex.com/a%2Fb?x=%2f"),
      // dot-segments not resolved; param order preserved
      ("http://ex.com/a/../b?b=2&a=1", "http://ex.com/a/../b?b=2&a=1"))
    val canon = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    cases.zip(canon).foreach { case ((in, want), c) =>
      assert(c === want, s"canonicalizeUrl($in)")
    }
    // canon ∘ canon = canon over BOTH fixture sets (the contract row)
    val all = (cases.map(_._1) ++ Seq(
      "HTTP://Ex.COM:80/a/b/?id=3&utm_source=x&fbclid=z#frag",
      "http://ex.com/p?&id=1&", "http://ex.com/p?utm_a=1")).toDF("url")
    val twice = all.select(
        TextOps.canonicalizeUrl(col("url")).as("once"),
        TextOps.canonicalizeUrl(TextOps.canonicalizeUrl(col("url"))).as("twice"))
      .as[(String, String)].collect()
    twice.foreach { case (once, again) =>
      assert(again === once, s"not idempotent: $once -> $again")
    }
  }

  test("removeRepeatedSegments: first occurrence wins, within-doc repeats drop, empty docs survive") {
    // line-granular (sep "\n") — the CCNet/C4 web shape: a boilerplate
    // footer shared by three docs survives only in doc 1 (min doc_id),
    // doc 3 repeats its own line (second copy dropped), doc 4 is ALL
    // boilerplate (comes back empty, not missing)
    val docs = Seq(
      (1L, "unique one\nshared footer\nunique two"),
      (2L, "other text\nshared footer"),
      (3L, "repeat me\nrepeat me\nmiddle\nshared footer"),
      (4L, "shared footer")
    ).toDF("doc_id", "text")
    val got = TextOps.removeRepeatedSegments(docs, "\n", "\n")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "unique one\nshared footer\nunique two",
      2L -> "other text",
      3L -> "repeat me\nmiddle",
      4L -> ""))
    // determinism across parallelism/row order: reversed input, same output
    val rev = TextOps.removeRepeatedSegments(
        docs.orderBy(col("doc_id").desc).repartition(7), "\n", "\n")
      .as[(Long, String)].collect().toMap
    assert(rev === got)
  }

  test("repetitionSignals: exact gram census, mode via sorted-run pass, pinned thresholds") {
    val d = Seq(
      (1L, "a b a b a"),                   // grams: ab,ba,ab,ba -> top 2/4, dup 2/4
      (2L, "a b c d e f g h i j k"),       // 10 distinct grams -> top 0.1, passes
      (3L, "r r r r r r r r r r"),         // 9x "r r" -> top 1.0, dup 8/9
      (4L, "solo"),                        // < n tokens: no grams, vacuous pass
      (5L, "x y z w")                      // 3 distinct grams; top 1/3 > 0.2 ->
                                           // fails (short docs are inherently
                                           // top-heavy; Gopher gates length
                                           // with a separate word-count rule)
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(d, n = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          r.getBoolean(6)))).toMap
    assert(got(1L) === ((4L, 2L, 2L, Some(2.0 / 4), Some(2.0 / 4), false)))
    assert(got(2L) === ((10L, 10L, 1L, Some(1.0 / 10), Some(0.0), true)))
    assert(got(3L) === ((9L, 1L, 9L, Some(9.0 / 9), Some(8.0 / 9), false)))
    assert(got(4L) === ((0L, 0L, 0L, None, None, true)))
    assert(got(5L) === ((3L, 3L, 1L, Some(1.0 / 3), Some(0.0), false)))
  }

  test("removeRepeatedSegments: empty segments are structure, kept in place everywhere") {
    // blank lines (consecutive separators) must NOT dedup as content —
    // that would strip blank-line structure from every doc in the corpus
    // but the globally-first one, and leave the winner a stray empty seg
    val docs = Seq(
      (1L, "para one\n\npara two"),          // blank line between paragraphs
      (2L, "other\n\nmore"),                 // blank line in a LATER doc too
      (3L, "\nleading blank"),               // leading separator
      (4L, "trailing blank\n"),              // trailing separator
      (5L, "para one\n\npara two")           // full dup of 1: loses both
                                             // paragraphs; its one surviving
                                             // empty segment joins to ""
    ).toDF("doc_id", "text")
    val got = TextOps.removeRepeatedSegments(docs, "\n", "\n")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "para one\n\npara two",
      2L -> "other\n\nmore",    // doc 2's blank survives (not deduped away)
      3L -> "\nleading blank",
      4L -> "trailing blank\n",
      5L -> ""))
  }

  test("domainStats: case-folded host minus userinfo/port, md5 dup accounting, loud empty host") {
    val at = "@" // assembled at runtime (repo hygiene rewrites @-literals)
    val docs = Seq(
      (1L, "dup text", "http://WWW.Example.COM/a"),
      (2L, "dup text", "https://www.example.com:8443/b?q=1"),    // same host, other scheme/port
      (3L, "unique text", s"http://user:pw${at}www.example.com:80/c"), // userinfo + port stripped
      (4L, "other text", "http://other.example.org/"),
      (5L, "not a url at all", "garbage-without-scheme")         // empty host, kept loudly
    ).toDF("doc_id", "text", "url")
    val got = TextOps.domainStats(docs, col("url"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === Set("www.example.com", "other.example.org", ""))
    val (n, uniq, bytes, dups) = got("www.example.com")
    assert(n === 3L && uniq === 2L && dups === 1L)
    assert(bytes === 2L * "dup text".length + "unique text".length)
    assert(got("other.example.org") === ((1L, 1L, "other text".length.toLong, 0L)))
    assert(got("") === ((1L, 1L, "not a url at all".length.toLong, 0L)))
  }

  test("incrementalExactDedup: brute-anti-join parity on both vet paths; within-increment dups kept") {
    val old = Seq((1L, "alpha text one"), (2L, "beta text two"),
                  (3L, "gamma text three")).toDF("doc_id", "text")
    val nw = Seq(
      (10L, "alpha text one"),                  // verbatim dup of old 1
      (11L, "fresh text a"), (12L, "fresh text a"), // within-increment dup: BOTH kept
      (13L, "fresh text b")).toDF("doc_id", "text")
    val brute = nw.join(old.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(brute === Array(11L, 12L, 13L))
    // broadcast-vet path (default gate)
    val got = TextOps.incrementalExactDedup(nw, old)
      .select("doc_id").as[Long].collect().sorted
    assert(got === brute)
    // shuffled-vet fallback (gate forced below the hit count)
    val got2 = TextOps.incrementalExactDedup(nw, old, broadcastMaxHits = 0L)
      .select("doc_id").as[Long].collect().sorted
    assert(got2 === brute)
    // original columns preserved, increment schema untouched
    assert(TextOps.incrementalExactDedup(nw, old).columns.toSeq === Seq("doc_id", "text"))
  }

  test("incrementalExactDedup: empty old corpus keeps everything; sized filter still exact") {
    val nw = Seq((1L, "a text"), (2L, "b text")).toDF("doc_id", "text")
    val none = nw.where(lit(false))
    assert(TextOps.incrementalExactDedup(nw, none)
      .select("doc_id").as[Long].collect().sorted === Array(1L, 2L))
    // deliberately undersized expectedOldItems (worst-case fpp): the vet
    // must still restore exactness — survivors are the brute anti-join's
    val old = Seq((100L, "a text")).toDF("doc_id", "text")
    assert(TextOps.incrementalExactDedup(nw, old, expectedOldItems = 1L, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted === Array(2L))
  }

  test("lengthQuantiles: exact nearest-rank members uncompressed; rank error <= n/accuracy compressed") {
    val n = 5000
    val rnd = new java.util.SplittableRandom(7)
    val vals = Array.fill(n)(rnd.nextInt(1000000).toLong)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toSeq.toDF("doc_id", "g", "len")
    val sorted = vals.sorted
    def rankVal(p: Double) = sorted(math.max(1, math.ceil(p * n).toInt) - 1)
    // uncompressed (n <= accuracy): exact value at rank ceil(p*n) — the
    // rule the q46 DuckDB oracle mirrors
    val exact = TextOps.lengthQuantiles(df, "g", "len").collect()(0)
    assert(exact.getAs[Long]("n_docs") === n.toLong)
    assert(exact.getAs[Long]("v_min") === sorted.head)
    assert(exact.getAs[Long]("v_max") === sorted.last)
    for ((p, c) <- Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99")))
      assert(exact.getAs[Long](c) === rankVal(p), c)
    // compressed (accuracy = 100 << n): GK bound — the returned value's
    // rank window must intersect [p*n - n/acc, p*n + n/acc], and the
    // value must be a MEMBER of the input (no interpolation)
    val approx = TextOps.lengthQuantiles(df, "g", "len", accuracy = 100).collect()(0)
    val err = n / 100
    for ((p, c) <- Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))) {
      val v = approx.getAs[Long](c)
      assert(vals.contains(v), s"$c not a member")
      val hiRank = sorted.count(_ <= v)
      val loRank = sorted.indexWhere(_ == v) + 1
      val target = p * n
      assert(loRank - err <= target && target <= hiRank + err,
        s"$c rank [$loRank,$hiRank] vs target $target +- $err")
    }
  }
}
