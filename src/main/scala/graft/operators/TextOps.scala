package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Training-data text operations over the `documents`/`pages` shape:
 * exact deduplication, token counting, quality scoring, language-ID
 * (builder brief: first-class components alongside SURVEY.md §2).
 *
 * All of these are pure builtin-column compositions (codegen'd, no UDFs),
 * and every formula is replicated 1:1 in the DuckDB oracles — integer
 * counts and exact integer-division doubles only, so values are
 * bit-identical across engines.
 */
object TextOps {

  /** Non-empty whitespace tokens of a text column. */
  def tokens(text: Column): Column = filter(split(text, " "), w => length(w) > lit(0))

  /** E2 — normalize-for-shingling ([Lee22] §3 preprocessing): lowercase +
    * digit folding (all runs of digits become '0'), pure builtins so it
    * rides whole-stage codegen and is 1:1 replicable in the oracle. */
  def normalizeForShingling(text: Column, foldDigits: Boolean = true): Column = {
    val lowered = lower(text)
    if (foldDigits) regexp_replace(lowered, "[0-9]+", "0") else lowered
  }

  /** Exact dedup survivors: one representative (min doc_id) per distinct
    * text. Grouping key is xxhash64(text) so the shuffle moves 8-byte keys,
    * not full documents (at 100 TB the text column never shuffles); the
    * 2^-64 collision risk is the standard exact-dedup trade. */
  def exactDedupSurvivors(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** D4 — incremental exact dedup against a prior corpus with a Bloom
    * pre-filter (the RefinedWeb-style increment check): new docs whose
    * text does not appear verbatim anywhere in `oldDocs`, original
    * columns preserved. Dups WITHIN the increment are kept — run
    * `exactDedupSurvivors` over the increment separately (pinned
    * semantics: this operator answers "new vs corpus", not "new vs new").
    *
    * 100 TB shape: the old corpus is scanned, never shuffled. Scan 1
    * builds a Bloom filter over xxhash64(text) (Spark's distributed
    * sketch merge; size it with `expectedOldItems` — at 10^10 docs / 1%
    * fpp the filter is ~12 GB, rebuilt per call). The broadcast probe
    * then splits the increment MAP-SIDE: misses are
    * definitely-new (no join at all — the common case for a mostly-novel
    * increment); hits (true dups + fpp false alarms) vet against the old
    * corpus on the 128-bit md5 identity (the q35 discipline — 64-bit
    * identities DELETE content at corpus scale). The vet is count-gated:
    * small hit sets broadcast both directions (scan 2 of old stays
    * map-side); a degenerate mostly-dup increment falls back to a
    * shuffled anti-join restricted to the hit rows.
    *
    * Exactness: the Bloom filter only ever sends EXTRA rows to the vet
    * (no false negatives), and the vet decides on the 128-bit identity —
    * survivors are exactly the brute anti-join's (spec-asserted). */
  def incrementalExactDedup(newDocs: DataFrame, oldDocs: DataFrame,
                            expectedOldItems: Long = 0L, fpp: Double = 0.01,
                            broadcastMaxHits: Long = 10L * 1000 * 1000)
      : DataFrame = {
    val spark = newDocs.sparkSession
    val outCols = newDocs.columns.toSeq.map(col)
    // graft-prefixed working columns so a caller's own k64/k128 survives
    val (k64c, k128c, mightC) = ("__graft_k64", "__graft_k128", "__graft_might_dup")
    val oldK64 = oldDocs.select(xxhash64(col("text")).as(k64c))
    // Sizing discipline (r7, ADVICE): the old corpus is the 100 TB side —
    // touch it as few times as possible. Sized callers (expectedOldItems
    // > 0, the documented production contract) pay ONE full scan (the
    // sketch build) plus a take(1)-cheap emptiness probe (an empty prior
    // corpus can't dedup anything — and Spark's sketch aggregate over
    // zero rows yields a filter with a null bit buffer). Unsized callers
    // pay TWO full scans (count + sketch), with the count doubling as the
    // emptiness probe — the third pass the old isEmpty-then-count shape
    // paid is gone either way.
    val n =
      if (expectedOldItems > 0L) { if (oldK64.isEmpty) return newDocs; expectedOldItems }
      else {
        val c = oldK64.count()
        if (c == 0L) return newDocs
        c
      }
    val bc = spark.sparkContext.broadcast(oldK64.stat.bloomFilter(k64c, n, fpp))
    val keyed = newDocs
      .withColumn(k64c, xxhash64(col("text")))
      .withColumn(k128c, md5(col("text")))
    // broadcast Bloom probe — per-partition shared sketch state, so
    // mapPartitions rather than a (banned) UDF; Row-encoded to stay
    // schema-generic
    val probedSchema = keyed.schema.add(mightC, "boolean")
    val k64Idx = keyed.schema.fieldIndex(k64c)
    val probed = keyed.mapPartitions { it =>
      val bf = bc.value
      it.map(r => org.apache.spark.sql.Row.fromSeq(
        r.toSeq :+ Boolean.box(bf.mightContainLong(r.getLong(k64Idx)))))
    }(org.apache.spark.sql.Encoders.row(probedSchema))
      // one pass over the increment feeds the gate count + both branches;
      // the blocks live until session end (the facade-checkpoint lifetime
      // contract) — callers looping over many increments should run each
      // through its own session/stage boundary, as DedupMain's day loop does
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val definiteNew = probed.where(!col(mightC))
    val hits = probed.where(col(mightC))
    val nHits = hits.count()
    val vetted =
      if (nHits == 0L) hits
      else if (nHits <= broadcastMaxHits) {
        // old side stays map-side: semi vs the broadcast hit keys, then
        // the (<= hit-set-sized) matched keys broadcast back for the anti
        val matched = oldDocs.select(md5(col("text")).as(k128c))
          .join(broadcast(hits.select(k128c).distinct()), Seq(k128c), "left_semi")
          .distinct()
        hits.join(broadcast(matched), Seq(k128c), "left_anti")
      } else {
        hits.join(oldDocs.select(md5(col("text")).as(k128c)),
                  Seq(k128c), "left_anti")
      }
    definiteNew.select(outCols: _*).unionByName(vetted.select(outCols: _*))
  }

  /** Corpus-level exact-dup census: one row. */
  def exactDupStats(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum("n").as("n_docs"),
        count(lit(1)).as("n_unique_texts"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_redundant_docs"))

  /** A6 — per-group quantile sketch over a numeric column (doc-length
    * distributions per lang/source are the curation dashboard's backbone).
    * `percentile_approx` is Spark's one-pass MERGEABLE Greenwald–Khanna
    * sketch: map-side partial aggregation, no window, no per-group value
    * buffer — the 100 TB shape (an exact per-group percentile needs the
    * group's values in one place; the sketch trades that for a rank-error
    * bound of n/accuracy, spec-asserted). Returned quantiles are always
    * MEMBERS of the input (no interpolation), and for groups with ≤
    * `accuracy` rows the sketch holds everything so the result is EXACT —
    * the regime q46's DuckDB oracle checks; the compressed regime is
    * covered by the error-bound spec. */
  def lengthQuantiles(docs: DataFrame, groupCol: String, valueCol: String,
                      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
                      accuracy: Int = 10000): DataFrame = {
    val qs = percentile_approx(col(valueCol),
      array(ps.map(lit): _*), lit(accuracy))
    val base = docs.groupBy(groupCol).agg(
      count(lit(1)).as("n_docs"),
      min(col(valueCol)).as("v_min"),
      max(col(valueCol)).as("v_max"),
      qs.as("qv"))
    ps.zipWithIndex.foldLeft(base) { case (df, (p, i)) =>
      df.withColumn(s"p${math.round(p * 100)}", col("qv").getItem(i))
    }.drop("qv")
  }

  /** BPE-ish tokenizer regex (brief: "whitespace + a BPE-ish regex"):
    * letter runs, digit runs, and single non-alphanumeric marks — the
    * coarse shape of byte-pair pretokenization. RE2/Java-regex-portable
    * so the oracle replicates it verbatim. */
  val bpeIshPattern = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"

  /** Per-doc token statistics (token counting op). */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
        .cast("long").as("n_bpeish_tokens"),
      length(col("text")).cast("long").as("n_chars_text"))
  }

  /** Stoplist used by quality scoring — pinned, part of the op contract. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-doc quality features: counts plus exact ratios (null when the doc
    * has no tokens — ANSI-safe, mirrored in the oracle with CASE WHEN). */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq"),
      size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stop"),
      aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("long").as("sum_token_chars"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"), col("sum_token_chars"),
        when(col("n_tokens") > 0, col("n_uniq") / col("n_tokens")).as("uniq_ratio"),
        when(col("n_tokens") > 0, col("n_stop") / col("n_tokens")).as("stop_ratio"),
        when(col("n_tokens") > 0, col("sum_token_chars") / col("n_tokens")).as("avg_token_len"))
  }

  /** Marker profiles for the n-gram/stopword language-ID heuristic.
    * Deterministic scoring; insertion order is the tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "que", "y", "es"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est"),
    "zh" -> Seq("的", "是", "了", "我", "不", "在"))

  /** Language-ID: per-doc marker-token counts, argmax with fixed priority
    * order on ties ("und" = unknown when every score is zero). */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = docs.select(
      (col("doc_id") +: col("lang").as("lang") +:
        langMarkers.map { case (l, ms) =>
          val arr = array(ms.map(lit): _*)
          size(filter(toks, t => array_contains(arr, t))).cast("long").as(s"s_$l")
        }): _*)
    val langs = langMarkers.map(_._1)
    val best = langs.foldRight(lit("und")) { (l, els) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(col(s"s_$l") > 0 && isMax, lit(l)).otherwise(els)
    }
    scored.withColumn("predicted", best)
  }

  /** Language-ID confusion rollup: (lang, predicted, n_docs). */
  def langIdRollup(docs: DataFrame): DataFrame =
    langId(docs).groupBy("lang", "predicted").agg(count(lit(1)).as("n_docs"))

  /** Hex threshold for `deterministicSample`: keep a row iff the first 8
    * hex chars of md5(key) sort below this string. 8 lowercase hex chars
    * compare lexicographically == numerically (fixed width, '0'-'9' <
    * 'a'-'f'), so the bound is round(frac · 2^32) rendered as %08x; frac
    * ≥ 1 uses "g" (above every hex digit) to keep everything. */
  private[graft] def sampleHexThreshold(frac: Double): String = {
    require(frac >= 0.0, s"sample fraction must be >= 0, got $frac")
    val t = math.round(frac * (1L << 32))
    if (t >= (1L << 32)) "g" else f"$t%08x"
  }

  /** Deterministic, engine-portable sampling — the reproducible-subset op
    * a training pipeline needs (same rows selected on any cluster, any
    * partitioning, any engine): keep iff substr(md5(key), 1, 8) <
    * threshold(frac). md5 of the decimal-rendered key is bit-identical
    * across Spark and the DuckDB oracle (unlike xxhash64, whose seed is
    * engine-private), selection is per-row with no shuffle, and the kept
    * fraction concentrates around `frac` (binomial over 2^32 buckets). */
  /** The one keep-predicate both samplers share — a single definition of
    * the key rendering keeps the nested-subsets contract between them. */
  private def sampleKeep(keyCol: String, threshold: Column): Column =
    substring(md5(col(keyCol).cast("string")), 1, 8) < threshold

  def deterministicSample(docs: DataFrame, frac: Double,
                          keyCol: String = "doc_id"): DataFrame =
    docs.where(sampleKeep(keyCol, lit(sampleHexThreshold(frac))))

  /** Stratified variant: per-class fraction by `classCol` (a literal
    * when-chain — codegen'd, no join), `default` for unlisted classes.
    * The class rebalancing op (downsample dominant languages/sources). */
  def stratifiedSample(docs: DataFrame, classCol: String,
                       fracs: Seq[(String, Double)], default: Double,
                       keyCol: String = "doc_id"): DataFrame = {
    val thr = fracs.foldRight(lit(sampleHexThreshold(default))) {
      case ((cls, f), els) =>
        when(col(classCol) === cls, lit(sampleHexThreshold(f))).otherwise(els)
    }
    docs.where(sampleKeep(keyCol, thr))
  }

  /** PII patterns for the pre-training scrub pass — pinned, RE2-safe (no
    * lookaround/backrefs) so the DuckDB oracle replicates them verbatim.
    * Redaction order is part of the contract (email → phone → IP: dotted
    * phones would otherwise partially match the IP pattern). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact PII spans with typed placeholders (global, leftmost-first —
    * identical semantics in Spark and RE2). Pure builtins, codegen'd. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  /** Per-doc PII census + redacted text — the audit table a scrub stage
    * emits (counts BEFORE redaction, from the same pinned patterns). */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(ipPattern), lit(0)))
        .cast("long").as("n_ips"),
      redactPii(col("text")).as("text_redacted"))

  /** URL canonicalization — the web-pipeline re-crawl rule: two fetches of
    * the "same page" must collide on one key before latest-crawl-wins
    * dedup. Pinned, order-sensitive normalization (each step 1:1
    * replicable in the DuckDB oracle — RE2-safe patterns, no lookaround):
    *   1. drop the fragment (`#...`);
    *   2. lowercase scheme + authority (path/query case preserved);
    *   3. drop default ports (`http://h:80`, `https://h:443`);
    *   4. drop tracking params (`utm_*`, `fbclid`, `gclid`) and empty
    *      params from the query, preserving the rest in order; a query
    *      left empty drops its `?`;
    *   5. strip ALL trailing slashes from the path (all, not one —
    *      `/a//` → `/a` in one pass, which makes the map IDEMPOTENT:
    *      canon∘canon = canon, spec-asserted; a one-slash rule converges
    *      only after as many passes as there are trailing slashes).
    * Deliberately NOT normalized (pinned contract — each of these changes
    * meaning or needs scheme knowledge a key function shouldn't assume):
    * userinfo is kept (its case IS lowered with the authority); percent-
    * encoding is untouched (no decode, no hex-case fold — `%2F` ≠ `%2f`
    * here); path dot-segments (`/a/../b`) are not resolved; query-param
    * ORDER is preserved (sorting would collide `?a=1&b=2` pages that
    * servers may treat as distinct); `www.` is not stripped.
    * Pure builtins (regex + split/filter/array_join) — whole-stage
    * codegen, no UDF. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val head = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(head), noFrag.substr(length(head) + 1, lit(1 << 30)))
    // host part is [^/?#]+ (':' allowed): userinfo carries a ':' of its
    // own (user:pw@host:80), and excluding ':' made the default-port drop
    // silently skip every userinfo-bearing URL; anchoring on the trailing
    // `:80` + end-of-authority keeps :8080 etc. untouched
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/?#]+):80([/?].*)?$", "$1$2"),
      "^(https://[^/?#]+):443([/?].*)?$", "$1$2")
    val qpos = instr(noPort, "?")
    val base = regexp_replace(substring_index(noPort, "?", 1), "/+$", "")
    val qstr = when(qpos > 0, noPort.substr(qpos + 1, lit(1 << 30)))
    val keptParams = filter(split(qstr, "&"),
      p => !p.rlike("^(utm_[^=]*|fbclid|gclid)=") && p =!= "")
    val q2 = array_join(keptParams, "&")
    when(qstr.isNull || q2 === "", base).otherwise(concat(base, lit("?"), q2))
  }

  /** Host part of a URL: authority minus userinfo and port. Pinned
    * RE2-safe pattern (no backrefs/lookaround) so the DuckDB oracle runs
    * the IDENTICAL regex; returns "" for non-URL strings (grouped as the
    * empty host rather than dropped — loud). */
  val urlHostPattern = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"

  /** TX12 — per-domain curation census: the table a web pipeline builds
    * BEFORE sampling decides which hosts to keep, cap, or up-weight
    * (domain mix curation — the [Penedo23]-style per-host accounting).
    * Per host (lowercased, userinfo/port stripped): doc count, distinct
    * text count (128-bit md5 identity — never the texts themselves),
    * exact-dup surplus, and total text bytes.
    *
    * Scale: one groupBy with map-side partial aggregation; the distinct
    * count plans as Spark's two-phase distinct aggregate whose shuffle key
    * includes the md5, so a hot host (a single domain can be 1%+ of the
    * web) spreads across reducers instead of hot-keying one. Texts shuffle
    * only as 16-byte digests. */
  def domainStats(docs: DataFrame, url: Column, text: Column): DataFrame =
    docs.select(lower(regexp_extract(url, urlHostPattern, 1)).as("host"),
                text.as("t"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("t"))).as("n_unique_texts"),
           sum(octet_length(col("t")).cast("long")).as("total_bytes"))
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_unique_texts"))

  /** Cross-corpus repeated-segment removal — the CCNet/C4-style line- or
    * paragraph-level dedup a web-text training pipeline runs AFTER
    * document-level dedup: every segment (line, paragraph — `sep` is the
    * caller's delimiter regex) that repeats anywhere in the corpus keeps
    * exactly its globally-FIRST occurrence (min (doc_id, position)) and is
    * dropped everywhere else, including later repeats inside the winning
    * doc itself. Returns (doc_id, text) with surviving segments rejoined
    * by `joinWith` in original order; docs that lose every segment come
    * back with "" (the caller's quality filter drops them).
    *
    * EMPTY segments (consecutive/leading/trailing separators — blank
    * lines under a line separator) are STRUCTURE, not content: they are
    * kept in place in every doc and never enter the dedup groupBy (which
    * would otherwise strip blank-line structure from every doc in the
    * corpus but the globally-first one). Mirrored 1:1 in the q35 oracle.
    *
    * Scale shape: segments shuffle as 8-byte xxhash64 keys (the exact-
    * dedup trade — text never shuffles into the winner groupBy); the
    * winner per hash is one partial-aggregating min(struct(doc_id, pos))
    * groupBy, no per-segment window (a boilerplate line occurring 10^9
    * times is a single reduce key, and the keep-join against the one-row-
    * per-hash winner table is AQE-skew-splittable); the per-doc rebuild
    * groups on doc_id, bounded by document size. */
  def removeRepeatedSegments(docs: DataFrame, sep: String,
                             joinWith: String): DataFrame = {
    val segs = docs.select(col("doc_id"),
      posexplode(split(col("text"), sep)).as(Seq("pos", "seg")))
    // Identity = a 128-bit double hash (two independent xxhash64 streams
    // via a domain-separation prefix): at 10^10 corpus segments a single
    // 64-bit key has O(1) birthday collisions, and a collision here
    // DELETES distinct content (the loser segment vanishes from its doc)
    // rather than merely over-merging a dup group. The winner carries the
    // segment inside the min-struct ((doc_id, pos) is unique, so seg
    // never decides the min) — the kept set IS the winner set, no keep-
    // join back against the occurrences; map-side partial aggregation
    // collapses each partition's repeats before the shuffle, so shuffle
    // volume tracks distinct segments per partition, not occurrences.
    val winners = segs.where(length(col("seg")) > 0)
      .groupBy(xxhash64(col("seg")).as("h1"),
               xxhash64(concat(lit("seg-id-2:"), col("seg"))).as("h2"))
      .agg(min(struct(col("doc_id"), col("pos"), col("seg"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"),
              col("w.seg").as("seg"))
    // empty segments re-enter positionally, outside the dedup
    val kept = winners.unionByName(
      segs.where(length(col("seg")) === 0).select("doc_id", "pos", "seg"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")),
        joinWith).as("text"))
    docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** Gopher-style within-document repetition signals ([Rae21] §A1.1's
    * repetition filters, the standard pre-training quality gate CCNet/
    * RefinedWeb also run): per doc, over OVERLAPPING word `n`-grams —
    * total grams, distinct grams, the most-common gram's occurrence
    * count, and the two derived fractions the filters threshold on:
    * `top_gram_frac` (occurrences of the most common n-gram / total) and
    * `dup_gram_frac` ((total − distinct) / total). `passes` applies the
    * pinned thresholds (top ≤ 0.2, dup ≤ 0.6 — [Rae21]'s 2-gram band);
    * docs with no grams (< n tokens) pass vacuously, fractions null.
    *
    * Scale shape: pure per-row builtins — NO shuffle anywhere. The mode
    * is computed with one `aggregate` pass over the SORTED gram array
    * (run-length of equal adjacent elements), so it stays inside
    * whole-stage codegen; all fractions are exact integer/integer double
    * divisions, replicated 1:1 in the DuckDB oracle (bit-identical). */
  def repetitionSignals(docs: DataFrame, n: Int = 2,
                        maxTopFrac: Double = 0.2,
                        maxDupFrac: Double = 0.6): DataFrame = {
    // ONE fused expression pass (NgramStats: tokenize → hash gram spans →
    // sort → run-scan) replaces the transform/array_join/array_sort/
    // aggregate builtin chain — higher-order functions evaluate their
    // lambdas interpreted per element and materialized every gram string
    // (r7: 11.3 → ~0.2 s CPU at sf0.1; same counts, gram identity via the
    // 64-bit hash — the pinned corpus-wide exact-dedup trade). A null
    // text keeps the pre-r7 semantics: zero grams, vacuous pass.
    val st = coalesce(
      graft.functions.Fns.ngramStats(col("text"), n),
      struct(lit(0L).as("n_grams"), lit(0L).as("n_distinct_grams"),
             lit(0L).as("top_gram_count")))
    docs.select(col("doc_id"),
        st.getField("n_grams").as("n_grams"),
        st.getField("n_distinct_grams").as("n_distinct_grams"),
        st.getField("top_gram_count").as("top_gram_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        col("top_gram_count"),
        when(col("n_grams") > 0, col("top_gram_count") / col("n_grams"))
          .as("top_gram_frac"),
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct_grams")) / col("n_grams"))
          .as("dup_gram_frac"),
        (col("n_grams") === 0 ||
          (col("top_gram_count") / col("n_grams") <= maxTopFrac &&
           (col("n_grams") - col("n_distinct_grams")) / col("n_grams") <= maxDupFrac))
          .as("passes"))
  }

  /** Benchmark decontamination: every (corpus doc, benchmark item) pair
    * sharing ≥ `minShared` distinct word `n`-grams — the table a training
    * pipeline drops or flags before training so eval data never leaks in.
    *
    * Scale shape: both sides explode to DISTINCT grams and join on the
    * gram's xxhash64 (8-byte shuffle keys, gram text never shuffles —
    * the exact-dedup trade, 2^-64 per pair); the benchmark side is tiny
    * in practice (evals are thousands of items vs 10^12 docs) so AQE
    * broadcasts it and the corpus side never shuffles at all; the
    * (doc, bench) count is a partial-aggregating groupBy.
    *
    * The gram hashes come from the ShingleHashes expression (one fused
    * byte-level pass: tokenize, hash each n-token span, sort-distinct)
    * rather than materializing gram STRINGS via transform/array_join/
    * array_distinct and hashing those — the values are IDENTICAL by the
    * expression's pinned invariant (each word-shingle hash == xxhash64 of
    * the space-joined gram string, Spark seed 42; ExpressionsSpec), and the
    * per-row cost drops by the whole intermediate string materialization
    * (measured 1.9 → 0.5 s CPU on the q40 shape, guide §4.1/§1.2 step 2). */
  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame,
                       n: Int, minShared: Long): DataFrame = {
    def grams(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(graft.functions.Fns.shingleHashes(
          col("text"), "word", n, graft.functions.Xxh.SparkDefaultSeed)).as("h"))
    grams(docs, "doc_id")
      .join(grams(benchmark, "bench_id"), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Corpus vocabulary census: token → document frequency + total count,
    * the table BPE/vocab construction and stopword derivation start from.
    * Partial-aggregating groupBy on the token (a 10^9× token is one
    * reduce key); top-k via sort+limit plans as TakeOrdered (no global
    * sort materialization). Deterministic order: count desc, token asc. */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
           count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Document fingerprinting (brief: rolling hash): the winnowed
    * content-defined rolling-hash fingerprint set per doc — the same
    * family the exact-substring index uses, exposed as a per-doc feature
    * (doc_id, fingerprints sorted asc). */
  def fingerprints(docs: DataFrame, cfg: graft.DedupConfig): DataFrame =
    ExactSubstr.gramIndex(docs, cfg)
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("gram"))).as("fingerprints"))
}
