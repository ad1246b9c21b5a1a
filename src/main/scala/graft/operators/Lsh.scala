package graft.operators

import graft.DedupConfig
import graft.functions.Fns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * LSH near-duplicate pipeline stages (SURVEY.md §2.3–§2.5):
 * shingle → MinHash/SimHash signatures → band keys → salted bucket
 * self-join → exact Jaccard/Hamming verification → family-tagged dup pairs.
 *
 * Everything is declarative DataFrame code over the custom expressions in
 * `graft.functions`, so Catalyst owns pushdown/pruning and AQE owns runtime
 * skew splitting (second line of defense after explicit salting, op B3).
 *
 * Scale notes (10^12 docs, SURVEY.md App A.4): signatures are ~1 KB/doc;
 * shingle arrays are carried only into the verification join, which is
 * restricted to candidate docs; bucket fan-out is capped by salting.
 */
object Lsh {

  /** Spread a narrow input across the pool when its scan has fewer
    * partitions than the session's parallelism (guide §2.5 input skew: a
    * single small parquet file otherwise serializes every map-side pass —
    * shingle/simhash fingerprinting, gram indexing, byte census — onto
    * ONE task; measured 0.4–0.9 s single-task stages at sf0.1). Gated on
    * the partition count, so a large input (≥ cores partitions) passes
    * through untouched — never a blanket shuffle of the corpus. Hash on
    * doc_id (deterministic under retries, guide §2.5); every downstream
    * consumer is pinned partition-invariant (the N-vs-4N invariant), so
    * outputs are identical. */
  private[graft] def spreadInput(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions >= par) docs
    else docs.repartition(par, col("doc_id"))
  }

  /** S1 — (doc_id, shingles) with shingles distinct+sorted; docs whose text
    * yields no shingle (fewer than k tokens) keep an empty array. */
  def shingled(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs.select(col("doc_id"), Fns.shingleHashes(col("text"), cfg).as("shingles"))

  /** M1 — (doc_id, minhash); empty-shingle docs carry a null signature.
    * Deliberately NO isNotNull filter here: a filter on the computed column
    * gets duplicated into the scan's DataFilters and the Filter node, which
    * evaluated the whole shingle+minhash chain 3× per row (observed in the
    * plan). Banding's posexplode emits zero rows for null signatures, so
    * null docs drop out downstream for free. */
  def signatures(shingled: DataFrame, cfg: DedupConfig): DataFrame =
    shingled
      .select(col("doc_id"), Fns.minhashSig(col("shingles"), cfg).as("minhash"))

  /** M2 — (doc_id, simhash). */
  def simhashes(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs.select(col("doc_id"), Fns.simhash64(col("text"), cfg).as("simhash"))

  /** B1 — MinHash LSH banding [MMDS ch.3]: one row per (doc, band). The
    * band INDEX is hashed into the key (xxhash64(band, r-slice)), so the
    * key alone identifies the bucket: downstream census/salt/self-join
    * operate on one 8-byte column instead of (band, key) — half the
    * shuffle key width at 10^12×32 rows. The band column stays in the
    * schema for census/debug queries; Catalyst prunes it from plans that
    * don't read it. */
  def minhashBandKeys(signatures: DataFrame, cfg: DedupConfig): DataFrame = {
    val keys = transform(
      sequence(lit(0), lit(cfg.bands - 1)),
      i => xxhash64(i, slice(col("minhash"), i * lit(cfg.rows) + lit(1), lit(cfg.rows))))
    // non-signature input columns (warc_day on the staged path) pass
    // through — banding is a per-row generator; callers prune what they
    // don't need
    val carried = signatures.columns
      .filterNot(c => c == "doc_id" || c == "minhash").map(col).toSeq
    signatures
      .select((col("doc_id") +: carried :+ posexplode(keys)): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "key"))
  }

  /** B2 — SimHash block-combination keys [Manku07 §3]. The 64-bit
    * fingerprint splits into `simhashBlocks` near-equal bit blocks; a key is
    * emitted for every combination of (blocks − hammingThreshold) blocks.
    * Pigeonhole: a pair within Hamming ≤ t differs in ≤ t blocks, so it
    * agrees on some (blocks−t)-combination and collides on that key.
    * Defaults (6 blocks, t=3) give C(6,3)=20 keys of ~32 selective bits —
    * usable at 10^12 docs, unlike 16-bit quarters.
    *
    * `carryHash`: also carry the fingerprint itself per row (+8 B on the
    * band-key shuffle) — the starred pair listing orders its chain edges by
    * fingerprint value, so bucket neighbors in chain order are the
    * Hamming-closest available (the connectivity insurance of the star
    * discipline). */
  def simhashBandKeys(simhashes: DataFrame, cfg: DedupConfig,
                      carryHash: Boolean = false): DataFrame =
    hamming64BandKeys(simhashes, "simhash", cfg.simhashBlocks, cfg.hammingThreshold,
                      carryHash)

  /** Generic Manku-style block-combination keys for ANY 64-bit fingerprint
    * column (SimHash, media pHash, …): every pair within Hamming ≤
    * `maxHamming` collides on ≥1 key (pigeonhole over `blocks` bit blocks),
    * so bucket-join + exact-Hamming verify is EXACT — never a crossJoin. */
  def hamming64BandKeys(hashes: DataFrame, hashCol: String,
                        blocks: Int, maxHamming: Int,
                        carryHash: Boolean = false): DataFrame = {
    require(blocks > maxHamming, s"need blocks($blocks) > maxHamming($maxHamming)")
    val base = 64 / blocks
    val extra = 64 % blocks // first `extra` blocks get one more bit
    val widths = Array.tabulate(blocks)(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int) =
      shiftrightunsigned(col(hashCol), offsets(i)) bitwiseAND lit((1L << widths(i)) - 1)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val entries = combos.zipWithIndex.map { case (blockIdx, ci) =>
      struct(lit(ci).as("band"),
             xxhash64((lit(ci) +: blockIdx.map(block)): _*).as("key"))
    }
    // the fingerprint (when carryHash) plus any non-signature input columns
    // (warc_day on the staged path) pass through
    val carried = (if (carryHash) Seq(col(hashCol)) else Seq.empty[org.apache.spark.sql.Column]) ++
      hashes.columns.filterNot(c => c == "doc_id" || c == hashCol).map(col)
    // Null fingerprints (null-text docs — SimHash64 is null-safe) must not
    // bucket: xxhash64 skips null inputs, so they would otherwise all
    // collide on the per-combo constant keys — a quadratic null-bucket of
    // never-verifiable candidates (and a null-pointer crash in the typed
    // in-task forest). Callers pass materialized fingerprint tables, so
    // this filter never re-evaluates a computed chain.
    hashes.where(col(hashCol).isNotNull)
      .select((Seq(col("doc_id"), explode(array(entries: _*)).as("e")) ++ carried): _*)
      .select((Seq(col("doc_id"), col("e.band").as("band"), col("e.key").as("key"))
        ++ carried): _*)
  }

  /** B3 — hot-bucket salting. Census pass finds buckets over
    * `saltMaxBucket`; their members fan out into `ceil(n/max)` salt lanes
    * (`is_hot` rows), each resolved in ONE task by `lanePairs`, so no task
    * ever sees more than ~saltMaxBucket² pair checks. Cross-lane pairs
    * inside a hot bucket are intentionally not generated in that bucket
    * (bounded recall cost — a true near-dup pair still collides in its
    * other bands); the drop is *logged, never silent*: `saltedDropEstimate`
    * quantifies it. AQE skew-join splitting remains the runtime backstop.
    *
    * The census and the salt join both scan `bandKeys`: callers pass a
    * materialized table (a checkpoint or the durable band_keys stage). */
  def saltBandKeys(bandKeys: DataFrame, cfg: DedupConfig): DataFrame = {
    if (cfg.saltMaxBucket <= 0) return bandKeys.withColumn("salt", lit(0))
    // the key encodes its band (B1/B2), so the census groups on ONE long
    val hot = bandKeys.groupBy("key").count()
      .where(col("count") > cfg.saltMaxBucket)
      .select(col("key"),
              ceil(col("count") / cfg.saltMaxBucket).cast("int").as("nsalt"))
    // Salt depends on (doc, band-encoded key) — NOT doc alone. Near-
    // identical docs share every band key, so a band-independent salt would
    // cut the hot clique into the SAME lanes in all bands and permanently
    // disconnect its cluster; per-band salting cuts differently in each
    // band, so lanes cross-link and connectivity survives with
    // P ≈ 1-(1-1/s)^bands.
    bandKeys
      .join(broadcast(hot), Seq("key"), "left")
      .withColumn("is_hot", col("nsalt").isNotNull)
      .withColumn("salt",
        when(col("nsalt").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("doc_id"), col("key")), col("nsalt")).cast("int")))
      .drop("nsalt")
  }

  /** Estimated per-band pairs not enumerated due to hot-lane forests:
    * Σ_hot C(n,2) − (n − s) (a salted bucket of n docs in s lanes emits at
    * most n−s forest edges). Written to the metrics table by the pipeline
    * runner — the cap is loud, never silent. */
  def saltedDropEstimate(bandKeys: DataFrame, cfg: DedupConfig): Long = {
    if (cfg.saltMaxBucket <= 0) return 0L
    val hot = bandKeys.groupBy("key").count()
      .where(col("count") > cfg.saltMaxBucket)
      .select(col("count").cast("double").as("n"),
              ceil(col("count") / cfg.saltMaxBucket).cast("double").as("s"))
    hot.select(
      coalesce(sum(col("n") * (col("n") - 1) / 2 - (col("n") - col("s"))), lit(0.0)))
      .head().getDouble(0).toLong
  }

  /** J1 — cold bucket self-join: equi-join on (key, salt), canonical a<b,
    * multi-band hits collapsed with a count. Every listed pair is a
    * candidate for the downstream exact verify.
    *
    * Hot lanes never come here: a web-scale boilerplate clique (10^9 docs
    * ⇒ 10^18 pairs) is un-enumerable, so `minhashListing` and the
    * `PairPlan.newVsAll` families send the census's hot rows to
    * `lanePairs` — an in-task verified forest of ≤ n−s edges per bucket —
    * and count the pairs it skips (saltedDropEstimate, `suppressed`). */
  def candidatePairs(saltedKeys: DataFrame): DataFrame = {
    // the band index is folded into the key (B1/B2), so the bucket identity
    // is (key, salt): the join shuffles two 8-byte columns, never three
    val x = saltedKeys.select(col("key"), col("salt"), col("doc_id").as("a"))
    val y = saltedKeys.select(col("key"), col("salt"), col("doc_id").as("b"))
    x.join(y, Seq("key", "salt"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("band_hits"))
  }

  /** Exact Jaccard over two distinct-sorted long arrays — the same linear
    * merge-intersect as the JaccardSorted expression (bit-identical result:
    * inter/union double division), available to in-task lane resolution. */
  private def jaccardSortedArrays(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) -1.0 else inter.toDouble / union.toDouble
  }

  /** Union-find over a lane's member positions 0 until n — the one forest
    * every in-task lane resolver runs (`laneForest`, `seedUnion`,
    * `hammingCappedPairs`): `find` with path halving; `union` links the
    * larger root under the smaller and reports whether the two sets were
    * apart. */
  private final class Forest(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def union(x: Int, y: Int): Boolean = {
      val rx = find(x); val ry = find(y)
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      rx != ry
    }
  }

  /** THE merge-emit core of `lanePairs` (the batch MinHash hot lanes and
    * both `PairPlan.newVsAll` families — one definition so the
    * verified-forest contract lives in one place): one lane's members
    * sorted by doc_id (determinism at any parallelism), union-find SEEDED
    * with the previous cluster assignment (`seedUnion`; all-None seeds =
    * all singletons, the batch case), then every pair whose components
    * still differ is exact-verified via `score`/`pass` and EMITTED on
    * merge with its score. Emitted edges are therefore ALREADY VERIFIED —
    * callers never re-verify them. Per-lane connectivity equals the
    * uncapped clique enumeration's verified subgraph by the spanning-
    * forest property (the contract JaccardForestSpec / NewVsAllSpec /
    * HammingForestSpec pin), so global clusters are IDENTICAL to uncapped
    * listing + verify. Pairs skipped because their endpoints were already
    * connected through verified (or seeded) edges are counted into
    * `suppressed` — loud, never silent. */
  private def laneForest[P](members: Array[(Long, Option[Long], P)],
                            score: (P, P) => Double,
                            pass: Double => Boolean,
                            suppressed: Option[org.apache.spark.util.LongAccumulator])
      : Iterator[(Long, Long, Double)] = {
    val sorted = members.sortBy(_._1) // determinism across row order
    val n = sorted.length
    if (n < 2) return Iterator.empty
    val forest = new Forest(n)
    seedUnion(sorted.map(_._2), forest)
    var skipped = 0L
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (forest.find(i) != forest.find(j)) {
          val s = score(sorted(i)._3, sorted(j)._3)
          if (pass(s)) {
            forest.union(i, j)
            out += ((sorted(i)._1, sorted(j)._1, s))
          }
        } else skipped += 1
        j += 1
      }
      i += 1
    }
    suppressed.foreach(_.add(skipped))
    out.iterator
  }

  /** Exact-Jaccard scorer for `laneForest`: the length-ratio prefilter
    * (J ≤ min/max sizes — a below-threshold bound means the exact check
    * could only fail; such pairs fail under the uncapped listing too, so
    * equivalence is unaffected) in front of the JaccardSorted merge
    * (bit-identical inter/union division). Returns −1 on prefilter miss,
    * which no threshold ≥ 0 passes. */
  private def jaccardScore(threshold: Double)(a: Array[Long], b: Array[Long]): Double = {
    val lo = math.min(a.length, b.length).toDouble
    val hi = math.max(a.length, b.length).toDouble
    if (lo >= threshold * hi) jaccardSortedArrays(a, b) else -1.0
  }

  /** A banded family's in-task exact check: the lane rows' payload column,
    * the pair score, and the score's pass test. */
  final case class LaneCheck[P](payload: String, score: (P, P) => Double,
                                pass: Double => Boolean)

  /** MinHash: exact Jaccard ≥ `threshold` over `shingles` (distinct-sorted),
    * behind the length-ratio prefilter; the score is the Jaccard value. */
  def jaccardCheck(threshold: Double): LaneCheck[Array[Long]] =
    LaneCheck("shingles", jaccardScore(threshold), _ >= threshold)

  /** SimHash: exact Hamming distance ≤ `maxHamming` over `simhash`; the
    * score is the distance. */
  def hammingCheck(maxHamming: Int): LaneCheck[Long] =
    LaneCheck("simhash", (a, b) => java.lang.Long.bitCount(a ^ b).toDouble,
      _ <= maxHamming)

  /** THE hot-lane operator: resolves every (key, salt) lane of `lanes` —
    * rows (key, salt, doc_id, seed, <check.payload>), ≤ ~saltMaxBucket
    * members per lane by construction — in ONE task by `laneForest`, and
    * returns the verified forest edges (a, b, score). `seed` is the
    * member's previous cluster id (`withLaneSeeds`); the batch MinHash hot
    * lanes pass null seeds (`withLaneSeeds(_, None)`), the `newVsAll`
    * families the previous assignment.
    *
    * Every edge is verified in-task: an unverified edge (e.g. a hub-star
    * spoke) that fails the exact check in every band silently disconnects
    * its member. Union over increments: every verified link that any
    * increment's lane partition exposes is either already in the global
    * clustering or gets emitted. */
  def lanePairs[P: scala.reflect.runtime.universe.TypeTag](
      lanes: DataFrame, check: LaneCheck[P],
      suppressed: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = lanes.sparkSession
    import spark.implicits._
    val LaneCheck(payload, score, pass) = check
    lanes.select(col("key"), col("salt").cast("int").as("salt"),
                 col("doc_id"), col("seed"), col(payload))
      .as[(Long, Int, Long, Option[Long], P)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        laneForest[P](it.map(r => (r._3, r._4, r._5)).toArray, score, pass, suppressed)
      }
      .toDF("a", "b", "score")
  }

  /** Split MinHash pair listing: (cold candidate listing — downstream
    * exact-verified as always, hot-lane listing (a, b, jaccard) — ALREADY
    * verified). Hot lanes run `lanePairs` with the exact-Jaccard check and
    * null seeds; each member's shingle array joins in (Exchange-free on the
    * shingle side when it is the doc_id-bucketed stage table). Cold
    * buckets keep the equi-join listing. Callers verify the first, union
    * the second, e.g. `verifyJaccard(cands, sh, cfg).unionByName(hot)`. */
  def minhashListing(saltedKeys: DataFrame, shingled: DataFrame, cfg: DedupConfig,
                     suppressed: Option[org.apache.spark.util.LongAccumulator] = None)
      : (DataFrame, DataFrame) = {
    val spark = saltedKeys.sparkSession
    import spark.implicits._
    if (!saltedKeys.columns.contains("is_hot"))
      (candidatePairs(saltedKeys),
       Seq.empty[(Long, Long, Double)].toDF("a", "b", "jaccard"))
    else
      (candidatePairs(saltedKeys.where(!col("is_hot")).drop("is_hot")),
       lanePairs(
         withLaneSeeds(saltedKeys.where(col("is_hot")).select("key", "salt", "doc_id"), None)
           .join(shingled.select("doc_id", "shingles"), "doc_id"),
         jaccardCheck(cfg.jaccardThreshold), suppressed)
         .withColumnRenamed("score", "jaccard"))
  }

  /** J1 variant with a PAIR-LISTING cap for the SimHash family (the
    * `pairListMaxClique` discipline applied to banded LSH). Buckets at or
    * below `starCap` keep the exact all-pairs candidate listing (verified
    * downstream, unchanged semantics). Buckets ABOVE the cap — boilerplate
    * cliques, the family's dominant output (measured 2.38M verified pairs
    * at 960k docs, mostly redundant for CC) — are resolved IN-TASK: the
    * bucket's members (≤ saltMaxBucket, so ≤ ~C(1000,2) popcounts — CPU
    * only, no shuffle) are exact-Hamming-verified pairwise and a
    * union-find SPANNING FOREST of the verified pairs is emitted. The
    * forest preserves the verified subgraph's connectivity exactly, so
    * global clusters are IDENTICAL to the uncapped clique enumeration —
    * unlike hub/chain starring, whose unverified star edges can fail the
    * exact check and split a cluster (observed: 240k clustered_docs
    * 139,666 → 139,310 with fingerprint-ordered chains; the forest
    * restores equality). Members are sorted by doc_id first, so the
    * emitted forest is deterministic at any parallelism (the N-vs-4N
    * invariant). Suppressed pairs (verified but redundant for
    * connectivity) are counted EXACTLY into `suppressed` — loud, never
    * silent. */
  def hammingCappedPairs(saltedKeys: DataFrame, starCap: Int, hashCol: String,
                         maxHamming: Int,
                         suppressed: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = saltedKeys.sparkSession
    import spark.implicits._
    val rows = saltedKeys
      .select(col("key"), col("salt").cast("int").as("salt"),
              col("doc_id"), col(hashCol).as("h"))
      .as[(Long, Int, Long, Long)]
    rows.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val ms = it.toArray
        if (ms.length < 2) Iterator.empty
        else {
          val sorted = ms.sortBy(_._3) // determinism across row order
          val n = sorted.length
          if (n <= starCap) {
            for { i <- (0 until n).iterator; j <- (i + 1 until n).iterator }
              yield (sorted(i)._3, sorted(j)._3)
          } else {
            // score-first: every pair is checked, so `passes` counts the
            // uncapped listing's verified pairs exactly
            val forest = new Forest(n)
            var passes = 0L
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
            var i = 0
            while (i < n) {
              var j = i + 1
              while (j < n) {
                if (java.lang.Long.bitCount(sorted(i)._4 ^ sorted(j)._4) <= maxHamming) {
                  passes += 1
                  if (forest.union(i, j)) out += ((sorted(i)._3, sorted(j)._3))
                }
                j += 1
              }
              i += 1
            }
            suppressed.foreach(_.add(passes - out.length))
            out.iterator
          }
        }
      }
      .toDF("a", "b")
      .groupBy("a", "b").agg(count(lit(1)).as("band_hits"))
  }

  /** Incremental new×all listing — the front-end of `PairPlan.newVsAll`
    * (the streaming foreachBatch bridge AND DedupMain's day append). Inputs
    * are (doc_id, key) band-key tables; the union is new ∪ old at every
    * call site (derived here with a side tag). Returns:
    *
    *  - **cold candidates** (buckets ≤ cap members): the exact
    *    new×(old∪new) candidate listing, PRE-distinct (multi-band
    *    collisions of the same pair are collapsed by the caller's
    *    distinct) — every pair involves ≥1 new doc, so no pair is ever
    *    produced twice across increments, and within one bucket no row
    *    duplicates (new↔old from the new side only; new↔new once via
    *    x < y — spec-asserted);
    *  - **hot lanes** (buckets > cap), salted with the IDENTICAL
    *    census+salt formula as the batch path (`saltBandKeys`: nsalt =
    *    ceil(count/cap), salt = pmod(xxhash64(doc_id, key), nsalt)), as
    *    (key, salt, doc_id, is_new) rows. Callers seed them
    *    (`withLaneSeeds`), join the family's verification payload and
    *    resolve each lane in-task with `lanePairs` — the batch hot lanes'
    *    verified-forest operator, incrementally.
    *
    * Loud-cap accounting into `suppressed`: the cross-lane new-involving
    * candidates a hot bucket never enumerates, ≈ (m(n−m) + C(m,2)) ·
    * (1 − 1/s) per bucket (estimate; `lanePairs` additionally counts its
    * in-task skips exactly). */
  def newVsAllListing(newKeys: DataFrame, oldKeys: DataFrame, cap: Int,
                      suppressed: Option[org.apache.spark.util.LongAccumulator] = None)
      : (DataFrame, DataFrame) = {
    // cap <= 0 means UNCAPPED — the saltMaxBucket convention everywhere
    // else (saltBandKeys, pairStarCap)
    val capped = if (cap <= 0) Int.MaxValue else cap
    val spark = newKeys.sparkSession
    import spark.implicits._
    // Restrict the old side to keys the increment TOUCHES before anything
    // else: a key with no new member yields no candidate (the cold join is
    // inner on newKeys' keys) and no resolved lane (lanes are new-touched
    // by the semi-join below), and for touched keys the semi-join keeps
    // every member row, so the census counts, salt formula and both
    // listings are output-IDENTICAL — while the census + cold-join + lane
    // shuffles now scale with the increment's keys, not the accumulated
    // corpus (pre-r5.2 the census shuffled corpus×bands rows per appended
    // day / micro-batch — the last O(corpus) shuffle on the increment
    // paths). The old side is scanned once by the semi-join; no broadcast
    // hint, so AQE broadcasts day-scale key sets at runtime and a
    // key-bucketed stored side (the persisted band_keys stage) shuffles
    // only the new side in the sort-merge case.
    val allKeys = newKeys.select(col("doc_id"), col("key"))
      .withColumn("is_new", lit(true))
      .unionByName(oldKeys.select(col("doc_id"), col("key"))
        .join(newKeys.select("key").distinct(), Seq("key"), "left_semi")
        .withColumn("is_new", lit(false)))
    val hotCounts = allKeys.groupBy("key").count().where(col("count") > capped)
      .select(col("key"),
              ceil(col("count") / capped).cast("int").as("nsalt"), col("count"))
    val hot = suppressed match {
      case Some(acc) =>
        // rides the checkpoint lineage as a task-side update — fills at
        // the caller's materializing action; localCheckpoint so re-reads
        // of the hot map don't re-add
        val withNew = hotCounts
          .join(newKeys.groupBy("key").agg(count(lit(1)).as("nnew")), Seq("key"), "left")
          .select(col("key"), col("nsalt"), col("count"),
                  coalesce(col("nnew"), lit(0L)).as("nnew"))
          .as[(Long, Int, Long, Long)]
          .mapPartitions { it =>
            it.map { case r @ (_, s, n, m) =>
              val cands = m.toDouble * (n - m) + m.toDouble * (m - 1) / 2
              acc.add(math.max(0L, (cands * (1.0 - 1.0 / math.max(1, s))).toLong))
              r
            }
          }
        withNew.toDF("key", "nsalt", "count", "nnew").select("key", "nsalt")
          .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      case None => hotCounts.select("key", "nsalt")
    }
    val coldNew = newKeys.join(broadcast(hot.select("key")), Seq("key"), "left_anti")
    val coldAll = allKeys.join(broadcast(hot.select("key")), Seq("key"), "left_anti")
    val coldCands = coldNew.select(col("key"), col("doc_id").as("x"))
      .join(coldAll.select(col("key"), col("doc_id").as("y"), col("is_new")), "key")
      // new↔old from the new side only (any orientation — ids are disjoint
      // across sides); new↔new once, via x < y
      .where((col("x") < col("y")) || (!col("is_new") && col("x") =!= col("y")))
      .select(least(col("x"), col("y")).as("a"),
              greatest(col("x"), col("y")).as("b"))
    val allLanes = allKeys.join(broadcast(hot), Seq("key"))
      .withColumn("salt",
        pmod(xxhash64(col("doc_id"), col("key")), col("nsalt")).cast("int"))
      .select("key", "salt", "doc_id", "is_new")
    // only lanes TOUCHED by this increment (≥1 new member) are resolved —
    // the payload shuffle and in-task work then scale with the increment,
    // not with the accumulated hot corpus. A drift link inside an
    // untouched lane (old pair first co-located by census growth) is
    // examined the next time that lane receives a new member.
    val touched = allLanes.where(col("is_new")).select("key", "salt").distinct()
    (coldCands, allLanes.join(touched, Seq("key", "salt"), "left_semi"))
  }

  /** Attach the previous cluster assignment (doc_id, cluster_id) as the
    * lanes' nullable `seed` column (None: all null, every member a
    * singleton) — see `seedUnion` for why this makes `lanePairs`'
    * merge-emit rule sound and no-pair-twice. */
  def withLaneSeeds(lanes: DataFrame, prevAssign: Option[DataFrame]): DataFrame =
    prevAssign match {
      case Some(pa) => lanes.join(
          pa.select(col("doc_id"), col("cluster_id").as("seed")),
          Seq("doc_id"), "left")
      case None => lanes.withColumn("seed", lit(null).cast("long"))
    }

  /** Seed the lane's union-find with the PREVIOUS cluster assignment:
    * members sharing a non-null `seed` (their prior cluster_id) start
    * connected. The prior assignment is CC over every pair emitted so far
    * (all families), so a pair already emitted is necessarily same-seed —
    * which makes the merge-emit rule below both SOUND (a merge is a
    * genuinely new link the from-scratch build would also know) and
    * NO-PAIR-TWICE (an already-emitted pair can never merge again). The
    * no-pair-twice property needs the seed to cover EVERY pair emitted so
    * far — DedupMain's day append therefore extends the clusters snapshot
    * over the done days it misses, and lists its whole pending backlog as
    * one increment (a stale seed re-emits drift links — duplicate
    * day-partition rows, harmless to CC, but an over-count for pair
    * consumers). Without it (`None` seeds throughout, e.g. the batch hot
    * lanes or a first streaming batch) every member starts a singleton and
    * the operator emits more redundant-but-verified edges. */
  private def seedUnion(seeds: Array[Option[Long]], forest: Forest): Unit = {
    val first = new scala.collection.mutable.HashMap[Long, Int]()
    var i = 0
    while (i < seeds.length) {
      seeds(i).foreach { s =>
        first.get(s) match {
          case Some(f) => forest.union(i, f)
          case None => first(s) = i
        }
      }
      i += 1
    }
  }

  /** SimHash pair listing with the `saltMaxBucket <= 0` guard: the in-task
    * verified forest (`hammingCappedPairs`) materializes each (key, salt)
    * group into ONE task's memory, which is bounded only because salting
    * splits every bucket to ≤ ~saltMaxBucket members — with salting
    * disabled a boilerplate mega-bucket would land unbounded on a single
    * task. In that configuration the join-based listing (AQE
    * skew-splittable) runs instead; its candidates are downstream-verified
    * as always, so the output contract is unchanged. */
  def simhashCandidatePairs(saltedKeys: DataFrame, cfg: DedupConfig,
                            suppressed: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    if (cfg.saltMaxBucket > 0)
      hammingCappedPairs(saltedKeys, ExactSubstr.pairStarCap(cfg), "simhash",
        cfg.hammingThreshold, suppressed)
    else candidatePairs(saltedKeys.drop("simhash"))

  /** Restrict a per-doc table to docs that appear in at least one candidate
    * pair — the verify joins then shuffle only candidate docs' rows instead
    * of the whole corpus (the heaviest shuffle in the pipeline when
    * candidates ≪ corpus, which is the normal web regime). The id list is
    * broadcast, so this is gated: `nCandUpperBound` (2 × candidate-pair
    * count, from an already-materialized count) must fit a broadcast;
    * beyond the cap the table passes through unrestricted — a pure,
    * output-preserving strategy switch, AQE-style. */
  def restrictToCandidateDocs(perDoc: DataFrame, cands: DataFrame,
                              nCandUpperBound: Long,
                              maxBroadcastIds: Long = 20L * 1000 * 1000): DataFrame = {
    if (nCandUpperBound > maxBroadcastIds) perDoc
    else {
      val ids = cands.select(col("a").as("doc_id"))
        .unionByName(cands.select(col("b").as("doc_id"))).distinct()
      perDoc.join(broadcast(ids), Seq("doc_id"), "left_semi")
    }
  }

  /** V1 — exact-Jaccard verification: join candidate pairs back to shingle
    * arrays (restricts shingle movement to candidate docs only) and keep
    * pairs at or above the threshold. */
  def verifyJaccard(cands: DataFrame, shingled: DataFrame, cfg: DedupConfig): DataFrame = {
    val sa = shingled.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
    cands.join(sa, "a").join(sb, "b")
      .withColumn("jaccard", Fns.jaccardSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.jaccardThreshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** V2 — exact-Hamming verification for the SimHash family. */
  def verifyHamming(cands: DataFrame, simhashes: DataFrame, cfg: DedupConfig): DataFrame = {
    val ha = simhashes.select(col("doc_id").as("a"), col("simhash").as("sh_a"))
    val hb = simhashes.select(col("doc_id").as("b"), col("simhash").as("sh_b"))
    cands.join(ha, "a").join(hb, "b")
      .withColumn("hamming", bit_count(col("sh_a") bitwiseXOR col("sh_b")).cast("int"))
      .where(col("hamming") <= cfg.hammingThreshold)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Full MinHash family: docs(doc_id, text) → verified (a, b, jaccard).
    *
    * Reuse discipline: `shingled` feeds the signature chain AND both sides
    * of the verify join; candidate pairs feed the verify join once — each
    * is materialized once via LAZY localCheckpoint instead of recomputed
    * per consumer. Everything stays lazy: no action happens here, so when
    * several families union into one job their stages overlap across the
    * executor pool (an eager count here measurably serialized the families
    * at 240k docs). The count-gated broadcast semi-restriction of the
    * verify join lives in `PairPlan` (its union-count barrier yields the
    * counts); at 10^12 docs the reuse comes from DedupMain's durable stage
    * materialization rather than executor block cache. */
  def minhashDupPairs(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val sh = shingled(spreadInput(docs), cfg).localCheckpoint(false, ser)
    val bk = minhashBandKeys(signatures(sh, cfg), cfg).localCheckpoint(false, ser)
    // Count-gated hot path selection (r7, the restrictToCandidateDocs
    // discipline): materialize the band keys + census ONCE and branch on
    // whether any bucket is actually hot (never, with salting off). No hot
    // buckets — the normal small/medium regime — means the salt join, the
    // (empty) hot-lane forest subplan, the union and the final
    // dropDuplicates are all provably no-ops: the cold candidate listing
    // is already distinct on (a, b) and every pair flows through the
    // verify join. Output is identical in both branches. (The facade keeps
    // its fully-lazy listing so the three families' stages overlap — this
    // gate is the standalone family's, where the census materialization
    // is the first action anyway.)
    val anyHot = cfg.saltMaxBucket > 0 &&
      !bk.groupBy("key").count().where(col("count") > cfg.saltMaxBucket).isEmpty
    if (!anyHot) verifyJaccard(candidatePairs(bk.withColumn("salt", lit(0))), sh, cfg)
    else {
      // candidates are consumed exactly once (the verify join) — caching
      // them would be pure block-manager pressure. Hot lanes come back
      // already exact-verified (in-task forest); a pair that is both a cold
      // candidate in one band and a hot-lane edge in another dedupes here.
      val (cands, hotVerified) = minhashListing(saltBandKeys(bk, cfg), sh, cfg)
      verifyJaccard(cands, sh, cfg).unionByName(hotVerified).dropDuplicates("a", "b")
    }
  }

  /** Full SimHash family: docs(doc_id, text) → verified (a, b, hamming).
    * Pair listing runs the `hammingCappedPairs` discipline at the
    * pairListMaxClique cap: C(6,3)=20 keys per doc make boilerplate
    * cliques the family's heaviest output by far, and the in-task
    * verified forest bounds it linearly per bucket with clusters
    * provably identical to the uncapped listing. */
  def simhashDupPairs(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val sims = simhashes(spreadInput(docs), cfg).localCheckpoint(false, ser)
    // the salt census and join both scan the key table: materialize it once
    val bk = simhashBandKeys(sims, cfg, carryHash = true).localCheckpoint(false, ser)
    verifyHamming(simhashCandidatePairs(saltBandKeys(bk, cfg), cfg), sims, cfg)
  }

  /** Cross-corpus near-duplicate hits: corpus docs whose exact Jaccard
    * against ANY `reference` doc is ≥ cfg.jaccardThreshold, discovered via
    * the banded MinHash keys (the same 1−(1−J^r)^b recall bound as the
    * self-join family) and EXACTLY verified. Output: (doc_id, ref_id,
    * jaccard), one row per qualifying cross pair.
    *
    * This is benchmark decontamination by NEAR-duplicate — the fuzzy
    * complement of `TextOps.contaminatedDocs`' exact n-gram overlap: a
    * lightly-edited copy of an eval-set doc shares few exact 5-grams but
    * keeps Jaccard high, and must still be dropped before training.
    *
    * 100 TB shape: the reference (benchmark) side is small, so it drives
    * everything broadcast-side and THE CORPUS NEVER SHUFFLES —
    *  - corpus band keys are semi-restricted map-side against the
    *    broadcast distinct reference keys (almost all corpus rows die
    *    here, before any exchange);
    *  - the hot-key census runs over that collided remnant only (the
    *    full-corpus census the self-join family needs is unnecessary:
    *    a corpus-hot key matters only if the reference also has it);
    *  - keys with > `maxBucket` corpus members are EXCLUDED from
    *    candidate generation — the B3 loud-drop discipline
    *    (`crossSuppressedEstimate` quantifies the drop; a true near-dup
    *    still collides on its other b−1 bands);
    *  - the verify join probes corpus shingles restricted to candidate
    *    ids (AQE broadcasts the id list) against the broadcast reference
    *    shingles.
    *
    * Block lifetime (ADVICE_r6): the internal localCheckpoints live until
    * the session's ContextCleaner collects them (periodic GC cadence) —
    * a decontamination loop calling this per increment should run each
    * call through its own stage boundary (materialize + let the facade
    * lifecycle release), as DedupMain's day path does for its stages.
    */
  def crossDupPairs(corpus: DataFrame, reference: DataFrame, cfg: DedupConfig,
                    maxBucket: Int = 100 * 1000): DataFrame = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // shingles feed the key chain AND the verify payload — one pass each
    val cSh = shingled(spreadInput(corpus), cfg).localCheckpoint(false, ser)
    val rSh = shingled(reference, cfg).localCheckpoint(false, ser)
    val rKeys = minhashBandKeys(signatures(rSh, cfg), cfg)
      .select(col("doc_id").as("ref_id"), col("key"))
      .localCheckpoint(false, ser) // consumed by the semi AND the key join
    val collided = minhashBandKeys(signatures(cSh, cfg), cfg)
      .select("doc_id", "key")
      .join(broadcast(rKeys.select("key").distinct()), Seq("key"), "left_semi")
    val hot = collided.groupBy("key").count()
      .where(col("count") > maxBucket).select("key")
    val cands = collided.join(broadcast(hot), Seq("key"), "left_anti")
      .join(broadcast(rKeys), "key")
      .select("doc_id", "ref_id").distinct()
    val ca = cSh.join(cands.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("shingles").as("sh_a"))
    val rb = rSh.select(col("doc_id").as("ref_id"), col("shingles").as("sh_b"))
    cands.join(ca, "doc_id").join(broadcast(rb), "ref_id")
      .withColumn("jaccard", Fns.jaccardSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.jaccardThreshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
  }

  /** The loud side of `crossDupPairs`' hot-key cap: (hot keys, suppressed
    * candidate pairs) that the cap excluded — corpus-bucket × ref-bucket
    * summed over keys with > maxBucket corpus members. Zero in the normal
    * regime; a boilerplate key shared with the benchmark reports here
    * instead of disappearing. */
  def crossSuppressedEstimate(corpus: DataFrame, reference: DataFrame,
                              cfg: DedupConfig, maxBucket: Int = 100 * 1000): DataFrame = {
    val rKeyCnt = minhashBandKeys(signatures(shingled(reference, cfg), cfg), cfg)
      .groupBy("key").agg(count(lit(1)).as("rc"))
    val cCnt = minhashBandKeys(signatures(shingled(corpus, cfg), cfg), cfg)
      .select("doc_id", "key")
      .join(broadcast(rKeyCnt.select("key")), Seq("key"), "left_semi")
      .groupBy("key").count()
    cCnt.where(col("count") > maxBucket)
      .join(broadcast(rKeyCnt), "key")
      .agg(count(lit(1)).as("hot_keys"),
           coalesce(sum(col("count") * col("rc")), lit(0L)).as("suppressed_candidates"))
  }

  /** V3 — evidence accumulation [FredJain05]: union of verified pair
    * families, canonicalized and tagged. Schema: (a, b, family). */
  def dupPairs(minhash: DataFrame, simhash: DataFrame, substr: DataFrame): DataFrame = {
    def canon(df: DataFrame, fam: String) =
      df.select(least(col("a"), col("b")).as("a"),
                greatest(col("a"), col("b")).as("b"))
        .withColumn("family", lit(fam))
    canon(minhash, "minhash")
      .unionByName(canon(simhash, "simhash"))
      .unionByName(canon(substr, "substr"))
      .dropDuplicates("a", "b", "family")
  }
}
