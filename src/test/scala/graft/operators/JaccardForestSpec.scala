package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Properties of `Lsh.lanePairs` under the exact-Jaccard check with null
  * seeds — the MinHash family's batch hot-lane listing, an in-task
  * EXACT-Jaccard verified forest (the r4 verdict's
  * "what's wrong #2" fix: the hub-star spokes it replaces were UNVERIFIED,
  * and a lane member whose spoke failed exact Jaccard in every band
  * silently lost connectivity). The operator's claim is the same as
  * `hammingCappedPairs`': clusters identical to the uncapped clique
  * enumeration + verify. */
class JaccardForestSpec extends SparkSuite {
  import spark.implicits._

  private val Threshold = 0.8
  private val M = 40 // base shingle-set size

  /** Lane fixture: per lane, members share a base set of M sorted longs
    * with the first r elements replaced by member-unique values. Nested
    * prefixes ⇒ J(i, j) = (M − max(r_i, r_j)) / (M + max(r_i, r_j)):
    * r ≤ 4 pairs pass 0.8, r ≥ 5 members fail against EVERYONE —
    * "near-but-failing" lane members. The lane MINIMUM doc_id is given
    * r = 6: under r4's hub-star listing every spoke of such a lane failed
    * the downstream exact check and the genuinely-close members silently
    * disconnected — exactly the case the forest must fix. */
  private def laneFixture(lanes: Int): (Seq[(Long, Int, Long)], Seq[(Long, Array[Long])]) = {
    val keyRows = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
    val shingleRows = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
    for (lane <- 0 until lanes) {
      val base = Array.tabulate(M)(i => lane * 100000L + i * 10L)
      // doc_ids ascend with member index; member 0 (the lane hub under
      // min-doc_id hub selection) gets r=6 — a failing hub
      val rs = Seq(6, 0, 1, 2, 3, 4, 5, 2, 1)
      rs.zipWithIndex.foreach { case (r, m) =>
        val id = lane * 1000L + m
        val sh = base.clone()
        (0 until r).foreach(i => sh(i) = lane * 100000L + 7777L + m * 100L + i)
        java.util.Arrays.sort(sh)
        keyRows += ((lane.toLong, 0, id))
        shingleRows += ((id, sh))
      }
    }
    (keyRows.toSeq, shingleRows.toSeq)
  }

  /** The batch hot-lane call: null seeds, the shingle payload joined in. */
  private def forest(keys: org.apache.spark.sql.DataFrame,
                     shingles: org.apache.spark.sql.DataFrame,
                     suppressed: Option[org.apache.spark.util.LongAccumulator] = None) =
    Lsh.lanePairs(Lsh.withLaneSeeds(keys, None).join(shingles, "doc_id"),
      Lsh.jaccardCheck(Threshold), suppressed)

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = a.toSet.intersect(b.toSet).size
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Local oracle: every lane pair passing exact Jaccard ≥ Threshold. */
  private def bruteVerified(keys: Seq[(Long, Int, Long)],
                            sh: Map[Long, Array[Long]]): Set[(Long, Long, Double)] =
    (for {
      Seq(x, y) <- keys.groupBy(r => (r._1, r._2)).values.flatMap(_.toList.combinations(2))
      j = jaccard(sh(x._3), sh(y._3))
      if j >= Threshold
    } yield (math.min(x._3, y._3), math.max(x._3, y._3), j)).toSet

  private def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).map(x => x -> find(x)).toMap
  }

  test("lanes emit ONLY exact-verified edges, with the exact Jaccard value") {
    val (keys, shingles) = laneFixture(lanes = 6)
    val out = forest(keys.toDF("key", "salt", "doc_id"), shingles.toDF("doc_id", "shingles"))
      .as[(Long, Long, Double)].collect().toSet
    val verified = bruteVerified(keys, shingles.toMap)
    assert(out.nonEmpty)
    out.foreach { e =>
      assert(verified.contains(e),
        s"emitted edge $e is not exact-verified (or its jaccard differs) — " +
          "the unverified-spoke failure mode the forest exists to kill")
    }
  }

  test("failing-hub lane keeps full connectivity (≡ uncapped enumeration + verify)") {
    val (keys, shingles) = laneFixture(lanes = 6)
    val out = forest(keys.toDF("key", "salt", "doc_id"), shingles.toDF("doc_id", "shingles"))
      .as[(Long, Long, Double)].collect().toSet
    val verified = bruteVerified(keys, shingles.toMap)
    assert(components(out.map(e => (e._1, e._2))) ===
      components(verified.map(e => (e._1, e._2))),
      "forest connectivity must equal the uncapped verified clique's — " +
        "including lanes whose min-doc_id hub fails every exact check")
    // the near-but-failing members (r ≥ 5, incl. the hub) appear in NO edge
    val failing = (0 until 6).flatMap(l => Seq(l * 1000L + 0, l * 1000L + 6)).toSet
    assert(out.forall(e => !failing.contains(e._1) && !failing.contains(e._2)))
  }

  test("suppression counts skipped already-connected pairs, loudly") {
    val (keys, shingles) = laneFixture(lanes = 4)
    val acc = spark.sparkContext.longAccumulator("lane_suppressed")
    forest(keys.toDF("key", "salt", "doc_id"), shingles.toDF("doc_id", "shingles"), Some(acc))
      .count()
    // each lane has 7 mutually-verified members (r ≤ 4 plus the repeats) —
    // a spanning forest emits 6 of the 21 clique edges; the remainder is
    // skipped as already-connected and MUST be counted
    assert(acc.value > 0, "redundant verified pairs must be counted, never silent")
  }

  test("deterministic at any parallelism (the N-vs-4N invariant)") {
    val (keys, shingles) = laneFixture(lanes = 8)
    def run(parts: Int) = forest(
        keys.toDF("key", "salt", "doc_id").repartition(parts),
        shingles.toDF("doc_id", "shingles"))
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(run(3) === run(17))
  }

  test("end-to-end: salted family clusters == uncapped enumeration on a hot corpus") {
    // 25 near-identical boilerplate docs (pairwise J ≥ 0.8) + 3 distant
    // docs (J ≈ 0.3 vs everyone) — one of them the corpus-minimum doc_id,
    // so any lane it lands in has a FAILING hub. saltMaxBucket=5 makes the
    // boilerplate bucket hot in every band; saltMaxBucket=0 disables
    // salting entirely (full clique join + verify = the uncapped oracle).
    val baseTokens = (0 until 60).map(i => s"tok$i")
    val docs = (
      (0 until 3).map { m => // distant docs, ids 0..2 (corpus minimum)
        val t = baseTokens.zipWithIndex
          .map { case (w, i) => if (i < 35) s"far${m}w$i" else w }.mkString(" ")
        (m.toLong, t)
      } ++
      (0 until 25).map { m => // near-dups, ids 100..124
        val t = baseTokens.zipWithIndex
          .map { case (w, i) => if (i == (m % 7) * 8) s"near${m}" else w }.mkString(" ")
        (100L + m, t)
      }
    ).toDF("doc_id", "text")
    val salty = graft.DedupConfig.test.copy(saltMaxBucket = 5)
    val uncapped = graft.DedupConfig.test.copy(saltMaxBucket = 0)
    def comps(cfg: graft.DedupConfig): Map[Long, Long] =
      components(Lsh.minhashDupPairs(docs, cfg)
        .select("a", "b").as[(Long, Long)].collect().toSet)
    assert(comps(salty) === comps(uncapped),
      "hot-lane verified forest must reproduce the uncapped family's clusters")
  }

  test("minhashDupPairs hot-census gate: both branches == the ungated plan") {
    // r7: the standalone family materializes the band-key census and skips
    // the salt join + empty hot-lane subplan + final dropDuplicates when no
    // bucket is hot. Pin pair-level identity against the ungated reference
    // (the pre-gate plan, inlined) on BOTH branches: a hot corpus
    // (saltMaxBucket=5 → boilerplate buckets salt) and a calm one.
    def reference(docs: org.apache.spark.sql.DataFrame,
                  cfg: graft.DedupConfig): Set[(Long, Long, Double)] = {
      val sh = Lsh.shingled(docs, cfg)
        .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val keys = Lsh.saltBandKeys(
        Lsh.minhashBandKeys(Lsh.signatures(sh, cfg), cfg), cfg)
      val (cands, hotVerified) = Lsh.minhashListing(keys, sh, cfg)
      Lsh.verifyJaccard(cands, sh, cfg).unionByName(hotVerified)
        .dropDuplicates("a", "b")
        .as[(Long, Long, Double)].collect().toSet
    }
    val baseTokens = (0 until 60).map(i => s"tok$i")
    val hotDocs = (0 until 25).map { m =>
      val t = baseTokens.zipWithIndex
        .map { case (w, i) => if (i == (m % 7) * 8) s"near$m" else w }.mkString(" ")
      (100L + m, t)
    }.toDF("doc_id", "text")
    val calmDocs = (0 until 30).map { m =>
      val t = baseTokens.zipWithIndex
        .map { case (w, i) => if (i < 20) s"doc${m}w$i" else w }.mkString(" ")
      (m.toLong, t)
    }.toDF("doc_id", "text")
    val salty = graft.DedupConfig.test.copy(saltMaxBucket = 5)
    for ((docs, cfg) <- Seq((hotDocs, salty), (calmDocs, salty),
                            (calmDocs, graft.DedupConfig.test))) {
      val got = Lsh.minhashDupPairs(docs, cfg)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === reference(docs, cfg))
    }
  }
}
