package graft.operators

import graft.DedupConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/**
 * THE three-family pair plan: how a verified (a, b, family) table is
 * assembled, for every caller that builds one — the `Dedup` facade,
 * `DedupMain`'s full build and day append, and the streaming bridge
 * (blocking, pair generation and verification as one pipeline). Two
 * listing front-ends feed one tail:
 *
 *  - `allVsAll` (facade, DedupMain full build): census-salted band keys →
 *    MinHash listing (cold candidates + the in-task exact-Jaccard forest
 *    over hot lanes) and the SimHash in-task verified-forest listing;
 *  - `newVsAll` (DedupMain day append, streaming): the new×all listing per
 *    family; hot lanes are seeded with the previous cluster assignment and
 *    resolved in-task against the caller's payload lookup, which also
 *    feeds the verify join (one lookup per family);
 *  - the tail: the optional substring leg on its OWN action thread, ONE
 *    union-count barrier that materializes every listing checkpoint (the
 *    families' stages overlap across the pool), count-gated
 *    candidate-restricted verify joins, the union with the pre-verified
 *    lane edges, and `Lsh.dupPairs`.
 *
 * Every phase runs under its `graft:` job label (a thread-local property;
 * phase listeners attribute wall and task time per label). The returned
 * pair plan is lazy; its consumer runs the materializing action through
 * `Plan.materialize` and releases `Plan.checkpoints` afterwards.
 */
object PairPlan {

  val ListingPrep = "graft:listing-prep"
  val ListingSubstr = "graft:listing-substr"
  val FamCountsBarrier = "graft:listings-famcounts-barrier"
  val VerifyUnion = "graft:verify-union-ckpt"

  /** Loud-cap counter sink, one slot per family: MinHash lane skips,
    * SimHash forest skips, substring star-cap drops — plus, on the new×all
    * front-end, each banded family's cross-lane estimate. A caller may pass
    * one accumulator in every slot. */
  final case class Counters(minhash: LongAccumulator, simhash: LongAccumulator,
                            substr: LongAccumulator)

  /** The substring family's pair builder, given the substr counter slot.
    * Built AND materialized on its own action thread: building may run
    * eager census actions (shard sizing). */
  type SubstrLeg = Option[LongAccumulator] => DataFrame

  /** One banded family of an increment: this increment's (doc_id, key) band
    * keys, the old side's, and `rows` — the family's verification payload
    * (doc_id, shingles | simhash) for the doc ids of a (doc_id) table. */
  final case class Increment(newKeys: DataFrame, oldKeys: DataFrame,
                             rows: DataFrame => DataFrame)

  /** The lazy (a, b, family) plan plus the checkpoints backing it. */
  final case class Plan(pairs: DataFrame, checkpoints: Seq[DataFrame]) {
    /** Run the action that materializes `pairs` under the verify-union label. */
    def materialize[T](action: DataFrame => T): T =
      labelled(pairs.sparkSession, VerifyUnion)(action(pairs))
    /** Release the backing blocks — only once `pairs` is materialized. */
    def release(): Unit = checkpoints.foreach(LocalCheckpoints.release)
  }

  /** Run `body` with `label` as the thread's job description, restoring the
    * caller's afterwards. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  private def ckpt(df: DataFrame): DataFrame =
    df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)

  /** A family's listing as the tail consumes it: candidates to verify
    * against `payload`, and the already-verified lane edges (a, b). */
  private final case class Listing(cands: DataFrame, lanes: Option[DataFrame],
                                   payload: DataFrame)

  /** All×all front-end. `minhashKeys` (doc_id, key) and `simhashKeys`
    * (doc_id, key, simhash) are the raw band keys, MATERIALIZED by the
    * caller (a checkpoint or a durable stage): the hot-key census and the
    * salt join both scan them. `shingled`/`simhashes` are the verify
    * payloads. */
  def allVsAll(minhashKeys: DataFrame, simhashKeys: DataFrame, shingled: DataFrame,
               simhashes: DataFrame, cfg: DedupConfig, substr: Option[SubstrLeg] = None,
               counters: Option[Counters] = None): Plan =
    labelled(shingled.sparkSession, ListingPrep) {
      val sub = startSubstr(shingled.sparkSession, substr, counters)
      // cold candidates (verified downstream) + hot lanes resolved in-task by
      // the exact-Jaccard verified forest (clusters identical to the uncapped
      // enumeration)
      val (mhCands, mhHot) = Lsh.minhashListing(
        Lsh.saltBandKeys(minhashKeys.select("doc_id", "key"), cfg),
        shingled.select("doc_id", "shingles"), cfg, counters.map(_.minhash))
      // the in-task verified-forest cap (join listing when salting is off);
      // its edges take the verify join like any candidate
      val shCands = Lsh.simhashCandidatePairs(
        Lsh.saltBandKeys(simhashKeys.select("doc_id", "key", "simhash"), cfg),
        cfg, counters.map(_.simhash))
      tail(Listing(ckpt(mhCands), Some(ckpt(mhHot)), shingled),
        Listing(ckpt(shCands), None, simhashes), Nil, sub, cfg)
    }

  /** New×all front-end: every emitted pair involves ≥1 new doc, so no pair
    * repeats across increments. `seeds` is the previous cluster assignment
    * (doc_id, cluster_id), the lanes' union-find seed (`Lsh.withLaneSeeds`);
    * it must cover every pair emitted so far. Both families resolve their
    * hot lanes with `Lsh.lanePairs`, each under its own exact check. */
  def newVsAll(minhash: Increment, simhash: Increment, seeds: Option[DataFrame],
               cfg: DedupConfig, substr: Option[SubstrLeg] = None,
               counters: Option[Counters] = None): Plan =
    labelled(minhash.newKeys.sparkSession, ListingPrep) {
      val sub = startSubstr(minhash.newKeys.sparkSession, substr, counters)
      def family[P: scala.reflect.runtime.universe.TypeTag](
          inc: Increment, acc: Option[LongAccumulator], check: Lsh.LaneCheck[P])
          : (Listing, DataFrame) = {
        val (cold, lanes) = Lsh.newVsAllListing(inc.newKeys, inc.oldKeys, cfg.saltMaxBucket, acc)
        val cands = ckpt(cold.distinct())
        // consumed twice (payload ids + the lane join): materialized once
        val seeded = ckpt(Lsh.withLaneSeeds(lanes, seeds))
        // ONE payload lookup covers the lane join AND the verify join (ids =
        // lane members ∪ candidate endpoints): both are inner joins on ids
        // within that set, so the shared superset table preserves results
        val payload = ckpt(inc.rows(seeded.select("doc_id")
          .unionByName(cands.select(col("a").as("doc_id")))
          .unionByName(cands.select(col("b").as("doc_id")))))
        // lane edges come back ALREADY exact-verified (they bypass verify)
        val laneEdges = ckpt(
          Lsh.lanePairs(seeded.join(payload, "doc_id"), check, acc).select("a", "b"))
        (Listing(cands, Some(laneEdges), payload), seeded)
      }
      val (mh, mhSeeded) = family(minhash, counters.map(_.minhash),
        Lsh.jaccardCheck(cfg.jaccardThreshold))
      val (sh, shSeeded) = family(simhash, counters.map(_.simhash),
        Lsh.hammingCheck(cfg.hammingThreshold))
      tail(mh, sh, Seq(mhSeeded, mh.payload, shSeeded, sh.payload), sub, cfg)
    }

  /** Start the substring leg. The family has no dependency on the banded
    * chains: as serial driver actions its byte census, SA shard scan and
    * gram census idled the pool between the banding stages, so it is built
    * and materialized on its own action thread — started before the
    * listings are even planned — while the tail's barrier materializes the
    * listings. Concurrent first reads of a shared lazy checkpoint are
    * block-manager-safe (one task computes a partition, the other waits on
    * the block lock). */
  private def startSubstr(spark: SparkSession, substr: Option[SubstrLeg],
                          counters: Option[Counters])
      : Option[scala.concurrent.Future[DataFrame]] =
    substr.map { leg =>
      val sc = spark.sparkContext
      scala.concurrent.Future {
        sc.setJobDescription(ListingSubstr)
        try {
          val s = ckpt(leg(counters.map(_.substr)))
          s.count()
          s
        } finally sc.setJobDescription(null)
      }(scala.concurrent.ExecutionContext.global)
    }

  /** The shared tail. `held` are front-end checkpoints the listings do not
    * already name (released with them). */
  private def tail(mh: Listing, sh: Listing, held: Seq[DataFrame],
                   subFut: Option[scala.concurrent.Future[DataFrame]],
                   cfg: DedupConfig): Plan = {
    val spark = mh.cands.sparkSession
    // ONE union action materializes every listing checkpoint (serial counts
    // serialized the families); the counts gate the broadcast
    // semi-restriction of the verify joins, so the heavy payload rows
    // shuffle only for candidate docs in the normal regime (candidates ≪
    // corpus) — output-preserving
    val listings = Seq("mh" -> mh, "sh" -> sh).flatMap { case (fam, l) =>
      (fam -> l.cands) +: l.lanes.map(s"${fam}v" -> _).toSeq
    }
    val counts = labelled(spark, FamCountsBarrier) {
      listings.map { case (fam, df) => df.select(lit(fam).as("fam")) }
        .reduce(_ unionByName _)
        .groupBy("fam").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val sub = subFut.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    def verified(fam: String, l: Listing,
                 verify: (DataFrame, DataFrame, DedupConfig) => DataFrame): DataFrame = {
      val v = verify(l.cands, Lsh.restrictToCandidateDocs(
        l.payload, l.cands, 2 * counts.getOrElse(fam, 0L)), cfg).select("a", "b")
      l.lanes.fold(v)(e => v.unionByName(e.select("a", "b")))
    }
    import spark.implicits._
    val pairs = Lsh.dupPairs(verified("mh", mh, Lsh.verifyJaccard),
      verified("sh", sh, Lsh.verifyHamming),
      sub.getOrElse(Seq.empty[(Long, Long)].toDF("a", "b")))
    Plan(pairs, listings.map(_._2) ++ held ++ sub)
  }
}
