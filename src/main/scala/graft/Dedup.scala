package graft

import graft.functions.Fns
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh, PairPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The user-facing façade: what a caller of the reference engine switches
 * to. Input is any DataFrame with (doc_id: Long, text: String) — use
 * `sources.Pages.withDocId` / `run.DedupMain.toDocs` to adapt the
 * canonical pages shape first.
 */
object Dedup {

  /** The facade's pair plan: ONE projection over the cached docs computes
    * BOTH per-doc fingerprints — shingles and simhash — into a single
    * cached table that feeds banding AND both verify joins (splitting the
    * families into independent `minhashDupPairs`/`simhashDupPairs` calls,
    * the pre-r3 shape, ran the text-processing pass once per family); the
    * rest is `PairPlan.allVsAll` with the substring leg. EAGER up to the
    * candidate counts; the verify+union plan stays lazy so callers (and
    * PlanSpec) can see/extend it. The d/fp/band-key checkpoints are LAZY:
    * the listing barrier and the substring thread materialize them. */
  private[graft] def dupPairsPlan(docs: DataFrame, cfg: DedupConfig): PairPlan.Plan = {
    def ckpt(df: DataFrame) = df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    // spread a single-file scan across the pool before checkpointing —
    // the fp fingerprint pass, gram index and byte census below otherwise
    // all run single-task (Lsh.spreadInput: partition-count-gated, output-
    // invariant)
    val d = ckpt(Lsh.spreadInput(docs))
    val fp = ckpt(d.select(col("doc_id"),
      Fns.shingleHashes(col("text"), cfg).as("shingles"),
      Fns.simhash64(col("text"), cfg).as("simhash")))
    val shingled = fp.select("doc_id", "shingles")
    val simhashes = fp.select("doc_id", "simhash")
    val mhKeys = ckpt(Lsh.minhashBandKeys(Lsh.signatures(shingled, cfg), cfg))
    val shKeys = ckpt(Lsh.simhashBandKeys(simhashes, cfg, carryHash = true))
    val plan = PairPlan.allVsAll(mhKeys, shKeys, shingled, simhashes, cfg,
      Some(ExactSubstr.substrDupPairs(d, cfg, None, _)))
    plan.copy(checkpoints = Seq(d, fp, mhKeys, shKeys) ++ plan.checkpoints)
  }

  /** Family-tagged verified duplicate pairs (a, b, family).
    *
    * EAGER: materializes the (small) pair table, then releases the
    * intermediate block sets — repeated facade calls in one session (bench
    * loops, notebooks) otherwise pile up executor storage until eviction,
    * the block-pressure class the CC round lifecycle already fixed. The
    * returned checkpoint depends on nothing unpersisted here. */
  def dupPairs(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame = {
    val plan = dupPairsPlan(docs, cfg)
    val out = plan.materialize(_.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))
    plan.release()
    out
  }

  /** Cluster table (doc_id, cluster_id, cluster_size, is_canonical) for
    * every doc that has at least one duplicate. */
  def clusters(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame =
    ConnectedComponents.clusters(
      ConnectedComponents.assign(dupPairs(docs, cfg).select("a", "b")))

  /** THE dedup operation: the input with non-canonical duplicates removed —
    * every cluster keeps its smallest doc_id; singletons pass through.
    * Anti-join keeps the doc table itself out of the clustering shuffles. */
  def dedupe(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame = {
    val drop = clusters(docs, cfg).where(!col("is_canonical")).select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Keep, for every cluster of `assignment`, the member with the highest
    * `score` (smallest doc_id on ties); docs outside any cluster pass
    * through. The winner per cluster comes from one partial-aggregating
    * `max(struct(score, -doc_id))` groupBy — no per-cluster window, the
    * same mega-cluster skew rule as `ConnectedComponents.clusters` — and
    * the corpus is touched only by the final anti-join against the loser
    * id list. (doc_id = Long.MinValue would overflow the tie-break
    * negation; ids here are xxhash64/generator outputs, where MinValue has
    * probability 2^-64.) */
  private[graft] def keepBest(docs: DataFrame, assignment: DataFrame,
                              score: org.apache.spark.sql.Column): DataFrame = {
    val scored = docs.select(col("doc_id"), score.as("q"))
      .join(assignment, "doc_id")
    val winners = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("w"))
      .select((-col("w.nd")).as("doc_id"))
    val losers = assignment.select("doc_id")
      .join(winners, Seq("doc_id"), "left_anti")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }
}
