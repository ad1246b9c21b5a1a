package graft.operators

import graft.{DedupConfig, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared `PairPlan` tail, checked per family rather than through the
  * clusters every family contributes to. */
class PairPlanSpec extends SparkSuite {
  import spark.implicits._

  private val hot = DedupConfig.test.copy(saltMaxBucket = 8)

  /** 24 identical texts (ids 0–23) plus 40 distinct fillers: every band key
    * of the group holds 24 (all×all) or ≥ 12 (either new×all increment)
    * members, all above saltMaxBucket = 8, so no group pair is a cold
    * candidate and only the hot-lane forests can link the group. */
  private val group = (0L until 24L).toSet
  private val docs = {
    val same = "the quick brown fox jumps over the lazy dog while the " +
      "patient heron waits beside the quiet river for the morning tide"
    group.toSeq.map(i => (i, same)) ++ (100L until 140L).map(i =>
      (i, s"filler page $i lists item ${i * 7} and part ${i * 13} for order ${i * 31}"))
  }.toDF("doc_id", "text")

  private def minhashRows(pairs: DataFrame): Seq[(Long, Long)] =
    pairs.where(col("family") === "minhash").select("a", "b").as[(Long, Long)].collect().toSeq

  /** The group members the first member reaches through `edges`. */
  private def reached(edges: Seq[(Long, Long)]): Set[Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var seen = Set(group.min)
    var frontier = seen
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
      seen ++= frontier
    }
    seen intersect group
  }

  test("minhash lane edges alone connect an all-hot group, in both front-ends") {
    // all×all: the facade's dupPairs
    val batch = minhashRows(graft.Dedup.dupPairs(docs, hot))
    assert(reached(batch) === group, s"all×all minhash rows: $batch")

    // new×all: two increments split by doc_id parity, the second seeded
    // with the first's cluster assignment
    val shingled = Lsh.shingled(docs, hot).localCheckpoint()
    val mhKeys = Lsh.minhashBandKeys(Lsh.signatures(shingled, hot), hot)
      .select("doc_id", "key").localCheckpoint()
    val shRows = Lsh.simhashes(docs, hot).localCheckpoint()
    val shKeys = Lsh.simhashBandKeys(shRows, hot).select("doc_id", "key").localCheckpoint()
    def rows(payload: DataFrame)(ids: DataFrame) = payload.join(ids, Seq("doc_id"), "left_semi")
    def inc(keys: DataFrame, payload: DataFrame, step: Int) = PairPlan.Increment(
      keys.where(col("doc_id") % 2 === step), keys.where(col("doc_id") % 2 < step), rows(payload))
    var history = Seq.empty[(Long, Long, String)]
    (0 to 1).foreach { step =>
      val seeds =
        if (history.isEmpty) None
        else Some(ConnectedComponents.assign(history.map(p => (p._1, p._2)).toDF("a", "b")))
      val plan = PairPlan.newVsAll(inc(mhKeys, shingled, step), inc(shKeys, shRows, step),
        seeds, hot)
      history ++= plan.materialize(_.as[(Long, Long, String)].collect())
      plan.release()
    }
    val emitted = minhashRows(history.toDF("a", "b", "family"))
    assert(reached(emitted) === group, s"new×all minhash rows: $emitted")
  }
}
