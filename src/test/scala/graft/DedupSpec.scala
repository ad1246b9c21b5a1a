package graft

import graft.sources.PagesGen
import org.apache.spark.sql.functions._

/** The façade (`graft.Dedup`) — the API a user of the reference switches
  * to: pairs, clusters, and the dedupe operation itself. */
class DedupSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test
  private lazy val docs = PagesGen.docs(spark, 300, cfg).toDF()

  test("dedupe keeps exactly canonical members plus singletons") {
    val cl = Dedup.clusters(docs, cfg)
      .select("doc_id", "is_canonical").as[(Long, Boolean)].collect().toMap
    val kept = Dedup.dedupe(docs, cfg).select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val expected = all.filter(id => cl.getOrElse(id, true))
    assert(kept === expected)
    assert(kept.size < all.size, "planted corpus must actually shrink")
  }

  test("dedupe is idempotent") {
    val once = Dedup.dedupe(docs, cfg)
    val twice = Dedup.dedupe(once, cfg)
    assert(twice.count() === once.count())
  }

  test("keepBest keeps the highest-score member per cluster, min doc_id on ties") {
    val cl = Dedup.clusters(docs, cfg)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val lens = docs.select(col("doc_id"), octet_length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val kept = Dedup.keepBest(docs, Dedup.clusters(docs, cfg).select("doc_id", "cluster_id"),
        octet_length(col("text")).cast("long"))
      .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val expectedWinners = cl.groupBy(_._2).values.map { members =>
      members.map(_._1).minBy(id => (-lens(id), id)) // longest, then smallest id
    }.toSet
    val clustered = cl.map(_._1).toSet
    assert(kept === (all -- clustered) ++ expectedWinners)
    // same cluster count survives as min-doc_id dedupe, different policy
    assert(kept.size === Dedup.dedupe(docs, cfg).count())
    // the winners really are the longest members
    expectedWinners.foreach { w =>
      val myCluster = cl.filter(p => cl.find(_._1 == w).get._2 == p._2).map(_._1)
      assert(myCluster.forall(m => lens(m) <= lens(w)))
    }
  }

  test("clusters carry all three evidence families on the planted corpus") {
    val fams = Dedup.dupPairs(docs, cfg)
      .select("family").distinct().as[String].collect().toSet
    assert(fams === Set("minhash", "simhash", "substr"))
  }
}
