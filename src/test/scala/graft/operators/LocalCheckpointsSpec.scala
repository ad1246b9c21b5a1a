package graft.operators

import graft.{DedupConfig, SparkSuite}
import graft.sources.PagesGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}

/** The block lifecycle of released checkpoints. */
class LocalCheckpointsSpec extends SparkSuite {

  test("releasing a pair plan drops its blocks without the unpersist WARN") {
    val cfg = DedupConfig.test
    val sc = spark.sparkContext
    val docs = PagesGen.docs(spark, 200, cfg).toDF()
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val onRelease = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = released.add(e.rddId)
    }
    // Dedup.dupPairs materializes its pair table, then releases the plan's
    // locally checkpointed listings, payloads and fingerprints
    val lines = captureLog("org.apache.spark.rdd") {
      listening(onRelease)(assert(graft.Dedup.dupPairs(docs, cfg).count() > 0))
    }
    val warned = lines.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
    val ids = released.toArray.toSeq.map(_.asInstanceOf[Int])
    assert(ids.nonEmpty, "the plan released no checkpoint")
    val kept = ids.filter(sc.getPersistentRDDs.contains)
    assert(kept.isEmpty, s"released RDDs still registered as persistent: $kept")
  }
}
