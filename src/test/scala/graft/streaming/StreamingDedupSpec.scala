package graft.streaming

import graft.{DedupConfig, SparkSuite}
import graft.operators.{Lsh, PairPlan}
import graft.sources.PagesGen
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Local FileSystem that reports delete failure HDFS-style (returns false,
  * nothing deleted) for paths containing `failOn` — the failure mode the
  * compaction FINISH must abort on instead of proceeding. */
class FailingDeleteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faildel"
  override def getUri: java.net.URI = java.net.URI.create("faildel:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (FailingDeleteFs.failOn.exists(p.toString.contains)) false
    else super.delete(p, recursive)
}
object FailingDeleteFs { @volatile var failOn: Option[String] = None }

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test

  test("foreachBatch bridge: streamed clusters == batch clusters on a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    val n = 300
    val docs = PagesGen.docs(spark, n, cfg).collect()
    val root = java.nio.file.Files.createTempDirectory("graft-bridge").toString
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingDedup.foreachBatchClusters(
      stream.toDF().toDF("doc_id", "text", "lang"), cfg, root)
    try {
      docs.grouped(90).foreach { b =>
        stream.addData(b.map(d => (d.doc_id, d.text, d.lang)).toSeq)
        q.processAllAvailable()
      }
      val streamed = StreamingDedup.latestClusters(spark, root)
        .as[(Long, Long)].collect().toSet
      // the bridge runs BOTH banded families — batch reference is CC over
      // the union of their verified pairs
      val d = PagesGen.docs(spark, n, cfg).toDF()
      val batchPairs = Lsh.minhashDupPairs(d, cfg).select("a", "b")
        .unionByName(Lsh.simhashDupPairs(d, cfg).select("a", "b"))
      val batch = graft.operators.ConnectedComponents.assign(batchPairs)
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"extra=${streamed -- batch} missing=${batch -- streamed}")
    } finally q.stop()
  }

  test("foreachBatch bridge is retry-idempotent: replaying a batch changes nothing") {
    // foreachBatch is at-least-once: a batch that fails mid-write is
    // re-delivered with the SAME batchId. Simulate that by re-invoking
    // processBatch directly — state row counts and the cluster snapshot
    // must be identical to single delivery.
    val docs = PagesGen.docs(spark, 200, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val b0 = docs.where(col("doc_id") % 2 === 0)
    val b1 = docs.where(col("doc_id") % 2 === 1)
    StreamingDedup.processBatch(b0, 0L, cfg, root)
    StreamingDedup.processBatch(b1, 1L, cfg, root)
    def state(): (Seq[Long], Set[(Long, Long)]) = (
      Seq("shingled", "simhashes", "keys", "keys_sh", "pairs")
        .map(dir => spark.read.parquet(s"$root/$dir").count()),
      StreamingDedup.latestClusters(spark, root).as[(Long, Long)].collect().toSet)
    val once = state()
    StreamingDedup.processBatch(b1, 1L, cfg, root) // the replay
    assert(state() === once)
    // and the snapshot still equals the batch pipeline on the full corpus
    val batchPairs = Lsh.minhashDupPairs(docs, cfg).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, cfg).select("a", "b"))
    val batchClusters = graft.operators.ConnectedComponents.assign(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(once._2 === batchClusters)
  }

  test("bridge verify join is candidate-restricted against accumulated shingle state") {
    // the verify join's payload side must NOT be the whole history: the
    // shared PairPlan tail behind the bridge's new×all front-end passes it
    // through restrictToCandidateDocs (broadcast LeftSemi), so per-batch
    // verify cost tracks the batch's candidates, not the stream's lifetime
    val docs = PagesGen.docs(spark, 120, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-restrict").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    def keys(t: String, batch: Long) =
      spark.read.parquet(s"$root/$t").where(col("batch_id") === batch).select("doc_id", "key")
    def rows(t: String, payload: String)(ids: org.apache.spark.sql.DataFrame) =
      spark.read.parquet(s"$root/$t").select("doc_id", payload)
        .join(ids, Seq("doc_id"), "left_semi")
    val pairPlan = PairPlan.newVsAll(
      PairPlan.Increment(keys("keys", 1L), keys("keys", 0L), rows("shingled", "shingles")),
      PairPlan.Increment(keys("keys_sh", 1L), keys("keys_sh", 0L), rows("simhashes", "simhash")),
      None, cfg)
    val plan = pairPlan.pairs.queryExecution.executedPlan.toString
    pairPlan.release()
    assert(plan.contains("LeftSemi") && plan.contains("Broadcast"),
      s"expected broadcast left-semi candidate restriction:\n$plan")
  }

  test("HOT-regime bridge: streamed clusters == batch clusters, no pair row repeats") {
    // saltMaxBucket = 8 makes hot buckets common at 400 docs, so every
    // batch after the first resolves MinHash hot lanes of the new×all
    // listing (seeded in-task forests) beside the cold candidates; an
    // unseeded lane would re-emit earlier batches' links as repeated rows
    val hot = cfg.copy(saltMaxBucket = 8)
    val docs = PagesGen.docs(spark, 400, hot).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-hot").toString
    (0 until 4).foreach { b =>
      StreamingDedup.processBatch(
        docs.where(pmod(xxhash64(col("doc_id")), lit(4)) === b), b.toLong, hot, root)
    }
    val streamed = StreamingDedup.latestClusters(spark, root)
      .as[(Long, Long)].collect().toSet
    val batchPairs = Lsh.minhashDupPairs(docs, hot).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, hot).select("a", "b"))
    val batch = graft.operators.ConnectedComponents.assign(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed === batch, s"extra=${streamed -- batch} missing=${batch -- streamed}")
    val repeats = spark.read.parquet(s"$root/pairs")
      .groupBy("a", "b", "family").count().where(col("count") > 1).count()
    assert(repeats === 0L, "a pair row repeats under pairs/")
  }

  test("steady-state batches run on resident state; a restart rebuilds once and matches") {
    // the VERDICT_r5 #1 contract: per-batch durable-state reads track the
    // batch, not the accumulated stream — batches after the first extend
    // the executor-resident cache instead of re-scanning the state tables,
    // and a fresh process (cache evicted) rebuilds from parquet ONCE with
    // bit-identical results
    val docs = PagesGen.docs(spark, 240, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-resident").toString
    StreamingDedup.evictStateCache(root)
    (0 until 3).foreach { b =>
      val report = StreamingDedup.processBatch(
        docs.where(pmod(col("doc_id"), lit(4)) === b), b.toLong, cfg, root)
      if (b > 0) assert(report.stateSource === "cache-extend",
        s"batch $b should extend the resident state, got ${report.stateSource}")
    }
    val clustersBefore = StreamingDedup.latestClusters(spark, root)
      .as[(Long, Long)].collect().toSet
    // a replay of the newest batch is recognized (content already covered)
    val replay = StreamingDedup.processBatch(
      docs.where(pmod(col("doc_id"), lit(4)) === 2), 2L, cfg, root)
    assert(replay.stateSource === "cache-replay")
    // restart: evict the resident state — the next batch must REBUILD from
    // the durable layer and produce the same downstream state
    StreamingDedup.evictStateCache(root)
    val restart = StreamingDedup.processBatch(
      docs.where(pmod(col("doc_id"), lit(4)) === 3), 3L, cfg, root)
    assert(restart.stateSource === "rebuild")
    val streamed = StreamingDedup.latestClusters(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(clustersBefore.subsetOf(streamed) || streamed.nonEmpty) // sanity
    // parity with the batch pipeline after the mixed resident/rebuild run
    val batchPairs = Lsh.minhashDupPairs(docs, cfg).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, cfg).select("a", "b"))
    val batch = graft.operators.ConnectedComponents.assign(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch, s"extra=${streamed -- batch} missing=${batch -- streamed}")
  }

  test("lost resident-state blocks self-heal: evict + rebuild retry (ADVICE r6)") {
    // Simulated executor loss: localCheckpoint'd cache blocks vanish while
    // the cache still holds their DataFrames — truncated lineage cannot
    // recompute, so without the retry every later batch on the root throws.
    // processBatch must evict the root and retry once via the parquet
    // rebuild path (the whole body is replay-idempotent).
    val docs = PagesGen.docs(spark, 240, cfg).toDF() // NOT checkpointed: the
    // block massacre below must only hit resident-state blocks' class
    val root = java.nio.file.Files.createTempDirectory("graft-heal").toString
    StreamingDedup.evictStateCache(root)
    val warm = (0 until 2).map { b =>
      StreamingDedup.processBatch(
        docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong, cfg, root)
    }.last
    assert(warm.stateSource === "cache-extend")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val healed = StreamingDedup.processBatch(
      docs.where(pmod(col("doc_id"), lit(3)) === 2), 2L, cfg, root)
    assert(healed.stateSource === "rebuild",
      s"healed batch should rebuild, got ${healed.stateSource}")
    // full parity with the batch pipeline after the healed run
    val streamed = StreamingDedup.latestClusters(spark, root)
      .as[(Long, Long)].collect().toSet
    val batchPairs = Lsh.minhashDupPairs(docs, cfg).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, cfg).select("a", "b"))
    val batch = graft.operators.ConnectedComponents.assign(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("a new SparkSession on a cached root rebuilds instead of stale frames") {
    // ADVICE r6: the cache is JVM-global keyed by root; a new session
    // reusing the root must not be served DataFrames bound to the old one.
    val docs = PagesGen.docs(spark, 180, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-sess").toString
    StreamingDedup.evictStateCache(root)
    val warm = (0 until 2).map { b =>
      StreamingDedup.processBatch(
        docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong, cfg, root)
    }.last
    assert(warm.stateSource === "cache-extend")
    val s2 = spark.newSession()
    val docs2 = PagesGen.docs(s2, 180, cfg).toDF()
    val fresh = StreamingDedup.processBatch(
      docs2.where(pmod(col("doc_id"), lit(3)) === 2), 2L, cfg, root)
    assert(fresh.stateSource === "rebuild",
      s"new session should rebuild, got ${fresh.stateSource}")
    StreamingDedup.evictStateCache(root)
  }

  test("streaming keepBest == batch keepBest on a replayed corpus") {
    val docs = PagesGen.docs(spark, 200, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-skb").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    val score = length(col("text")) // keep the longest copy
    val streamed = StreamingDedup.keepBest(docs, root, score)
      .select("doc_id").as[Long].collect().toSet
    // batch reference over the same two families the bridge runs
    val batchPairs = Lsh.minhashDupPairs(docs, cfg).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, cfg).select("a", "b"))
    val batch = graft.Dedup.keepBest(docs,
        graft.operators.ConnectedComponents.assign(batchPairs), score)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batch,
      s"extra=${streamed -- batch} missing=${batch -- streamed}")
    // winners beat every losing cluster-mate on (score, then min doc_id)
    val asg = StreamingDedup.latestClusters(spark, root)
    val scored = docs.select(col("doc_id"), score.as("q")).join(asg, "doc_id")
    val best = scored.groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("w"))
      .select((-col("w.nd")).as("doc_id")).as[Long].collect().toSet
    assert(best.subsetOf(streamed))
  }

  test("state compaction bounds dir count, keeps parity, and survives replay") {
    val n = 240
    val docs = PagesGen.docs(spark, n, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // 4 micro-batches with compactEvery=2: the backlog folds repeatedly
    (0 until 4).foreach { b =>
      StreamingDedup.processBatch(
        docs.where(pmod(col("doc_id"), lit(4)) === b), b.toLong, cfg, root,
        compactEvery = 2)
    }
    def stateDirs(t: String): Seq[String] =
      new java.io.File(s"$root/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).toSeq
    // after batch 3 (compaction folded ids < 3 when backlog >= 2): at most
    // the consolidated dir + the newest batch per state table
    Seq("keys", "keys_sh", "shingled", "simhashes").foreach { t =>
      assert(stateDirs(t).size <= 2,
        s"$t must stay compacted, got ${stateDirs(t).sorted.mkString(",")}")
      // row totals survive folding: state content is batch-id-invariant
    }
    assert(spark.read.parquet(s"$root/shingled").count() === n)
    // superseded cluster snapshots are GC'd (2 most recent kept)
    assert(stateDirs("clusters").size <= 2)
    // parity with the batch pipeline is unaffected by folding
    val streamed = StreamingDedup.latestClusters(spark, root)
      .as[(Long, Long)].collect().toSet
    val batchPairs = Lsh.minhashDupPairs(docs, cfg).select("a", "b")
      .unionByName(Lsh.simhashDupPairs(docs, cfg).select("a", "b"))
    val batch = graft.operators.ConnectedComponents.assign(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch, s"extra=${streamed -- batch} missing=${batch -- streamed}")
    // a replay of the newest batch on top of compacted state changes nothing
    val before = (Seq("keys", "keys_sh", "shingled", "simhashes")
      .map(t => spark.read.parquet(s"$root/$t").count()), streamed)
    StreamingDedup.processBatch(
      docs.where(pmod(col("doc_id"), lit(4)) === 3), 3L, cfg, root, compactEvery = 2)
    val after = (Seq("keys", "keys_sh", "shingled", "simhashes")
      .map(t => spark.read.parquet(s"$root/$t").count()),
      StreamingDedup.latestClusters(spark, root).as[(Long, Long)].collect().toSet)
    assert(after === before, "replay on compacted state must be a no-op")
  }

  test("a torn compaction COMMIT is finished idempotently at the next batch") {
    val docs = PagesGen.docs(spark, 120, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-torn").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    val tables = Seq("keys", "keys_sh", "shingled", "simhashes")
    val rows = tables.map(t => t -> spark.read.parquet(s"$root/$t").count()).toMap
    StreamingDedup.compactState(spark, root, beforeBatch = 2L)
    tables.foreach(t => assert(spark.read.parquet(s"$root/$t").count() === rows(t),
      s"compaction must not change $t content"))
    // Now construct the REAL mid-FINISH crash state: COMMIT present,
    // table "keys" ALREADY finished (its live batch_id=1 dir holds the
    // consolidated rows, nothing staged), the other tables not yet
    // finished (staged consolidated dirs present, live folded dirs
    // present). A recovery that re-deletes folded dirs unconditionally
    // destroys the finished table's consolidated data — the exact bug
    // class this protocol exists to prevent.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    tables.filterNot(_ == "keys").foreach { t =>
      // re-stage the unfinished tables: copy live consolidated -> staging,
      // and split the live dir back into fake folded dirs 0 and 1
      spark.read.parquet(s"$root/$t/batch_id=1")
        .write.parquet(s"$root/_compact/$t/batch_id=1")
      spark.read.parquet(s"$root/$t/batch_id=1").limit(0)
        .write.mode("overwrite").parquet(s"$root/$t/batch_id=0")
    }
    val out = fs.create(p(s"$root/_compact/COMMIT"), true)
    try out.write("0,1".getBytes("UTF-8")) finally out.close()
    // recovery at next batch start
    StreamingDedup.finishCompaction(spark, root)
    tables.foreach(t => assert(spark.read.parquet(s"$root/$t").count() === rows(t),
      s"$t content lost by torn-FINISH recovery"))
    assert(!fs.exists(p(s"$root/_compact")), "staging must be dropped")
    // and finishing again on the clean root is a no-op
    StreamingDedup.finishCompaction(spark, root)
    tables.foreach(t => assert(spark.read.parquet(s"$root/$t").count() === rows(t)))
  }

  test("a stale batch replay is refused, not silently applied") {
    // processBatch is public (ScalingBench and tests drive it directly);
    // re-delivering an id older than the newest committed state dir would
    // overwrite `batch_id=<id>` — after a compaction that dir holds the
    // folded state of every earlier batch — with one batch's rows
    val docs = PagesGen.docs(spark, 120, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-stale").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    val err = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    }
    assert(err.getMessage.contains("older than the newest committed"))
    // replaying the NEWEST batch stays allowed (the streaming engine's case)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
  }

  test("replaying a compaction-consolidated id is refused even when it is the newest") {
    // after compactState folds dirs <2 into batch_id=1, that dir holds
    // BOTH batches' rows under one id's name — a replay of id 1 passes a
    // bare newest-id check but its per-dir Overwrite would replace the
    // folded state with one batch's rows
    val docs = PagesGen.docs(spark, 120, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-consrep").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    StreamingDedup.compactState(spark, root, beforeBatch = 2L)
    val rows = spark.read.parquet(s"$root/keys").count()
    val err = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    }
    assert(err.getMessage.contains("consolidated"))
    assert(spark.read.parquet(s"$root/keys").count() === rows, "state must be untouched")
    // batches newer than the consolidation still process fine
    StreamingDedup.processBatch(docs.limit(0), 2L, cfg, root)
  }

  test("a false delete during FINISH aborts instead of destroying staged state") {
    // HDFS-style FileSystems report failure by RETURNING FALSE, not
    // throwing. Proceeding past one would reach the final staging-dir drop
    // with the folded dirs already gone — silent loss of all folded state.
    // The FINISH must abort, leaving _compact + COMMIT for the next retry.
    val docs = PagesGen.docs(spark, 120, cfg).toDF().localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-faildel").toString
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 0), 0L, cfg, root)
    StreamingDedup.processBatch(docs.where(col("doc_id") % 2 === 1), 1L, cfg, root)
    val tables = Seq("keys", "keys_sh", "shingled", "simhashes")
    val rows = tables.map(t => t -> spark.read.parquet(s"$root/$t").count()).toMap
    // fabricate a committed-but-unfinished fold (the PREPARE+COMMIT state)
    tables.foreach { t =>
      spark.read.parquet(s"$root/$t").drop("batch_id")
        .write.parquet(s"$root/_compact/$t/batch_id=1")
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val out = fs.create(p(s"$root/_compact/COMMIT"), true)
    try out.write("0,1".getBytes("UTF-8")) finally out.close()
    // route the recovery through a FileSystem whose delete returns false
    spark.sparkContext.hadoopConfiguration
      .set("fs.faildel.impl", classOf[FailingDeleteFs].getName)
    FailingDeleteFs.failOn = Some("batch_id=0")
    try {
      val err = intercept[java.io.IOException] {
        StreamingDedup.finishCompaction(spark, s"faildel://$root")
      }
      assert(err.getMessage.contains("delete"))
    } finally FailingDeleteFs.failOn = None
    // nothing destroyed: COMMIT + every staged dir still present, live
    // tables intact — the retry can complete
    assert(fs.exists(p(s"$root/_compact/COMMIT")), "COMMIT must survive the abort")
    tables.foreach { t =>
      assert(fs.exists(p(s"$root/_compact/$t/batch_id=1")), s"staged $t lost")
      assert(spark.read.parquet(s"$root/$t").count() === rows(t), s"live $t changed")
    }
    // the retry (healthy FileSystem) completes the fold with content intact
    StreamingDedup.finishCompaction(spark, root)
    assert(!fs.exists(p(s"$root/_compact")))
    tables.foreach(t => assert(spark.read.parquet(s"$root/$t").count() === rows(t)))
  }

  test("pre-versioned state roots are refused, not silently resumed") {
    val root = java.nio.file.Files.createTempDirectory("graft-prever").toString
    // fabricate an r3-era root: keys/ exists, no _state_format stamp
    new java.io.File(s"$root/keys/batch_id=0").mkdirs()
    val docs = PagesGen.docs(spark, 10, cfg).toDF()
    val err = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(docs, 1L, cfg, root)
    }
    assert(err.getMessage.contains("rebuild"),
      s"must refuse with a rebuild instruction, got: ${err.getMessage}")
  }
}
