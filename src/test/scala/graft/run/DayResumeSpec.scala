package graft.run

import graft.{DedupConfig, SparkSuite}
import graft.sources.PagesGen
import org.apache.spark.sql.functions._

/**
 * J3/K2/SNK3 end-to-end: day-level resume through the REAL composition —
 * Checkpoint.stageDays → Lineage → Resume.doneDays — with no hand-built
 * lineage DataFrame: a kill after 2 of 3 crawl days, torn day writes in
 * both stage layouts, and DedupMain day appends.
 */
class DayResumeSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-dayresume").toString

  /** 120 pages spread over 3 crawl days, as docs, and the sorted days. */
  private def threeDayDocs() = {
    val docs = DedupMain.toDocs(PagesGen.pages(spark, 120, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(3)) * 86400L)))
    val days = docs.select("warc_day").distinct().orderBy("warc_day")
      .as[java.sql.Timestamp].collect()
    assert(days.length === 3)
    (docs, days)
  }

  private def lineageDays(root: String, stage: String, runId: String) =
    Lineage.read(spark, root).where(col("stage") === stage && col("run_id") === runId)
      .select("warc_day").distinct().as[java.sql.Timestamp].collect().toSet

  test("kill after 2 of 3 days: restart processes exactly the third day") {
    val (docs, days) = threeDayDocs()
    // ---- first (killed) run: only days 1-2 reach the docs stage
    val root = tmpRoot()
    Checkpoint.stageDays(spark, root, "docs", cfg, "run1")(
      docs.where(col("warc_day") < lit(days(2))))(identity)

    // ---- restart on all three days: done days come from the lineage table as written
    val done = Resume.doneDays(Lineage.read(spark, root), cfg.configHash)
    assert(done.as[java.sql.Timestamp].collect().toSet === days.take(2).toSet)
    var restartInput: org.apache.spark.sql.DataFrame = null
    val out = Checkpoint.stageDays(spark, root, "docs", cfg, "run2")(docs) { d =>
      restartInput = d
      d
    }
    assert(restartInput.select("warc_day").distinct()
      .as[java.sql.Timestamp].collect().toSeq === Seq(days(2)))
    assert(lineageDays(root, "docs", "run2") === Set(days(2)))
    assert(out.count() === 120)
    assert(out.select("doc_id").distinct().count() === 120, "the stage holds each row once")

    // a different configHash must see NO done days (full recompute)
    val other = Resume.doneDays(Lineage.read(spark, root), cfg.copy(k = 5).configHash)
    assert(other.count() === 0)
  }

  test("day-append: a new crawl day recomputes only that day through docs/shingled/signatures") {
    // 4 synthetic crawl days; run the full pipeline on days 1-3, then again
    // on all 4 days at the same root: the day-incremental stages must build
    // ONLY day 4 (lineage shows exactly one new day per stage), the global
    // stages must recompute (docs_rows key changed), and the result must
    // equal a from-scratch run on the full input.
    val pages = PagesGen.pages(spark, 160, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(4)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    assert(days.length === 4)
    val in3 = tmpRoot() + "/in3.parquet"
    val in4 = tmpRoot() + "/in4.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(3))).write.parquet(in3)
    pages.write.parquet(in4)

    val root = tmpRoot()
    DedupMain.run(spark, in3, root, cfg, "run1").count()
    val appended = DedupMain.run(spark, in4, root, cfg, "run2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet

    // per-stage lineage: run2 added exactly day 4 to each incremental stage
    val lin = Lineage.read(spark, root).where(col("config_hash") === cfg.configHash)
    Seq("docs", "shingled", "signatures", "band_keys").foreach { st =>
      val run2Days = lin.where(col("stage") === st && col("run_id") === "run2")
        .select("warc_day").distinct().as[java.sql.Timestamp].collect().toSet
      assert(run2Days === Set(days(3)), s"stage $st must recompute only day 4, got $run2Days")
      val allDays = lin.where(col("stage") === st)
        .select("warc_day").distinct().as[java.sql.Timestamp].collect().toSet
      assert(allDays === days.toSet, s"stage $st lineage must cover all days")
    }
    // stage tables hold each day exactly once (no double-append)
    assert(spark.read.parquet(s"$root/docs").count() === 160)
    assert(spark.table(Checkpoint.bucketedTableName(root, "shingled")).count() === 160)

    // the pair stage itself went day-incremental: run2 processed exactly
    // one pending day via the new×all path — and the PERSISTED band_keys
    // stage banded ONLY the pending day (rows_out of its non-resumed
    // metrics row == the day-4 partition of the key table), the old
    // corpus's keys being read from storage, never re-derived
    val run2m = Metrics.read(spark, root).where(col("run_id") === "run2")
    assert(run2m.where(col("stage") === "dup_pairs_incremental_days")
      .select("rows_out").as[Long].head() === 1L,
      "run2 must append exactly one pending day of pairs")
    val bkTable = spark.table(Checkpoint.bucketedTableName(root, "band_keys"))
    val bkAppended = run2m.where(col("stage") === "band_keys" && !col("resumed"))
      .select("rows_out").as[Long].head()
    assert(bkAppended === bkTable.where(col("warc_day") === lit(days(3))).count(),
      "the append run must derive band keys ONLY for the pending day")
    assert(bkAppended < bkTable.count(),
      "the key table must still carry the prior days' keys")
    val dupDays = lin.where(col("stage") === "dup_pairs")
    assert(dupDays.where(col("run_id") === "run2")
      .select("warc_day").distinct().as[java.sql.Timestamp].collect().toSet === Set(days(3)))
    assert(dupDays.select("warc_day").distinct().count() === 4,
      "dup_pairs lineage must cover all four days")
    // the day-4 partition holds only pairs involving >= 1 day-4 doc
    val day4Docs = spark.read.parquet(s"$root/docs")
      .where(col("warc_day") === lit(days(3))).select("doc_id")
      .as[Long].collect().toSet
    val day4Pairs = spark.read.parquet(s"$root/dup_pairs")
      .where(col("warc_day") === lit(days(3)))
      .select("a", "b").as[(Long, Long)].collect()
    assert(day4Pairs.forall(p => day4Docs.contains(p._1) || day4Docs.contains(p._2)),
      "appended pairs must all involve a new-day doc (new×all discipline)")

    // parity: incremental result == from-scratch run on the full input
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in4, freshRoot, cfg, "fresh")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(appended === fresh, "day-append must equal the from-scratch clusters")

    // third run with no new days: every stage resumes
    DedupMain.run(spark, in4, root, cfg, "run3").count()
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "run3" && !col("resumed")).count() === 0,
      "no-change rerun must resume every stage")
  }

  test("multi-day append: two pending days process in order, parity with from-scratch") {
    // days 1-2 built first, then days 3 AND 4 appended in ONE run: the
    // pending backlog is one new×all increment (day-3↔day-4 pairs are
    // new↔new pairs of that increment, partitioned under day 4), listed
    // through ONE famCounts barrier, and still reproduces the from-scratch
    // clusters.
    val pages = PagesGen.pages(spark, 160, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(4)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    val in2 = tmpRoot() + "/in2.parquet"
    val in4 = tmpRoot() + "/in4.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(2))).write.parquet(in2)
    pages.write.parquet(in4)
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, cfg, "base").count()
    val barriers = new java.util.concurrent.atomic.AtomicInteger()
    val appended = listening(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if x.description == graft.operators.PairPlan.FamCountsBarrier => barriers.incrementAndGet()
        case _ =>
      }
    }) {
      DedupMain.run(spark, in4, root, cfg, "app2")
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    }
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "app2" && col("stage") === "dup_pairs_incremental_days")
      .select("rows_out").as[Long].head() === 2L,
      "both pending days must go through the incremental path")
    assert(barriers.get === 1, "the two-day backlog must be listed as one pair plan")
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in4, freshRoot, cfg, "fresh2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(appended === fresh, "two-day append must equal the from-scratch clusters")
  }

  test("HOT-regime day-append: seeded verified lanes, parity with from-scratch") {
    // saltMaxBucket=8 makes the generator's 5% boilerplate clique hot in
    // every band, so the append path exercises the census-salted lane
    // forests (seeded merge-emit), not just the cold new×all listing.
    val hot = cfg.copy(saltMaxBucket = 8)
    val pages = PagesGen.pages(spark, 400, hot).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(4)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    val in3 = tmpRoot() + "/in3.parquet"
    val in4 = tmpRoot() + "/in4.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(3))).write.parquet(in3)
    pages.write.parquet(in4)
    val root = tmpRoot()
    DedupMain.run(spark, in3, root, hot, "base").count()
    val appended = DedupMain.run(spark, in4, root, hot, "app")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in4, freshRoot, hot, "fresh")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    // the appended day's lane partition equals from-scratch's (identical
    // full census), and the seeded lane ops re-examine every touched
    // lane's pairs — on this fixture the clusters coincide exactly
    assert(appended === fresh,
      s"hot append diverged: only_app=${appended.map(_._1) -- fresh.map(_._1)} " +
        s"only_fresh=${fresh.map(_._1) -- appended.map(_._1)}")
    // every appended pair row is verified by construction: re-verify the
    // day-4 partition's simhash pairs against the exact fingerprints
    val fps = spark.read.parquet(s"$root/docs")
      .select(col("doc_id"), graft.functions.Fns.simhash64(col("text"), hot).as("h"))
      .as[(Long, Long)].collect().toMap
    val day4Pairs = spark.read.parquet(s"$root/dup_pairs")
      .where(col("warc_day") === lit(days(3)) && col("family") === "simhash")
      .select("a", "b").as[(Long, Long)].collect()
    day4Pairs.foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(fps(a) ^ fps(b)) <= hot.hammingThreshold,
        s"appended simhash pair ($a,$b) is not exact-verified")
    }
  }

  test("2-pending-day HOT append: dup_pairs partitions are duplicate-free, parity holds") {
    // the VERDICT_r5 #2 contract: zero duplicate (a, b, family) rows
    // across day partitions. The backlog is one increment, so its pairs
    // are deduplicated together and its lane seed covers every stored
    // pair. The hot regime (saltMaxBucket=8 → the 5% boilerplate clique
    // salts in every band) is where drift links live; a 2-day pending
    // backlog is the geometry that re-emitted them pre-r6, when each
    // pending day was its own increment.
    val hot = cfg.copy(saltMaxBucket = 8)
    val pages = PagesGen.pages(spark, 400, hot).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(4)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    val in2 = tmpRoot() + "/in2.parquet"
    val in4 = tmpRoot() + "/in4.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(2))).write.parquet(in2)
    pages.write.parquet(in4)
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, hot, "base").count()
    val appended = DedupMain.run(spark, in4, root, hot, "app2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "app2" && col("stage") === "dup_pairs_incremental_days")
      .select("rows_out").as[Long].head() === 2L)
    // duplicate-free across ALL day partitions (within the increment via
    // Lsh.dupPairs; against the stored days via the seed)
    val pairRows = spark.read.parquet(s"$root/dup_pairs")
      .groupBy("a", "b", "family").count().where(col("count") > 1).collect()
    assert(pairRows.isEmpty,
      s"duplicate pair rows across day partitions: ${pairRows.take(5).mkString(", ")}")
    // outputs otherwise identical to from-scratch
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in4, freshRoot, hot, "fresh2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(appended === fresh)
  }

  test("crash-resume: the seed refresh covers done days the clusters snapshot misses") {
    // a previous run appended day-3's pair partition and died BEFORE its
    // clusters rebuild: the committed snapshot covers only days 1-2. The
    // resume must extend the seed over day 3's pairs before appending
    // day 4, or day-4 lanes could re-emit day-3 links (duplicate pair
    // rows) — and clusters must still equal from-scratch.
    val hot = cfg.copy(saltMaxBucket = 8)
    val pages = PagesGen.pages(spark, 400, hot).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(4)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    val in2 = tmpRoot() + "/in2.parquet"
    val in3 = tmpRoot() + "/in3.parquet"
    val in4 = tmpRoot() + "/in4.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(2))).write.parquet(in2)
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(3))).write.parquet(in3)
    pages.write.parquet(in4)
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, hot, "base").count()
    // snapshot the base clusters state (dir content + manifest)
    val savedClusters = tmpRoot() + "/saved_clusters.parquet"
    spark.read.parquet(s"$root/clusters").write.parquet(savedClusters)
    val baseManifest = Checkpoint.readManifest(spark, root, "clusters").get
    // append day 3 normally, then simulate its crash-before-clusters by
    // restoring the base snapshot + manifest (pairs/lineage keep day 3)
    DedupMain.run(spark, in3, root, hot, "app3").count()
    spark.read.parquet(savedClusters).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$root/clusters")
    Checkpoint.writeManifest(spark, root, baseManifest)
    // resume: append day 4 on the torn state
    val appended = DedupMain.run(spark, in4, root, hot, "app4")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    val dupRows = spark.read.parquet(s"$root/dup_pairs")
      .groupBy("a", "b", "family").count().where(col("count") > 1).collect()
    assert(dupRows.isEmpty,
      s"crash-resume re-emitted pairs: ${dupRows.take(5).mkString(", ")}")
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in4, freshRoot, hot, "fresh4")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(appended === fresh)
  }

  test("late-arriving day: appending a day older than a done day keeps the done day's pairs") {
    // days 1 and 3 built first, then day 2 arrives: every pair the append
    // writes goes to day 2's partition, so day 3's stored pairs survive the
    // dynamic partition overwrite
    val pages = PagesGen.pages(spark, 160, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(3)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    assert(days.length === 3)
    val in13 = tmpRoot() + "/in13.parquet"
    val in123 = tmpRoot() + "/in123.parquet"
    pages.where(date_trunc("day", col("warc_ts")) =!= lit(days(1))).write.parquet(in13)
    pages.write.parquet(in123)
    val root = tmpRoot()
    DedupMain.run(spark, in13, root, cfg, "base").count()
    def day3Rows() = spark.read.parquet(s"$root/dup_pairs")
      .where(col("warc_day") === lit(days(2)))
      .select("a", "b", "family").as[(Long, Long, String)].collect().toSet
    val day3Before = day3Rows()
    assert(day3Before.nonEmpty)
    val appended = DedupMain.run(spark, in123, root, cfg, "late")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "late" && col("stage") === "dup_pairs_incremental_days")
      .select("rows_out").as[Long].head() === 1L, "day 2 must be appended, not rebuilt")
    assert(day3Rows() === day3Before, "the done day's pairs must be unchanged")
    val dupRows = spark.read.parquet(s"$root/dup_pairs")
      .groupBy("a", "b", "family").count().where(col("count") > 1).collect()
    assert(dupRows.isEmpty, s"duplicate pair rows: ${dupRows.take(5).mkString(", ")}")
    assert(lineageDays(root, "dup_pairs", "late") === Set(days(1)))
    val freshRoot = tmpRoot()
    val fresh = DedupMain.run(spark, in123, freshRoot, cfg, "fresh")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(appended === fresh, "late-day append must equal the from-scratch clusters")
    // the fixture holds day-2↔day-3 pairs: a rule partitioning the append's
    // pairs by their docs' latest day would write them to day 3
    val docDay = spark.read.parquet(s"$root/docs").select("doc_id", "warc_day")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(spark.read.parquet(s"$freshRoot/dup_pairs").select("a", "b")
      .as[(Long, Long)].collect()
      .exists { case (a, b) => Set(docDay(a), docDay(b)) == Set(days(1), days(2)) })
  }

  /** 160 pages over 3 crawl days, written as days {1, 2} and days {1, 2, 3}. */
  private def twoThenThreeDays(): (String, String) = {
    val pages = PagesGen.pages(spark, 160, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(3)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    assert(days.length === 3)
    val in2 = tmpRoot() + "/in2.parquet"
    val in3 = tmpRoot() + "/in3.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(2))).write.parquet(in2)
    pages.write.parquet(in3)
    (in2, in3)
  }

  private def clustersOf(input: String, root: String, runId: String) =
    DedupMain.run(spark, input, root, cfg, runId)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet

  test("a full dup_pairs rebuild clusters every pair, not the older snapshot") {
    // a torn pair store forces a full rebuild; the committed clusters
    // snapshot belongs to the older pair generation (here: emptied, as a
    // stand-in for pairs a different shard count produced) and must not be
    // extended with only the uncovered day's pairs
    val (in2, in3) = twoThenThreeDays()
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, cfg, "base").count()
    val manifest = Checkpoint.readManifest(spark, root, "clusters").get
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      spark.read.parquet(s"$root/clusters").schema)
    empty.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$root/clusters")
    Checkpoint.writeManifest(spark, root, manifest)
    assert(new java.io.File(s"$root/clusters/_SUCCESS").exists())
    assert(new java.io.File(s"$root/dup_pairs/_SUCCESS").delete())
    val appended = clustersOf(in3, root, "app")
    assert(appended === clustersOf(in3, tmpRoot(), "fresh"),
      "a full pair rebuild must recluster every pair")
  }

  test("a day input after a day-less input at the same root rebuilds its pairs") {
    // the day-less build overwrote the days' pairs at this root: the done
    // days in lineage must not let the next day input append onto it
    val (in2, in3) = twoThenThreeDays()
    val asDocs = tmpRoot() + "/docs.parquet"
    DedupMain.toDocs(spark.read.parquet(in2)).drop("warc_day").write.parquet(asDocs)
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, cfg, "days").count()
    DedupMain.run(spark, asDocs, root, cfg, "dayless").count()
    val again = clustersOf(in3, root, "days3")
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "days3" && col("stage") === "dup_pairs" && !col("resumed"))
      .count() === 1, "the day input must take a full pair build")
    assert(again === clustersOf(in3, tmpRoot(), "fresh"))
  }

  test("keepBest quality dedup on the staged path: append invalidates it, parity with from-scratch") {
    val pages = PagesGen.pages(spark, 160, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(3)) * 86400L))
    val days = pages.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    val in2 = tmpRoot() + "/in2.parquet"
    val in3 = tmpRoot() + "/in3.parquet"
    pages.where(date_trunc("day", col("warc_ts")) < lit(days(2))).write.parquet(in2)
    pages.write.parquet(in3)
    val score = "octet_length(text)"
    val root = tmpRoot()
    DedupMain.run(spark, in2, root, cfg, "base", keepBest = Some(score)).count()
    val baseKept = spark.read.parquet(s"$root/deduped")
      .select("doc_id").as[Long].collect().toSet
    DedupMain.run(spark, in3, root, cfg, "app", keepBest = Some(score)).count()
    // the appended day changed the clusters → deduped must recompute
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "app" && col("stage") === "deduped" && !col("resumed"))
      .count() === 1, "append must invalidate the deduped stage")
    val appKept = spark.read.parquet(s"$root/deduped")
      .select("doc_id").as[Long].collect().toSet
    assert(appKept !== baseKept) // day-3 docs joined the corpus
    // parity: winners equal a from-scratch keepBest run on the full input
    val freshRoot = tmpRoot()
    DedupMain.run(spark, in3, freshRoot, cfg, "fresh", keepBest = Some(score)).count()
    val freshKept = spark.read.parquet(s"$freshRoot/deduped")
      .select("doc_id").as[Long].collect().toSet
    assert(appKept === freshKept, "staged keepBest must equal from-scratch winners")
    // and the policy itself matches the facade operator's semantics
    val facade = graft.Dedup.keepBest(
        spark.read.parquet(s"$freshRoot/docs"),
        spark.read.parquet(s"$freshRoot/clusters").select("doc_id", "cluster_id"),
        expr(score))
      .select("doc_id").as[Long].collect().toSet
    assert(freshKept === facade)
    // unchanged rerun resumes the deduped stage
    DedupMain.run(spark, in3, root, cfg, "rerun", keepBest = Some(score)).count()
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "rerun" && col("stage") === "deduped" && col("resumed"))
      .count() === 1, "no-change rerun must resume the deduped stage")
  }

  test("torn bucketed day stage: a day in the table but not in lineage rebuilds in full") {
    val (docs, days) = threeDayDocs()
    val root = tmpRoot()
    val tbl = Checkpoint.bucketedTableName(root, "shingled")
    val byDocId = Checkpoint.Bucketed(4, "doc_id")
    Checkpoint.stageDays(spark, root, "shingled", cfg, "run1", byDocId)(
      docs.where(col("warc_day") < lit(days(2))))(identity)
    // a killed run appended day 3 to the table and died before its lineage row
    graft.sources.TableIO.writeBucketed(docs.where(col("warc_day") === lit(days(2))),
      tbl, 4, "doc_id", Some("doc_id"), Seq("warc_day"), org.apache.spark.sql.SaveMode.Append)
    Checkpoint.stageDays(spark, root, "shingled", cfg, "run2", byDocId)(docs)(identity)
    assert(spark.table(tbl).count() === 120)
    assert(spark.table(tbl).select("doc_id").distinct().count() === 120,
      "each day must be in the table once")
    assert(lineageDays(root, "shingled", "run2") === days.toSet, "the restart must rebuild in full")
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "run2" && col("stage") === "shingled" && !col("resumed"))
      .select("rows_out").as[Long].collect().toSeq === Seq(120L))
  }

  test("torn parquet day stage: a day written without its lineage row is overwritten") {
    val (docs, days) = threeDayDocs()
    val root = tmpRoot()
    Checkpoint.stageDays(spark, root, "docs", cfg, "run1")(
      docs.where(col("warc_day") < lit(days(2))))(identity)
    // a killed run wrote day 3's partition and died before its lineage row
    docs.where(col("warc_day") === lit(days(2))).write
      .mode(org.apache.spark.sql.SaveMode.Append).partitionBy("warc_day").parquet(s"$root/docs")
    Checkpoint.stageDays(spark, root, "docs", cfg, "run2")(docs)(identity)
    val out = spark.read.parquet(s"$root/docs")
    assert(out.count() === 120)
    assert(out.select("doc_id").distinct().count() === 120, "the torn day must not double")
    assert(lineageDays(root, "docs", "run2") === Set(days(2)), "only the unrecorded day reruns")
  }

  test("day-incremental stages refuse null warc_day rows loudly") {
    // a null crawl day is invisible to day-granular resume: after the first
    // build such rows would never be pending again and would silently drop
    // out of every incremental run — the stage must refuse up front instead
    val root = tmpRoot()
    val withNullDay = DedupMain.toDocs(
      PagesGen.pages(spark, 20, cfg).toDF()
        .withColumn("warc_ts",
          when(col("url").endsWith("0"), lit(null).cast("timestamp"))
            .otherwise(col("warc_ts"))))
    val err = intercept[IllegalArgumentException] {
      Checkpoint.stageDays(spark, root, "docs", cfg, "run1")(withNullDay)(identity)
    }
    assert(err.getMessage.contains("non-null"))
  }

  test("day-less stages write null warc_day and never mark days done") {
    val root = tmpRoot()
    Checkpoint.stage(spark, root, "shingled", cfg, "run1") {
      PagesGen.docs(spark, 30, cfg).toDF()
    }
    val lin = Lineage.read(spark, root)
    assert(lin.where(col("warc_day").isNotNull).count() === 0)
    assert(Resume.doneDays(lin, cfg.configHash).count() === 0)
  }
}
