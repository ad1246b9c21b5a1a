package graft

import graft.operators.Lsh
import graft.sources.{PagesGen, Pages, TestData}
import org.apache.spark.sql.functions._

/**
 * Physical-plan assertions (SURVEY.md §4.1): the optimizations we rely on
 * at 100 TB must actually appear in the plan — column pruning keeps the
 * html binary out of scans, filters push to parquet, small dims broadcast,
 * AQE is live. These are the "would this survive a 100× scale-up" checks.
 */
class PlanSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: text-only pipeline never scans the html binary") {
    val dir = java.nio.file.Files.createTempDirectory("pages").toString + "/pages.parquet"
    PagesGen.pages(spark, 50, cfg).toDF().write.parquet(dir)
    val scan = Pages.scan(spark, dir)
    val shingles = Lsh.shingled(
      Pages.withDocId(scan).select("doc_id", "text"), cfg)
    // judge the SCAN, not the logical Relation (which always prints all cols)
    val plan = physicalPlan(shingles)
    val readSchema = plan.split("ReadSchema: ")(1).split("\n")(0)
    assert(!readSchema.contains("html"),
      s"html column must be pruned from the scan, read: $readSchema")
    assert(readSchema.contains("text"))
  }

  test("predicate pushdown: lang filter reaches the parquet scan") {
    val df = TestData.documents(spark, "/root/testdata/sf0.001")
      .where(col("lang") === "en")
      .select("doc_id")
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters") && plan.contains("lang"),
      s"expected pushed lang filter:\n$plan")
  }

  test("broadcast join: dimension side of q19 broadcasts") {
    val plan = physicalPlan(
      SparkEntry.queries("q19_seg_join")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("AQE enabled: adaptive plans wrap the pipeline") {
    val df = Lsh.minhashDupPairs(
      TestData.documents(spark, "/root/testdata/sf0.001"), cfg)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(physicalPlan(df).contains("AdaptiveSparkPlan"))
  }

  test("hot-key census join is a broadcast, not a shuffle join") {
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
    val keys = Lsh.minhashBandKeys(Lsh.signatures(Lsh.shingled(docs, cfg), cfg), cfg)
    val plan = physicalPlan(Lsh.saltBandKeys(keys, cfg))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"hot-key map must broadcast:\n$plan")
  }

  test("partition pruning: warc_day filter prunes the partitioned layout") {
    val root = java.nio.file.Files.createTempDirectory("ppart").toString + "/pages"
    val pages = PagesGen.pages(spark, 60, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) + (col("url").substr(13, 9).cast("long") % 3) * 86400L))
      .withColumn("warc_day", date_format(date_trunc("day", col("warc_ts")), "yyyy-MM-dd"))
    graft.sources.TableIO.write(pages, root, partitionBy = Seq("warc_day"))
    val scan = spark.read.parquet(root).where(col("warc_day") === "2024-01-02").select("url")
    val plan = physicalPlan(scan)
    assert(plan.contains("PartitionFilters: [") && plan.contains("warc_day"),
      s"expected partition filter:\n$plan")
    assert(scan.count() > 0)
  }

  test("day-bucketed stage table prunes partitions under a day filter") {
    // the local bucket(doc_id)×days(warc_day) managed table mirrors the
    // prod Iceberg layout — a day predicate must reach PartitionFilters
    // (file-level pruning), proving the Iceberg swap is pruning-compatible
    val root = java.nio.file.Files.createTempDirectory("pprune").toString
    val pages = PagesGen.pages(spark, 40, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(2)) * 86400L))
    val docs = graft.run.DedupMain.toDocs(pages)
    graft.run.Checkpoint.stageDays(spark, root, "docs_p", cfg, "r1",
      graft.run.Checkpoint.Bucketed(4, "doc_id"))(docs)(identity)
    val tbl = graft.run.Checkpoint.bucketedTableName(root, "docs_p")
    val day = docs.select(col("warc_day").as("d"))
      .distinct().orderBy("d").as[java.sql.Timestamp].head()
    val scan = spark.table(tbl).where(col("warc_day") === lit(day)).select("doc_id")
    val plan = physicalPlan(scan)
    assert(plan.contains("PartitionFilters: [") && plan.contains("warc_day"),
      s"expected a pushed partition filter on the bucketed day table:\n$plan")
    assert(scan.count() > 0)
  }

  test("bucketed tables join without a shuffle (co-located join layout)") {
    Seq("shingled_b", "sigs_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
    graft.sources.TableIO.writeBucketed(
      Lsh.shingled(docs, cfg), "shingled_b", 8, "doc_id")
    graft.sources.TableIO.writeBucketed(
      Lsh.signatures(Lsh.shingled(docs, cfg), cfg), "sigs_b", 8, "doc_id")
    // force the sort-merge path (tiny test tables would broadcast, which
    // is the right call at this size but doesn't exercise bucketing)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("shingled_b").join(spark.table("sigs_b"), "doc_id")
      val plan = physicalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("key-bucketed band_keys table: hot census aggregates without an Exchange") {
    // the persisted band_keys stage is bucketed by KEY so the per-append
    // hot census (groupBy key) and the new×all bucket joins read it
    // Exchange-free on the stored (heavy) side — the layout that keeps a
    // day-append's shuffle proportional to the day, not the corpus
    val t = "band_keys_plan_b"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
    val keys = Lsh.minhashBandKeys(Lsh.signatures(Lsh.shingled(docs, cfg), cfg), cfg)
      .select("doc_id", "key")
    graft.sources.TableIO.writeBucketed(
      keys.repartition(8, col("key")), t, 8, "key", Some("key"))
    val census = spark.table(t).groupBy("key").count()
    val plan = physicalPlan(census)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"census over the key-bucketed table must not shuffle:\n$plan")
    assert(census.count() > 0)
  }

  test("facade verify joins are candidate-restricted via a broadcast semi-join") {
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // the public dupPairs eagerly checkpoints (block lifecycle), which
    // hides the plan behind a LogicalRDD — judge the lazy plan it runs
    // (the shared PairPlan tail behind the all×all front-end)
    val pairPlan = Dedup.dupPairsPlan(docs, cfg)
    val plan = physicalPlan(pairPlan.pairs)
    pairPlan.release()
    // the count-gated restrictToCandidateDocs must survive into the plan:
    // the per-doc tables reach the verify joins through a LeftSemi against
    // the broadcast candidate-id list, so shingle arrays only shuffle for
    // candidate docs (the facade's 100-TB shuffle discipline)
    assert(plan.contains("LeftSemi") && plan.contains("Broadcast"),
      s"expected broadcast left-semi candidate restriction:\n$plan")
  }

  test("quality-dedup winner selection has no per-cluster window") {
    // keepBest picks each cluster's winner via a partial-aggregating
    // max(struct) groupBy — a row_number window over cluster_id would put
    // a mega-cluster on one task (same skew rule as the clusters table)
    val docs = Seq((1L, "aa"), (2L, "bbb"), (3L, "c")).toDF("doc_id", "text")
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val plan = physicalPlan(
      Dedup.keepBest(docs, asg, octet_length(col("text")).cast("long")))
    assert(!plan.contains("Window"),
      s"winner selection must not use a per-cluster window:\n$plan")
  }

  test("vocab top-k plans as TakeOrdered, no global sort materialization") {
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(graft.operators.TextOps.vocabTopK(docs, 50))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered (per-partition heap + merge):\n$plan")
  }

  test("cluster table has no per-cluster window (mega-cluster skew-safe)") {
    // a web-scale boilerplate component lands its whole `partition by
    // cluster_id` window on ONE task and AQE cannot split window skew —
    // the clusters table must be built from a groupBy + join instead
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster_id")
    val plan = physicalPlan(
      graft.operators.ConnectedComponents.clusters(assign))
    assert(!plan.contains("Window"),
      s"clusters must not use a per-cluster window:\n$plan")
  }

  test("domainStats shuffles digests, not texts: first exchange keyed (host, md5)") {
    // the distinct-count's shuffle key must include the digest so one hot
    // host (a single domain can be 1%+ of the web) spreads across reducers
    val docs = Seq(
      (1L, "dup text", "http://h.example.com/a"),
      (2L, "dup text", "http://h.example.com/b"),
      (3L, "unique", "http://h.example.com/c")).toDF("doc_id", "text", "url")
    val out = graft.operators.TextOps.domainStats(docs, col("url"), col("text"))
    out.collect() // materialize so AQE prints the FINAL plan
    val plan = physicalPlan(out)
    val keyedExchange = plan.split("\n").exists(l =>
      l.contains("Exchange hashpartitioning(host") && l.contains("md5("))
    assert(keyedExchange,
      s"expected an exchange keyed (host, md5(text)) — hot-host spread:\n$plan")
    assert(!plan.contains("Window"), s"no per-host window:\n$plan")
  }

  test("incrementalExactDedup: a fully-novel increment plans with NO join at all") {
    // the common case (most of an increment is new) must be a pure
    // map-side Bloom probe: misses union through without any join
    val nw = Seq((1L, "x text"), (2L, "y text")).toDF("doc_id", "text")
    val old = Seq((3L, "z text")).toDF("doc_id", "text")
    val plan = physicalPlan(
      graft.operators.TextOps.incrementalExactDedup(nw, old))
    assert(!plan.contains("Join"),
      s"zero Bloom hits must mean zero joins:\n$plan")
    assert(plan.contains("Union"), s"misses + (empty) hits union:\n$plan")
  }

  test("crossContamination payload joins are broadcast, never sort-merge") {
    val c = cfg.copy(gramLen = 10, winnowW = 5)
    val corpus = Seq((1L, "aaaa THE-SHARED-RUN-CONTENT bbbb")).toDF("doc_id", "text")
    val bench = Seq((2L, "cccc THE-SHARED-RUN-CONTENT dddd")).toDF("doc_id", "text")
    val plan = physicalPlan(
      graft.operators.ExactSubstr.crossContamination(corpus, bench, c))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"benchmark texts must broadcast into the verify join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("signature projection stays inside whole-stage codegen, evaluated once") {
    val docs = TestData.documents(spark, "/root/testdata/sf0.001")
    val keys = Lsh.minhashBandKeys(Lsh.signatures(Lsh.shingled(docs, cfg), cfg), cfg)
    val plan = physicalPlan(keys)
    // `*(n)` prefixes mark WholeStageCodegen stages in executedPlan rendering
    val sigLine = plan.split("\n").find(_.contains("minhash_sig")).getOrElse("")
    assert(sigLine.trim.stripPrefix("+- ").startsWith("*("),
      s"signature projection must be codegen'd:\n$plan")
    // the sig chain must be evaluated exactly once (no Filter/DataFilter dup)
    assert(plan.split("minhash_sig", -1).length - 1 === 1,
      s"minhash_sig must appear exactly once in the plan:\n$plan")
  }
}
