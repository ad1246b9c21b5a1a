package graft.run

import graft.{Dedup, DedupConfig, SparkSuite}
import graft.sources.PagesGen
import org.apache.spark.sql.functions._

/** EP2 pipeline-vs-facade parity and CLI config coverage. */
class DedupMainSpec extends SparkSuite {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-main").toString

  test("parseConfig round-trips every cluster-affecting knob into configHash") {
    // every value differs from the default (so dropping any arg must change
    // the config), and bands×rows==numPerm only holds for the full set —
    // parseConfig must not enforce the invariant on intermediate states
    val args = Seq(
      "k=4", "numPerm=64", "bands=8", "rows=8", "jaccard=0.7", "hamming=2",
      "gramLen=80", "winnowW=40", "saltMaxBucket=500", "substrMinFrac=0.3",
      "substrShards=32", "pairListMaxClique=100", "simhashBlocks=5",
      "shingleUnit=char", "seed=42")
    val parsed = DedupMain.parseConfig(args)
    val expected = DedupConfig.test.copy(
      k = 4, numPerm = 64, bands = 8, rows = 8, jaccardThreshold = 0.7,
      hammingThreshold = 2, gramLen = 80, winnowW = 40, saltMaxBucket = 500,
      substrMinFrac = 0.3, substrShards = 32, pairListMaxClique = 100,
      simhashBlocks = 5, shingleUnit = "char", seed = 42L)
    assert(parsed === expected)
    assert(parsed.configHash === expected.configHash)
    // every arg must matter: dropping any one changes the parsed config
    // (or makes it unconstructible, e.g. breaking bands×rows==numPerm)
    args.indices.foreach { i =>
      val without = scala.util.Try(DedupMain.parseConfig(args.patch(i, Nil, 1)))
      assert(without.toOption.forall(_ !== parsed),
        s"arg ${args(i)} had no effect on the config")
    }
  }

  test("bucketed shingled stage: verify join needs no Exchange on the shingle side") {
    val cfg = graft.DedupConfig.test
    val input = tmpRoot() + "/docs.parquet"
    PagesGen.docs(spark, 200, cfg).toDF().write.parquet(input)
    val root = tmpRoot()
    DedupMain.run(spark, input, root, cfg, "r1")
    val shingled = spark.table(Checkpoint.bucketedTableName(root, "shingled"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def verifyPlan(sh: org.apache.spark.sql.DataFrame): String = {
        // the persisted stage stores RAW keys; salt applies on read
        val cands = graft.operators.Lsh.candidatePairs(
          graft.operators.Lsh.saltBandKeys(
            spark.table(Checkpoint.bucketedTableName(root, "band_keys"))
              .where(org.apache.spark.sql.functions.col("family") === "minhash")
              .select("doc_id", "key"),
            cfg))
        graft.operators.Lsh.verifyJaccard(cands, sh, cfg)
          .queryExecution.executedPlan.toString
      }
      val bucketedPlan = verifyPlan(shingled)
      assert(bucketedPlan.contains("Bucketed: true"),
        s"shingle scans must be bucketed:\n$bucketedPlan")
      def exchanges(p: String) = p.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      val plainPlan = verifyPlan(
        graft.operators.Lsh.shingled(spark.read.parquet(s"$root/docs"), cfg))
      assert(exchanges(bucketedPlan) < exchanges(plainPlan),
        s"bucketing must remove the shingle-side exchanges " +
          s"(${exchanges(bucketedPlan)} vs ${exchanges(plainPlan)})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("spark-submit pipeline candidate pairs match the Dedup facade on a hot corpus") {
    // saltMaxBucket small enough that the 5% hot boilerplate docs trip the
    // census: the dup_pairs stage must keep is_hot so its star-vs-clique
    // discipline (and thus its pair set) is identical to the facade's.
    val cfg = DedupConfig.test.copy(saltMaxBucket = 8)
    val n = 400
    assert(PagesGen.docs(spark, n, cfg).toDF()
      .where(col("text").startsWith("this site uses cookies")).count() > 8,
      "fixture must have a hot bucket larger than saltMaxBucket")
    val input = tmpRoot() + "/docs.parquet"
    PagesGen.docs(spark, n, cfg).toDF().write.parquet(input)
    val root = tmpRoot()
    DedupMain.run(spark, input, root, cfg, "r1")

    val pipelinePairs = spark.read.parquet(s"$root/dup_pairs")
      .select("a", "b", "family").as[(Long, Long, String)].collect().toSet
    val facadePairs = Dedup.dupPairs(PagesGen.docs(spark, n, cfg).toDF(), cfg)
      .select("a", "b", "family").as[(Long, Long, String)].collect().toSet
    assert(pipelinePairs === facadePairs,
      "pipeline and facade must produce the same pair set at the same configHash")
  }

  test("pages over crawl days and the same corpus as a day-less table give one result") {
    // one PagesGen corpus through both input shapes: the shape picks only
    // the stage gate and the resume key, so pairs and clusters must agree
    val cfg = DedupConfig.test
    val pages = PagesGen.pages(spark, 240, cfg).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(unix_timestamp(col("warc_ts")) +
          pmod(xxhash64(col("url")), lit(3)) * 86400L))
    val pagesIn = tmpRoot() + "/pages.parquet"
    val docsIn = tmpRoot() + "/docs.parquet"
    pages.write.parquet(pagesIn)
    DedupMain.toDocs(pages).drop("warc_day").write.parquet(docsIn)
    assert(spark.read.parquet(pagesIn)
      .select(date_trunc("day", col("warc_ts"))).distinct().count() >= 2)
    def result(input: String) = {
      val root = tmpRoot()
      val clusters = DedupMain.run(spark, input, root, cfg, "r1")
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
      val pairs = spark.read.parquet(s"$root/dup_pairs")
        .select("a", "b", "family").as[(Long, Long, String)].collect().toSet
      (pairs, clusters)
    }
    val (dayPairs, dayClusters) = result(pagesIn)
    val (docPairs, docClusters) = result(docsIn)
    assert(dayPairs.nonEmpty && dayClusters.nonEmpty)
    assert(dayPairs === docPairs, "both input shapes must list the same dup_pairs")
    assert(dayClusters === docClusters, "both input shapes must give the same clusters")
  }
}
