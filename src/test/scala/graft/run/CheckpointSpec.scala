package graft.run

import graft.{DedupConfig, SparkSuite}
import graft.sources.PagesGen
import org.apache.spark.sql.functions._

/** K1-K3 kill-and-resume semantics (SURVEY.md §2.9, M4). */
class CheckpointSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  test("resume gate: matching configHash skips recomputation") {
    val root = tmpRoot()
    val evals = spark.sparkContext.longAccumulator("evals")
    def build = PagesGen.docs(spark, 50, cfg).toDF()
      .map { r => evals.add(1); r.getLong(0) }.toDF("doc_id")
    val first = Checkpoint.stage(spark, root, "s1", cfg, "run1")(build)
    assert(first.count() === 50)
    val evalsAfterFirst = evals.value.longValue
    assert(evalsAfterFirst >= 50)
    val second = Checkpoint.stage(spark, root, "s1", cfg, "run2")(build)
    assert(second.count() === 50)
    assert(evals.value.longValue === evalsAfterFirst, "stage must not recompute")
  }

  test("config change invalidates the stage") {
    val root = tmpRoot()
    val evals = spark.sparkContext.longAccumulator("evals2")
    def build = PagesGen.docs(spark, 20, cfg).toDF()
      .map { r => evals.add(1); r.getLong(0) }.toDF("doc_id")
    Checkpoint.stage(spark, root, "s1", cfg, "run1")(build)
    val v1 = evals.value.longValue
    Checkpoint.stage(spark, root, "s1", cfg.copy(k = 5), "run2")(build)
    assert(evals.value.longValue > v1, "different configHash must recompute")
  }

  test("metrics and lineage tables record every stage, tagging resumes") {
    val root = tmpRoot()
    def build = PagesGen.docs(spark, 20, cfg).toDF()
    Checkpoint.stage(spark, root, "sA", cfg, "r1")(build)
    Checkpoint.stage(spark, root, "sA", cfg, "r2")(build) // resumed
    val m = Metrics.read(spark, root).orderBy("ts").collect()
    assert(m.length === 2)
    assert(m.map(_.getAs[Boolean]("resumed")).toSeq === Seq(false, true))
    val lin = Lineage.read(spark, root)
    assert(lin.count() >= 1)
    assert(lin.select("config_hash").as[String].head() === cfg.configHash)
  }

  test("reading _lineage/_metrics logs no ignored-path WARN during DedupMain.run") {
    val input = tmpRoot() + "/pages.parquet"
    PagesGen.pages(spark, 60, cfg).toDF().write.parquet(input)
    val root = tmpRoot()
    val lines = captureLog("org.apache.spark.sql.execution.datasources.DataSource") {
      DedupMain.run(spark, input, root, cfg, "r1").count()
      // the resume reads the day stages' lineage (Checkpoint.doneDaySet)
      DedupMain.run(spark, input, root, cfg, "r2").count()
      assert(Metrics.read(spark, root).where(col("run_id") === "r2").count() > 0)
    }
    val ignored = lines.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  test("end-to-end DedupMain.run is resumable and reproduces clusters") {
    val root = tmpRoot()
    val input = tmpRoot() + "/docs.parquet"
    PagesGen.docs(spark, 300, cfg).toDF().write.parquet(input)
    val c1 = DedupMain.run(spark, input, root, cfg, "r1")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(c1.nonEmpty)
    // second run: everything resumes from manifests, same result
    val c2 = DedupMain.run(spark, input, root, cfg, "r2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(c1 === c2)
    val m = Metrics.read(spark, root)
    assert(m.where(col("run_id") === "r2" && !col("resumed")).count() === 0,
      "run2 must resume every stage")
  }

  test("a bucketed stage whose table was dropped rebuilds despite its manifest") {
    val root = tmpRoot()
    val evals = spark.sparkContext.longAccumulator("evalsDropped")
    def build = PagesGen.docs(spark, 30, cfg).toDF()
      .map { r => evals.add(1); r.getLong(0) }.toDF("doc_id")
    Checkpoint.stage(spark, root, "sb", cfg, "r1", Checkpoint.Bucketed(4, "doc_id"))(build)
    val v1 = evals.value.longValue
    spark.sql(s"DROP TABLE ${Checkpoint.bucketedTableName(root, "sb")}")
    assert(Checkpoint.readManifest(spark, root, "sb").exists(_.configHash == cfg.configHash))
    val again = Checkpoint.stage(spark, root, "sb", cfg, "r2", Checkpoint.Bucketed(4, "doc_id"))(build)
    assert(evals.value.longValue > v1, "a missing table must be rebuilt, not resumed")
    assert(again.count() === 30)
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "r2" && col("stage") === "sb" && !col("resumed")).count() === 1)
  }

  test("a parquet stage whose write never committed rebuilds despite its manifest") {
    val root = tmpRoot()
    val evals = spark.sparkContext.longAccumulator("evalsTorn")
    def build = PagesGen.docs(spark, 30, cfg).toDF()
      .map { r => evals.add(1); r.getLong(0) }.toDF("doc_id")
    Checkpoint.stage(spark, root, "sp", cfg, "r1")(build)
    val v1 = evals.value.longValue
    // an Overwrite killed mid-write leaves no _SUCCESS marker
    assert(new java.io.File(s"$root/sp/_SUCCESS").delete())
    val again = Checkpoint.stage(spark, root, "sp", cfg, "r2")(build)
    assert(evals.value.longValue > v1, "a torn parquet stage must be rebuilt, not resumed")
    assert(again.count() === 30)
  }

  test("a different day-less input at the same root recomputes, then resumes") {
    // same row count, different documents: neither the configHash nor the
    // docs row count tells the two inputs apart
    val inA = tmpRoot() + "/a.parquet"
    val inB = tmpRoot() + "/b.parquet"
    PagesGen.docs(spark, 200, cfg).toDF().write.parquet(inA)
    PagesGen.docs(spark, 200, cfg).toDF()
      .withColumn("doc_id", col("doc_id") + 1000L).write.parquet(inB)
    val root = tmpRoot()
    DedupMain.run(spark, inA, root, cfg, "a").count()
    val onB = DedupMain.run(spark, inB, root, cfg, "b")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    val fresh = DedupMain.run(spark, inB, tmpRoot(), cfg, "fresh")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(onB === fresh, "input B at A's root must cluster B, not resume A's stages")
    DedupMain.run(spark, inB, root, cfg, "b2").count()
    assert(Metrics.read(spark, root)
      .where(col("run_id") === "b2" && !col("resumed")).count() === 0,
      "a rerun on the same input must resume every stage")
  }

  test("pages-shaped input: doc_id from url, E1 extraction when text null") {
    val pages = PagesGen.pages(spark, 40, cfg).toDF()
    val docs = DedupMain.toDocs(pages)
    assert(docs.where(col("text").isNull).count() === 0)
    assert(docs.select(countDistinct("doc_id")).as[Long].head() === 40)
  }
}
