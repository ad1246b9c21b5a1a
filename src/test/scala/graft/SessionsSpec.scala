package graft

import graft.run.DedupMain
import graft.sources.PagesGen
import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds a whole facade pass: a warm pass reuses
  * the classes the earlier passes compiled instead of recompiling them. */
class SessionsSpec extends SparkSuite {
  private val cfg = DedupConfig.test

  test("the session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
  }

  test("a warm facade pass reuses the generated classes of the earlier passes") {
    val pagesDir = java.nio.file.Files.createTempDirectory("graft-sessions").toString + "/pages"
    PagesGen.pages(spark, 600, cfg).toDF().write.parquet(pagesDir)
    def pass() = Dedup.clusters(DedupMain.toDocs(spark.read.parquet(pagesDir)), cfg)
      .collect().toSet
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = pass()
    assert(pass() === first)
    val before = compiled()
    assert(pass() === first)
    val recompiled = compiled() - before
    assert(recompiled <= 10, s"the third pass compiled $recompiled classes")
  }
}
