package graft.run

import graft.{DedupConfig, SparkSuite}

class ResumeSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test

  test("doneDays filters lineage by configHash and status") {
    val lineage = Seq(
      ("d1", cfg.configHash, "ok"),
      ("d2", cfg.configHash, "failed"),
      ("d3", "otherhash", "ok")
    ).toDF("warc_day", "config_hash", "status")
    val done = Resume.doneDays(lineage, cfg.configHash).as[String].collect()
    assert(done.toSeq === Seq("d1"))
  }
}
