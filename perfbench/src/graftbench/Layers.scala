package graftbench

import graft.SparkEntry

/** Metric names: the end-to-end set printed with `--trace 0` and the
  * per-layer set printed with `--trace 1`. Every workload prints the whole
  * set; a layer a workload does not reach reads 0. */
object Layers {
  val endToEnd: Seq[String] =
    Seq("setup_s", "cpu_p50_s", "wall_min_s", "recall")

  /** Layers the batch_dedup isolation pass runs one after another. */
  val isolated: Seq[String] = Seq("extract", "functions", "lsh.listing", "lsh.verify",
    "exactsubstr", "cc")

  /** The facade's own job labels (`spark.job.description`) by metric prefix. */
  val facadePhases: Seq[(String, String)] = Seq(
    "listing_prep" -> "graft:listing-prep",
    "listing_substr" -> "graft:listing-substr",
    "famcounts_barrier" -> "graft:listings-famcounts-barrier",
    "verify_union" -> "graft:verify-union-ckpt")

  /** The benchmark's label around the facade's cc call. */
  val ccLabel = "graftbench:cc"

  lazy val queryMetrics: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.map(q => s"sparkentry.$q.wall_s")

  lazy val names: Seq[String] =
    isolated.flatMap(l => Seq("wall_s", "task_s", "par", "shuffle_mb", "jobs", "task_inflation")
      .map(m => s"$l.$m")) ++
    Seq("lsh.candidates", "lsh.verify.yield", "lsh.hot_lane_pairs", "exactsubstr.pairs",
      "cc.edges_in", "cc.clustered_docs") ++
    facadePhases.flatMap { case (p, _) => Seq("wall_s", "task_s", "par").map(m => s"dedup.$p.$m") } ++
    Seq("dedup.reconcile_frac", "dedup.pass_wall_s") ++
    Seq("jobs", "task_s", "durable_read_mb", "durable_write_mb")
      .map(m => s"streaming.${m}_per_batch") ++
    Seq("streaming.state_files", "streaming.wall_p50_s") ++
    Seq("full", "append").flatMap(r =>
      Seq("jobs", "task_s", "par", "written_mb", "files_written").map(m => s"run.$r.$m")) ++
    queryMetrics ++
    Seq("wall_p50_s", "jit_p50_s", "peak_rss_mb", "full_s", "append_s",
      "wall_p75_s", "log.error_events", "trace.overhead_s")

  def unit(name: String): String = {
    val base = name.stripSuffix("_per_batch")
    val last = base.split('.').last
    if (base.endsWith("_s")) "s"
    else if (base.endsWith("_mb")) "MB"
    else if (last == "par" || last == "task_inflation") "ratio"
    else if (last.endsWith("frac") || last == "yield") "frac"
    else "count"
  }
}
