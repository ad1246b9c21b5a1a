package graft.tools

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` of every SparkEntry query (or a
  * comma-separated subset in args(1)) to <outDir>/<query>_<tag>.txt in ONE
  * session — the plans/r07 before/after evidence generator; a one-query
  * subset writes that query's plan alone.
  * Usage: runMain graft.tools.ExplainAll <outDir> [q03_...,q04_...] [tag] [sfDir]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val subset: Option[Set[String]] =
      if (args.length > 1 && args(1).nonEmpty && args(1) != "all") Some(args(1).split(",").toSet)
      else None
    val tag = if (args.length > 2) args(2) else "before"
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Sessions.local(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (subset.forall(_.contains(name))) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          println(s"[explain] wrote $name")
        } catch {
          case e: Throwable => System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
