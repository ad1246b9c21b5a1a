package graft

import org.apache.spark.sql.SparkSession

/** C1 — canonical session builder (SURVEY.md §2.0): AQE + skew-join on,
  * shuffle partitions sized to cores, UTC, Encoders only (no Kryo config —
  * everything on the wire is Tungsten rows). `spark-submit` deployments
  * keep their submitted master/conf; local callers get local[cores].
  *
  * Every session the engine creates starts from `base`, because the
  * generated-class cache is a static conf: `CodeGenerator` sizes its one
  * JVM-wide LRU cache from the first session that generates code. Spark's
  * default of 100 entries is smaller than one pass of this engine. Distinct
  * classes compiled per benchmark run (perfbench, 3,000 PagesGen docs, 4
  * cores): 209–215 for facade passes (`toDocs` + `Dedup.clusters`), 766–777
  * for a day build and append plus a facade pass, 860–872 for all 46
  * queries plus a stream batch. At 100 every warm facade pass evicted and
  * recompiled 195–198 classes, and every round of the q03/q07/q04/q27 pair
  * queries 26–37. `CodegenCacheEntries` holds the largest working set about
  * 2.4 times over; warm passes then compile 0–10 classes. */
object Sessions {
  val CodegenCacheEntries = 2048

  /** The confs every engine session carries, under any master. */
  def base: SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** `base` with shuffle partitions sized to `cores`. */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    base.config("spark.sql.shuffle.partitions", (2 * cores).toString)

  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
