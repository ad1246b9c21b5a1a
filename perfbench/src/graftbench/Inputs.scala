package graftbench

import graft.DedupConfig
import graft.sources.PagesGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload inputs. Every row is a pure function of (seed, row id), so a seed
  * gives the same tables at any parallelism. The seed reaches the program
  * only through the generated rows: the pipeline always runs
  * `DedupConfig.test`. */
object Inputs {
  val DefaultSeed: Long = DedupConfig.test.seed

  /** The PagesGen config for workload seed `seed`: the test profile with
    * its seed replaced by a SplitMix64 mix of `seed` (the truth pairs are
    * measured with the same config). PagesGen seeds row `id` with
    * `SplittableRandom(seed ^ id * 0x9E3779B97F4A7C15)`, and that multiplier
    * is SplittableRandom's own increment: for a seed like 1..15, `^` acts as
    * `+` on every id divisible by 16, so those base documents come out as
    * shifted copies of one token stream and the corpus is one giant
    * substring cluster. Mixing the seed keeps small seeds well-formed. */
  def genCfg(seed: Long): DedupConfig = DedupConfig.test.copy(seed = mix(seed))

  private def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Canonical pages (url, warc_ts, html, text, lang); half the rows carry a
    * null text, so `DedupMain.toDocs` runs the extractor on them. */
  def pages(spark: SparkSession, n: Int, seed: Long): DataFrame =
    PagesGen.pages(spark, n, genCfg(seed)).toDF()

  /** The pages spread over `days` crawl days by a hash of the url. */
  def pagesOverDays(spark: SparkSession, n: Int, seed: Long, days: Int): DataFrame =
    pages(spark, n, seed).withColumn("warc_ts",
      timestamp_seconds(unix_timestamp(col("warc_ts")) +
        pmod(xxhash64(col("url")), lit(days)) * 86400L))

  /** The doc_id `DedupMain.toDocs` derives for generator row `id`. */
  def pageDocIds(spark: SparkSession, n: Int): Map[Long, Long] =
    spark.range(n.toLong)
      .select(col("id"), xxhash64(concat(lit("synth://gen/"), col("id").cast("string"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Distinct planted pairs whose similarity clears the config thresholds,
    * in generator ids, restricted to the evidence `kinds` (minhash, simhash,
    * substr). */
  def truthPairs(n: Int, seed: Long,
                 kinds: Set[String] = Set("minhash", "simhash", "substr")): Seq[(Long, Long)] =
    PagesGen.truthPairsLocal(n, genCfg(seed)).filter(p => kinds(p.kind))
      .map(p => (p.a, p.b)).distinct

  /** Documents (doc_id = generator id, text, lang) with the micro-batch
    * number `pmod(xxhash64(doc_id), k)`. */
  def streamDocs(spark: SparkSession, n: Int, seed: Long, k: Int): DataFrame =
    PagesGen.docs(spark, n, genCfg(seed)).toDF()
      .withColumn("batch", pmod(xxhash64(col("doc_id")), lit(k)).cast("int"))

  /** Bits of the per-row random column `r` from position `from` up. */
  private def bits(from: Int) = shiftrightunsigned(col("r"), from)

  private def rnd(seed: Long, table: Int) =
    udf((id: Long) => new java.util.SplittableRandom(
      seed ^ (id * 0x9E3779B97F4A7C15L) ^ (table * 0xC2B2AE3D27D4EB4FL)).nextLong())

  /** `<dir>/documents.parquet` in the `TESTDATA.md` shape (doc_id, text,
    * lang, source, n_chars), rows from `PagesGen.docs`, so planted truth
    * applies. */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int): Unit =
    PagesGen.docs(spark, n, genCfg(seed)).toDF()
      .select(col("doc_id"), col("text"), col("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")

  /** The tables `SparkEntry.queries` read, written as `<dir>/<name>.parquet`
    * in the layout of the `TESTDATA.md` tables: documents (PagesGen, so q22 has
    * planted truth), embeddings, events, orders and customer. */
  def writeQueryTables(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    import spark.implicits._
    writeDocuments(spark, dir, seed, docs)

    // 64-d embeddings around 10 labelled centres
    val dim = 64
    val nVec = docs / 4
    val centre = (0 until 10).map { c =>
      val r = new java.util.SplittableRandom(seed ^ (c + 1) * 0x632BE59BD9B4E019L)
      Array.fill(dim)(r.nextGaussian())
    }
    (0 until nVec).map { i =>
      val r = new java.util.SplittableRandom(seed ^ (i.toLong * 0x9E3779B97F4A7C15L) ^ 7L)
      val label = r.nextInt(10)
      val v = centre(label).map(x => (x + 0.8 * r.nextGaussian()).toFloat)
      (i.toLong, v, label)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")

    val types = Array("click", "view", "purchase", "signup", "error")
    val nEvents = docs * 10
    spark.range(nEvents.toLong).select(col("id").as("event_id"), rnd(seed, 1)(col("id")).as("r"))
      .select(col("event_id"),
        timestamp_seconds(lit(1704067200L) + col("event_id") * 180L + pmod(col("r"), lit(180L)))
          .as("ts"),
        pmod(bits(8), lit(docs / 10 + 1)).as("user_id"),
        element_at(typedLit(types), (pmod(bits(20), lit(types.length)) + 1).cast("int"))
          .as("event_type"),
        (pmod(bits(24), lit(5000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(bits(40), lit(100L)).cast("string"), lit("}"))
          .as("props"))
      .write.parquet(s"$dir/events.parquet")

    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val nCust = docs
    spark.range(nCust.toLong).select(col("id").as("c_custkey"), rnd(seed, 2)(col("id")).as("r"))
      .select(col("c_custkey"),
        format_string("Customer#%09d", col("c_custkey")).as("c_name"),
        pmod(col("r"), lit(25)).cast("int").as("c_nationkey"),
        (pmod(bits(8), lit(1000000L)) / 100.0).as("c_acctbal"),
        element_at(typedLit(segs), (pmod(bits(32), lit(segs.length)) + 1).cast("int"))
          .as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")

    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    spark.range((nCust * 10).toLong).select(col("id").as("o_orderkey"),
        rnd(seed, 3)(col("id")).as("r"))
      .select(col("o_orderkey"),
        pmod(col("r"), lit(nCust.toLong)).as("o_custkey"),
        element_at(typedLit(Array("F", "O", "P")), (pmod(bits(16), lit(3)) + 1).cast("int"))
          .as("o_orderstatus"),
        (pmod(bits(20), lit(50000000L)) / 100.0).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + pmod(bits(24), lit(2400L)) * 86400L)
          .as("o_orderdate"),
        element_at(typedLit(prio), (pmod(bits(36), lit(prio.length)) + 1).cast("int"))
          .as("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
  }
}
