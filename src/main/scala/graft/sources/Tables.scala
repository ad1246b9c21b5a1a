package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Source/sink seam (SURVEY.md §2.1, §4.4).
 *
 * Locally everything is plain parquet under a directory; in production the
 * same calls go through `spark.read.format("iceberg")` / `writeTo` with a
 * `bucket(url) × days(warc_ts)` partition spec — no Iceberg jars ship in
 * this sandbox, so the iceberg branch is selected only when the runtime
 * provides the catalog (BASELINE.json:14 spark-submit deployment).
 */
object TableIO {
  /** Iceberg table names look like `cat.db.tbl`; anything with a '/' or a
    * parquet suffix is a local path. */
  private def isPath(ref: String): Boolean = ref.contains("/") || ref.endsWith(".parquet")

  def read(spark: SparkSession, ref: String): DataFrame =
    if (isPath(ref)) spark.read.parquet(ref)
    else spark.read.format("iceberg").load(ref)

  def write(df: DataFrame, ref: String, mode: SaveMode = SaveMode.Overwrite,
            partitionBy: Seq[String] = Nil): Unit = {
    if (isPath(ref)) {
      val w = df.write.mode(mode)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(ref)
    } else {
      df.writeTo(ref).using("iceberg").createOrReplace()
    }
  }

  /** Bucketed managed table (prod: Iceberg `bucket(n, col)`; locally the
    * session catalog's parquet bucketing). Two tables bucketed the same way
    * join WITHOUT a shuffle — the co-located-join layout for the 100 TB
    * signature/shingle tables that are re-joined every incremental run.
    * `partitionCols` layers day partitioning on top (prod: `bucket(n, col)
    * × days(warc_ts)` — the BASELINE.json:15 spec); Append mode adds new
    * partitions to an existing table with the identical spec (the
    * day-incremental stage path). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, byCol: String,
                    sortCol: Option[String] = None,
                    partitionCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w0 = df.write.mode(mode).format("parquet")
    val w = (if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0)
      .bucketBy(buckets, byCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }
}

/** Canonical `pages` shape (BASELINE.json:15) and adapters onto it. */
object Pages {
  /** SRC1 — read + prune the canonical table. `html` is only materialized
    * when `text` is null (extractor path); Catalyst column pruning keeps the
    * binary column out of the scan otherwise. */
  def scan(spark: SparkSession, ref: String, needHtml: Boolean = false): DataFrame = {
    val t = TableIO.read(spark, ref)
    if (needHtml) t else t.select("url", "warc_ts", "text", "lang")
  }

  /** Stable 64-bit doc identity: xxhash64(url) (SURVEY.md §1.2). */
  def withDocId(pages: DataFrame): DataFrame =
    pages.withColumn("doc_id", xxhash64(col("url")))
}

/** Driver testdata readers (TESTDATA.md). */
object TestData {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
