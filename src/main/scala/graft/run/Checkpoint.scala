package graft.run

import graft.DedupConfig
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * K1/K2/K3 — stage checkpointing, resume gate, metrics + lineage
 * (SURVEY.md §2.9; BASELINE.json:14 "resumable from checkpoint with
 * per-partition lineage and metrics tables").
 *
 * Every pipeline stage materializes to `<root>/<stage>/` with a manifest
 * recording the DedupConfig hash. On restart, a stage whose manifest hash
 * matches is *reused, not recomputed* (the resume gate); any config change
 * invalidates downstream stages automatically because the hash differs.
 * Uses the Hadoop FileSystem API throughout, so the same code runs on
 * local disk, HDFS, or object stores.
 */
object Checkpoint {

  final case class Manifest(stage: String, configHash: String, rowCount: Long, wallMs: Long)

  private def manifestPath(root: String, stage: String) = new Path(s"$root/$stage/_graft_manifest.json")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a parquet table whose directory name starts with `_` (the
    * `_metrics`/`_lineage` tables) by its data files, listed here: Spark
    * treats such a read root as hidden and logs `All paths were ignored`
    * although the rows are read. Files named `_…`/`.…` are skipped, as
    * Spark skips them. */
  private[run] def readHidden(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    spark.read.parquet(fs(spark, p).listStatus(p).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(_.toString).toIndexedSeq: _*)
  }

  def readManifest(spark: SparkSession, root: String, stage: String): Option[Manifest] = {
    val p = manifestPath(root, stage)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      // flat, trusted JSON written by writeManifest below
      def field(k: String): String =
        body.split("\"" + k + "\"\\s*:\\s*")(1).split("[,}]")(0).trim.stripPrefix("\"").stripSuffix("\"")
      Some(Manifest(field("stage"), field("configHash"), field("rowCount").toLong, field("wallMs").toLong))
    }
  }

  private[run] def writeManifest(spark: SparkSession, root: String, m: Manifest): Unit = {
    val p = manifestPath(root, m.stage)
    val f = fs(spark, p)
    val out = f.create(p, true)
    val json = s"""{"stage":"${m.stage}","configHash":"${m.configHash}","rowCount":${m.rowCount},"wallMs":${m.wallMs}}"""
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Forget a stage's last commit: without its manifest no later run
    * resumes or extends the stage's rows. */
  private[run] def drop(spark: SparkSession, root: String, stage: String): Unit = {
    val p = manifestPath(root, stage)
    fs(spark, p).delete(p, false)
  }

  private[run] def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Stable managed-table name for a bucketed stage (the metastore is
    * session-global, so the root path is folded in to keep concurrent runs
    * apart). */
  def bucketedTableName(root: String, stage: String): String = s"graft_${stage}_${md5(root).take(8)}"

  /** Where a stage's rows live. Each layout keeps its own torn-write rule:
    * what proves its last write committed, and whether a day written but
    * not recorded in lineage can be repaired in place. */
  sealed trait Layout {
    def read(spark: SparkSession, root: String, name: String): DataFrame
    def committed(spark: SparkSession, root: String, name: String): Boolean
    /** Full build (`partitionCols` empty for a whole stage), or with
      * `addDays` the pending days' rows of a `warc_day`-partitioned stage. */
    def write(df: DataFrame, root: String, name: String, partitionCols: Seq[String],
              addDays: Boolean): Unit
    /** Days in storage that `done` does not record force a full rebuild. */
    def rebuildOnTorn: Boolean
  }

  /** Plain parquet under `<root>/<stage>`. `_SUCCESS` exists only after a
    * completed job commit, so an Overwrite killed mid-write is never read
    * back as the stage. A day append uses dynamic partition overwrite: a run
    * killed between the data write and the lineage append leaves the day
    * written but unrecorded, and the restart's rewrite replaces that
    * partition instead of double-appending rows. */
  case object Parquet extends Layout {
    def read(spark: SparkSession, root: String, name: String): DataFrame =
      spark.read.parquet(s"$root/$name")
    def committed(spark: SparkSession, root: String, name: String): Boolean = {
      val p = new Path(s"$root/$name/_SUCCESS")
      fs(spark, p).exists(p)
    }
    def write(df: DataFrame, root: String, name: String, partitionCols: Seq[String],
              addDays: Boolean): Unit = {
      val w = df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      (if (addDays) w.option("partitionOverwriteMode", "dynamic") else w).parquet(s"$root/$name")
    }
    val rebuildOnTorn = false
  }

  /** A managed table bucketed+sorted by `byCol` (locally parquet bucketing;
    * Iceberg `bucket(n, col)` in prod via the TableIO seam), so every later
    * join on `byCol` — the verify joins each incremental re-run repeats —
    * reads the table WITHOUT an Exchange on this side. Day stages partition
    * it by `warc_day` on top (the local mirror of Iceberg `bucket(n, doc_id)
    * × days(warc_ts)`). saveAsTable(Append) cannot do dynamic partition
    * overwrite, so a day in the table but not in lineage (a run killed
    * between the data and lineage appends) triggers a full rebuild — a rare
    * crash costs one recompute, never silent row duplication. Prod Iceberg
    * replaces the append with an atomic REPLACE PARTITIONS commit. */
  final case class Bucketed(buckets: Int, byCol: String) extends Layout {
    def read(spark: SparkSession, root: String, name: String): DataFrame =
      spark.table(bucketedTableName(root, name))
    def committed(spark: SparkSession, root: String, name: String): Boolean =
      spark.catalog.tableExists(bucketedTableName(root, name))
    def write(df: DataFrame, root: String, name: String, partitionCols: Seq[String],
              addDays: Boolean): Unit =
      graft.sources.TableIO.writeBucketed(df, bucketedTableName(root, name), buckets, byCol,
        Some(byCol), partitionCols, if (addDays) SaveMode.Append else SaveMode.Overwrite)
    val rebuildOnTorn = true
  }

  /** Manifest key for a stage: the configHash, optionally extended with an
    * input-derived discriminator (`extraKey`). The dup_pairs stage folds its
    * byte-scaled substring shard count in, so a resume against a GROWN
    * corpus (different shard composition ⇒ different within-shard pair
    * sets at the same configHash) is detected and recomputed instead of
    * silently reusing stale pairs; global stages downstream of the
    * day-incremental ones fold the docs row count in for the same reason
    * (a day-append must invalidate them). */
  def stageKey(cfg: DedupConfig, extraKey: String): String = {
    require(!extraKey.exists(c => c == ',' || c == '}' || c == '"'),
      s"extraKey must survive the flat-JSON manifest parser: $extraKey")
    if (extraKey.isEmpty) cfg.configHash else s"${cfg.configHash}:$extraKey"
  }

  /** The manifest of a stage whose last write committed; None when the
    * stage was never built or its storage is torn or gone. */
  def current(spark: SparkSession, root: String, name: String,
              layout: Layout = Parquet): Option[Manifest] =
    readManifest(spark, root, name).filter(_ => layout.committed(spark, root, name))

  /** Days already recorded done by `stage` at this configHash — driver-side
    * (day cardinality is tiny: one per crawl day). Empty when no lineage
    * exists yet. */
  private[run] def doneDaySet(spark: SparkSession, root: String, stage: String,
                              configHash: String): Set[java.sql.Timestamp] = {
    val linPath = new Path(s"$root/_lineage")
    if (!fs(spark, linPath).exists(linPath)) Set.empty
    else Resume.doneDays(
        Lineage.read(spark, root).where(col("stage") === stage), configHash)
      .collect().map(_.getTimestamp(0)).toSet
  }

  /** Distinct `warc_day` values of a day-carrying input — one column-pruned
    * pass (prod Iceberg answers this from partition metadata without
    * scanning data files). LOUD on nulls: a null crawl day is invisible to
    * day-granular resume — after the initial build, such rows would never
    * be pending and thus be silently dropped from every incremental run.
    * Refusing up front (on the full build too) turns silent data loss into
    * an immediate, explained error. */
  private def dayValues(input: DataFrame): Set[java.sql.Timestamp] = {
    val vals = input.select("warc_day").distinct().collect()
      .map(r => Option(r.getTimestamp(0))).toSet
    require(!vals.contains(None),
      "day-incremental stage requires a non-null warc_ts/warc_day on every " +
        "row: null-day rows are invisible to day-granular resume and would " +
        "be silently lost on incremental runs — stamp a real crawl " +
        "timestamp, or use the day-less stage path for this input")
    vals.flatten
  }

  /**
   * Run (or resume) one whole stage: if its manifest carries the current
   * configHash (+ extraKey) and `layout` holds a committed write, read it
   * back; otherwise compute `build`, write it + manifest + metrics/lineage
   * rows, and read back (so downstream always consumes the materialized,
   * lineage-truncated form).
   */
  def stage(spark: SparkSession, root: String, name: String, cfg: DedupConfig,
            runId: String, layout: Layout = Parquet, extraKey: String = "")
           (build: => DataFrame): DataFrame =
    gate(spark, root, name, stageKey(cfg, extraKey), runId, layout, None)(_ => build)

  /**
   * Day-incremental stage (K2 at crawl-day granularity — the unit prod
   * Iceberg partitions on, BASELINE.json:15 `days(warc_ts)`): output is
   * partitioned by `warc_day`, and a re-run at the SAME configHash builds
   * only the input days this stage's lineage has not recorded, adding
   * them while prior days' files stay untouched — a new crawl day costs one
   * day's compute, not a corpus recompute. A configHash change still
   * recomputes everything (the resume contract). `input` must carry a
   * non-null `warc_day` column; `build` must preserve it.
   */
  def stageDays(spark: SparkSession, root: String, name: String, cfg: DedupConfig,
                runId: String, layout: Layout = Parquet)
               (input: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val inDays = dayValues(input) // also validates: nulls are refused loudly
    gate(spark, root, name, cfg.configHash, runId, layout, Some(inDays)) { pending =>
      build(pending.fold(input)(ds => input.where(col("warc_day").isin(ds: _*))))
    }
  }

  /** The one resume gate. `inDays` is None for a whole stage. `build` gets
    * the days to add, or None for a full build. */
  private def gate(spark: SparkSession, root: String, name: String, key: String,
                   runId: String, layout: Layout, inDays: Option[Set[java.sql.Timestamp]])
                  (build: Option[Seq[java.sql.Timestamp]] => DataFrame): DataFrame = {
    val prev = current(spark, root, name, layout).filter(_.configHash == key)
    // None: full build; Some(days): resume when empty, else add those days
    val pending: Option[Seq[java.sql.Timestamp]] = prev.flatMap { _ =>
      inDays.fold(Option(Seq.empty[java.sql.Timestamp])) { in =>
        val done = doneDaySet(spark, root, name, key)
        val torn = layout.rebuildOnTorn &&
          (dayValues(layout.read(spark, root, name)) -- done).nonEmpty
        if (torn) None else Some((in -- done).toSeq)
      }
    }
    if (pending.exists(_.isEmpty)) {
      Metrics.append(spark, root, runId, Seq(Metrics.Row(name, prev.get.rowCount, 0L, resumed = true)))
      layout.read(spark, root, name)
    } else {
      val t0 = System.nanoTime()
      layout.write(build(pending), root, name, inDays.map(_ => "warc_day").toSeq,
        addDays = pending.isDefined)
      val out = layout.read(spark, root, name)
      val added = pending.fold(out)(ds => out.where(col("warc_day").isin(ds: _*)))
      val addedRows = added.count()
      // manifest rowCount is a FULL recount, not previous+new: after a
      // torn run (crash between manifest write and lineage append) the
      // restart recomputes the day, and an incremental sum would count it
      // twice — drifting the docs_rows resume key and metrics. Parquet
      // footer counts make the recount metadata-cheap.
      val rows = if (pending.isEmpty) addedRows else out.count()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      commit(spark, root, runId, Some(Manifest(name, key, rows, wallMs)),
        Seq(Metrics.Row(name, addedRows, wallMs)), Lineage.rows(name, key, added))
      out
    }
  }

  /** A stage's commit point, in this order: its manifest (when it has one
    * to move), its metrics rows in one append, then its lineage rows. The
    * manifest precedes lineage: a run killed between them leaves the
    * build's days unrecorded, so the restart redoes them rather than
    * trusting unwritten ones. */
  private[run] def commit(spark: SparkSession, root: String, runId: String,
                          manifest: Option[Manifest], metrics: Seq[Metrics.Row],
                          lineage: Seq[Lineage.Row]): Unit = {
    manifest.foreach(writeManifest(spark, root, _))
    Metrics.append(spark, root, runId, metrics)
    Lineage.append(spark, root, runId, lineage)
  }
}

/** SNK2/K3 — append-only metrics table at `<root>/_metrics`. */
object Metrics {
  final case class Row(stage: String, rowsOut: Long, wallMs: Long, resumed: Boolean = false)

  /** All rows of one commit point in one write. */
  def append(spark: SparkSession, root: String, runId: String, rows: Seq[Row]): Unit = {
    import spark.implicits._
    val ts = java.time.Instant.now().toString
    rows.map(r => (runId, r.stage, r.rowsOut, r.wallMs, r.resumed, ts))
      .toDF("run_id", "stage", "rows_out", "wall_ms", "resumed", "ts")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$root/_metrics")
  }

  def read(spark: SparkSession, root: String): DataFrame =
    Checkpoint.readHidden(spark, s"$root/_metrics")
}

/** SNK3/K3 — per-partition lineage rows at `<root>/_lineage`: which input
  * partitions (crawl days → Iceberg `days(warc_ts)` partitions in prod)
  * produced each stage output, keyed by configHash for the resume gate.
  *
  * When the stage output carries a `warc_day` column (the docs stage does,
  * via `DedupMain.toDocs`), lineage aggregates per crawl day and stamps it —
  * that column is what `Resume.doneDays` reads for partial-partition
  * restarts. Day-less stages fall back to spark_partition_id with a null
  * warc_day, so the schema is uniform across stages. */
object Lineage {
  final case class Row(stage: String, inputPartition: Int, warcDay: java.sql.Timestamp,
                       rows: Long, configHash: String)

  /** The lineage rows of a stage output: one per crawl day, or per spark
    * partition when it has no `warc_day`. Numbered DRIVER-side (tiny by
    * construction), so no unpartitioned window funnels them through one
    * task. */
  def rows(stage: String, configHash: String, df: DataFrame): Seq[Row] =
    if (df.columns.contains("warc_day"))
      days(stage, configHash, df.groupBy(col("warc_day")).agg(count(lit(1))).collect().toSeq
        .map(r => (r.getTimestamp(0), r.getLong(1)))
        // null day (a day-less input routed through a warc_day-carrying
        // schema) sorts first; doneDays ignores null-day rows downstream
        .sortBy(t => Option(t._1).map(_.getTime).getOrElse(Long.MinValue)))
    else
      df.groupBy(spark_partition_id()).agg(count(lit(1))).collect().toSeq
        .map(r => Row(stage, r.getInt(0), null, r.getLong(1), configHash))
        .sortBy(_.inputPartition)

  /** Driver-built day rows for stages whose output is not itself
    * day-stamped row-by-row (the pair table: a pair SPANS days; its
    * generation day is an attribute, not a grouping of output rows).
    * Every listed day is marked done — including zero-row days, which must
    * still be recorded or the append gate would reprocess them forever. */
  def days(stage: String, configHash: String,
           dayRows: Seq[(java.sql.Timestamp, Long)]): Seq[Row] =
    dayRows.zipWithIndex.map { case ((d, n), i) => Row(stage, i + 1, d, n, configHash) }

  def append(spark: SparkSession, root: String, runId: String, rows: Seq[Row]): Unit =
    if (rows.nonEmpty) {
      import spark.implicits._
      rows.map(r => (runId, r.stage, r.inputPartition, r.warcDay, r.rows, r.configHash, "ok"))
        .toDF("run_id", "stage", "input_partition", "warc_day", "rows",
              "config_hash", "status")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$root/_lineage")
    }

  def read(spark: SparkSession, root: String): DataFrame =
    Checkpoint.readHidden(spark, s"$root/_lineage")
}

/** K2/J3 — partition-level resume filter: the crawl days already processed
  * at a configHash, which the day gates subtract from their input days.
  * Local parquet mirrors the prod Iceberg layout (`days(warc_ts)`
  * partitioning). */
object Resume {
  /** Days recorded done in a lineage table for a config (null warc_day rows
    * — day-less stages — are never "done days"). Feed `Lineage.read(spark,
    * root)` straight in; `Lineage.append` stamps warc_day at write time. */
  def doneDays(lineage: DataFrame, configHash: String): DataFrame =
    lineage.where(col("config_hash") === configHash && col("status") === "ok"
                    && col("warc_day").isNotNull)
      .select(col("warc_day")).distinct()
}
