package graft.run

import graft.{DedupConfig, Sessions}
import graft.functions.Fns
import graft.operators.{ConnectedComponents, ExactSubstr, LocalCheckpoints, Lsh, PairPlan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * EP2 — the spark-submit pipeline entry (SURVEY.md §3, BASELINE.json:14):
 *
 *   spark-submit --master <cluster|local[N]> --class graft.run.DedupMain \
 *     app.jar <inputParquetOrTable> <outRoot> [k=3] [bands=32] ...
 *
 * Stages materialize to `<outRoot>/<stage>` via the Checkpoint resume gate:
 * a killed run restarted with the same config skips every completed stage;
 * any config change (different configHash) recomputes from the first
 * affected stage; a different day-less input at the same root too.
 * Checkpoint alone commits, detects torn and resumes stages; this object
 * keeps its own decisions: each stage's layout, the dup_pairs resume /
 * day-append / full-build choice (shard hysteresis, the lane seed) and the
 * pairs' generation-day partitioning. dup_pairs is built once per run:
 * every input day as new (full build), or the whole pending-day backlog as
 * ONE new×all increment against the done days — one plan, one write, one
 * commit. Metrics and per-partition lineage append under
 * `<outRoot>/_metrics` / `_lineage`.
 *
 * Accepts either the canonical pages shape (url, warc_ts, html, text,
 * lang) — extracting text with E1 where null and deriving doc_id =
 * xxhash64(url) — or a documents shape (doc_id, text, lang). The shape
 * decides only the stage gate (per crawl day with warc_ts, whole without)
 * and the resume key (the docs row count, or the input's identity); every
 * stage builder, the dup_pairs build and the clusters stage are shared.
 */
object DedupMain {

  /** All args are parsed first and the config constructed ONCE at the end —
    * the bands×rows==numPerm invariant must not fire on intermediate states
    * (`numPerm=64 bands=16` is valid but unreachable arg-by-arg). */
  def parseConfig(args: Seq[String]): DedupConfig = {
    val kv = args.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => sys.error(s"bad config arg (want key=value): $a")
      }
    }.toMap
    val known = Set("k", "numPerm", "bands", "rows", "jaccard", "hamming",
      "gramLen", "winnowW", "saltMaxBucket", "substrMinFrac", "substrShards",
      "pairListMaxClique", "simhashBlocks", "shingleUnit", "seed")
    kv.keys.find(!known.contains(_)).foreach(k => sys.error(s"unknown config arg: $k"))
    val d = DedupConfig.test
    def i(k: String, dv: Int) = kv.get(k).map(_.toInt).getOrElse(dv)
    DedupConfig(
      shingleUnit = kv.getOrElse("shingleUnit", d.shingleUnit),
      k = i("k", d.k),
      numPerm = i("numPerm", d.numPerm),
      bands = i("bands", d.bands),
      rows = i("rows", d.rows),
      jaccardThreshold = kv.get("jaccard").map(_.toDouble).getOrElse(d.jaccardThreshold),
      hammingThreshold = i("hamming", d.hammingThreshold),
      gramLen = i("gramLen", d.gramLen),
      winnowW = i("winnowW", d.winnowW),
      substrMinFrac = kv.get("substrMinFrac").map(_.toDouble).getOrElse(d.substrMinFrac),
      substrShards = i("substrShards", d.substrShards),
      pairListMaxClique = i("pairListMaxClique", d.pairListMaxClique),
      saltMaxBucket = i("saltMaxBucket", d.saltMaxBucket),
      simhashBlocks = i("simhashBlocks", d.simhashBlocks),
      seed = kv.get("seed").map(java.lang.Long.decode(_).longValue).getOrElse(d.seed))
  }

  /** Normalize any accepted input shape to (doc_id, text, lang, warc_day).
    * `warc_day` (day-truncated warc_ts, null for day-less inputs) rides
    * along so the docs stage's lineage rows carry the crawl-day partition
    * value — the key `Resume.doneDays` resumes on. */
  def toDocs(input: DataFrame): DataFrame = {
    val cols = input.columns.toSet
    val day =
      if (cols.contains("warc_ts")) date_trunc("day", col("warc_ts"))
      else lit(null).cast("timestamp")
    if (cols.contains("url")) {
      // canonical pages: extract when text is null, stable id from url
      input.select(
        xxhash64(col("url")).as("doc_id"),
        coalesce(col("text"), Fns.htmlToText(col("html"))).as("text"),
        col("lang"),
        day.as("warc_day"))
    } else {
      input.select(col("doc_id"), col("text"), col("lang"), day.as("warc_day"))
    }
  }

  /** The full pipeline, stage-checkpointed under `root`. Returns clusters.
    *
    * `keepBest` (CLI arg `keepBest=<sql-expr>`) additionally materializes
    * the quality-aware dedup stage `<root>/deduped`: every cluster keeps
    * its highest-scoring member (`Dedup.keepBest` — the training-data
    * "keep the best copy" policy, q33's operator on the spark-submit
    * path). The expression is evaluated over the docs stage's columns.
    * Its stage key folds the CLUSTERS stage's own key plus the score
    * expression, so a config change, an input change, an appended day or a
    * different score each invalidate it, while a pure resume reuses it. */
  def run(spark: SparkSession, inputRef: String, root: String, cfg: DedupConfig,
          runId: String = java.util.UUID.randomUUID().toString,
          keepBest: Option[String] = None): DataFrame = {
    // durable RDD checkpoints (CC iteration snapshots) live under the run
    // root — same filesystem as the stage outputs, survives executor loss
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(s"$root/_ckpt")

    val raw = graft.sources.TableIO.read(spark, inputRef)
    // The input shape decides only the stage gate and the resume key. An
    // input carrying warc_ts (BASELINE.json:15 `days(warc_ts)`
    // partitioning) is staged per crawl day: a day-append run builds docs,
    // shingles, signatures and band keys for the NEW days only and appends
    // their partitions. A day-less document table is staged whole, keyed by
    // its identity: its ref and file list (a listing, no data scan), so
    // another input at the same root recomputes instead of resuming the old
    // input's stages. Every stage body below serves both shapes.
    val dayGranular = raw.columns.contains("warc_ts")
    val rawKey = s"input=${Checkpoint.md5((inputRef +: raw.inputFiles.sorted).mkString("\n"))}"
    def stage(name: String, layout: Checkpoint.Layout = Checkpoint.Parquet, extraKey: String = rawKey)
             (build: => DataFrame): DataFrame =
      Checkpoint.stage(spark, root, name, cfg, runId, layout, extraKey)(build)
    /** A stage fed by `input`: `build` runs over its pending crawl days, or
      * over all of it when the input is day-less. */
    def inputStage(name: String, layout: Checkpoint.Layout = Checkpoint.Parquet)(input: DataFrame)
                  (build: DataFrame => DataFrame): DataFrame =
      if (dayGranular) Checkpoint.stageDays(spark, root, name, cfg, runId, layout)(input)(build)
      else stage(name, layout)(build(input))
    val docs = inputStage("docs")(toDocs(raw))(identity)
    // shingles + signatures are the tables every verify join (and every
    // incremental re-run) re-joins on doc_id — bucketing them by doc_id
    // makes those joins Exchange-free on this (heavy) side
    val buckets = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val byDocId = Checkpoint.Bucketed(buckets, "doc_id")
    val shingled = inputStage("shingled", byDocId)(docs) { d =>
      d.select(col("doc_id"), Fns.shingleHashes(col("text"), cfg).as("shingles"),
               col("warc_day"))
    }
    val signatures = inputStage("signatures", byDocId)(docs) { d =>
      // one pass over the pending days' docs computes both fingerprints
      // (same expression composition as the batch/streaming paths)
      d.select(col("doc_id"),
               Fns.minhashSig(Fns.shingleHashes(col("text"), cfg), cfg).as("minhash"),
               Fns.simhash64(col("text"), cfg).as("simhash"),
               col("warc_day"))
    }
    // the global stages below consume ALL days — a day-append changes their
    // input, which the configHash alone cannot see: fold the docs row count
    // into their resume keys so stale reuse is impossible (a day-less input
    // is named by rawKey already)
    val inputKey =
      if (dayGranular)
        s"docs_rows=${Checkpoint.readManifest(spark, root, "docs").map(_.rowCount).getOrElse(-1L)}"
      else rawKey

    /** Raw (unsalted) per-doc band keys for BOTH banded families — the
      * persisted band_keys stage's content: (doc_id, key, family, simhash
      * [, warc_day]). sh rows carry the fingerprint (+8 B/row) for the
      * in-task verified-forest listing; mh rows carry a null. Salting /
      * hot-census is NOT stored: it is a census over the whole corpus
      * (which every append would invalidate), recomputed at listing time
      * from the materialized key table — one pruned groupBy, no
      * re-derivation. warc_day rides through (the band-key builders pass
      * non-signature columns through), so the stage partitions by crawl
      * day and a day-append bands ONLY pending days; a day-less root
      * written before the signatures carried it has none. */
    def rawBandKeys(sigs: DataFrame): DataFrame = {
      val carry =
        if (sigs.columns.contains("warc_day")) Seq(col("warc_day")) else Nil
      val mh = Lsh.minhashBandKeys(
          sigs.select((col("doc_id") +: col("minhash") +: carry): _*), cfg)
        .select((Seq(col("doc_id"), col("key")) ++ carry): _*)
        .withColumn("family", lit("minhash"))
        .withColumn("simhash", lit(null).cast("long"))
      val sh = Lsh.simhashBandKeys(
          sigs.select((col("doc_id") +: col("simhash") +: carry): _*), cfg,
          carryHash = true)
        .select((Seq(col("doc_id"), col("key"), col("simhash")) ++ carry): _*)
        .withColumn("family", lit("simhash"))
      mh.unionByName(sh)
    }
    // band_keys is bucketed by KEY (day inputs: warc_day partitions ×
    // bucket(n, key)) — the census groupBy and every bucket join on `key`
    // read it Exchange-free on this heavy side. The r4 append path
    // re-derived the OLD corpus's keys from signatures on every appended
    // day — corpus×52 posexplode + shuffles + a corpus-key block cache,
    // measured ~80% of the append wall; now the old side is a
    // partition-pruned scan of this stage and only pending days are banded.
    val bandKeys = inputStage("band_keys", Checkpoint.Bucketed(buckets, "key"))(signatures) { sigs =>
      // align writer tasks with the bucket spec: one file per bucket per
      // day, not one per task per bucket
      rawBandKeys(sigs).repartition(buckets, col("key"))
    }
    // the band index is folded into `key` (Lsh.minhashBandKeys /
    // simhashBandKeys), so the bucket identity downstream is (key, salt)
    def keys(fam: String) = bandKeys.where(col("family") === fam)
    // Substring sharding scales with corpus bytes (determinism: a pure
    // function of input content, not parallelism — ExactSubstr.shardsFor is
    // the single source of truth shared with the Dedup facade/SparkEntry).
    // The shard count is folded into the dup_pairs manifest key, so a
    // restart against a corpus that grew past a shard boundary recomputes
    // (full path) or day-appends (incremental path) instead of silently
    // reusing stale pairs. One column-pruned scan of the materialized docs
    // stage.
    val totalTextBytes = ExactSubstr.totalTextBytes(docs)
    val substrShards = ExactSubstr.shardsFor(totalTextBytes, cfg)
    val dupDir = s"$root/dup_pairs"
    // the last COMMITTED pair store: a full Overwrite that crashed mid-write
    // leaves a partial dir while OLDER per-day lineage (same bare
    // configHash) survives — resuming or appending onto it would silently
    // lose the old days' pairs. `_SUCCESS` only exists after a completed job
    // commit (a torn dynamic overwrite keeps the previous commit's marker
    // AND its partial files invisible in _temporary).
    val prevDup = Checkpoint.current(spark, root, "dup_pairs")
    // the loud-cap counter sink of every pair build (one slot per family)
    val counters = PairPlan.Counters(
      spark.sparkContext.longAccumulator("minhash_lane_suppressed_pairs"),
      spark.sparkContext.longAccumulator("simhash_starcap_suppressed_pairs"),
      spark.sparkContext.longAccumulator("substr_starcap_dropped_pairs"))

    // the input's crawl days, ascending; a day-less input's one value is
    // the null day, which no lineage row ever marks done
    val inDays: Seq[java.sql.Timestamp] =
      docs.select("warc_day").distinct().collect()
        .map(_.getTimestamp(0)).toSeq.sortBy(d => Option(d).map(_.getTime))
    // The clusters manifest key encodes WHICH pair-days its snapshot covers.
    // raw epoch MILLIS per day, not /86400000: the division assumes UTC
    // midnights, and a non-UTC session's local midnights would truncate
    // to the wrong day — the incremental branch would then silently
    // never trigger (the parse could not reconstruct the real
    // timestamps). Raw millis round-trip identically in any timezone.
    def dayListKey(days: Seq[java.sql.Timestamp]): String =
      "pair_days=" + days.map(_.getTime).sorted.mkString("+")
    // pair-days of the last committed clusters snapshot of this config's day
    // path; None without one (a clusters Overwrite that crashed mid-write
    // leaves no _SUCCESS — reading the partial dir as the previous
    // assignment would silently drop components; a full pair build drops
    // the manifest)
    def prevCovered(): Option[Set[java.sql.Timestamp]] = {
      val prefix = Checkpoint.stageKey(cfg, dayListKey(Nil))
      Checkpoint.current(spark, root, "clusters").map(_.configHash)
        .filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).split("\\+").filter(_.nonEmpty)
          .map(s => new java.sql.Timestamp(s.toLong)).toSet)
    }
    def snapshot(): DataFrame =
      spark.read.parquet(s"$root/clusters").select("doc_id", "cluster_id")
    def onDays(days: Iterable[java.sql.Timestamp]) =
      col("warc_day").isin(days.toSeq.map(x => x: Any): _*)

    // The pair store: partitioned by the pair's GENERATION day (the latest
    // NEW crawl day among its two docs — the day the pair first became
    // generable in day-ordered processing; null for a day-less input), with
    // per-day lineage rows under the BARE configHash so day bookkeeping
    // survives input-key changes. Three states:
    //  1. the committed manifest was built from this input (same config,
    //     same input key) → resume;
    //  2. the committed store is a day store at the same configHash and
    //     lineage covers a strict subset of the input days → DAY-APPEND: the
    //     pending days are ONE increment costing new×all candidate
    //     generation + verify, not all×all (the streaming bridge's
    //     discipline, ported);
    //  3. otherwise (first build / config change / shrunk input / a
    //     day-less input) → full build, every input day new.
    // States 2 and 3 build one plan, write it once and commit once.
    val doneDays = Checkpoint.doneDaySet(spark, root, "dup_pairs", cfg.configHash)
    // the committed build's (input key, substr_shards). The shard count is
    // PINNED across appends (shard assignment must match the accumulated
    // pair table), with hysteresis: once the corpus outgrows ~2× the
    // per-shard byte target, fall back to a full rebuild at a fresh
    // byte-scaled count — amortized O(log growth) rebuilds.
    val builtKeyRe =
      (java.util.regex.Pattern.quote(cfg.configHash) + ":([^;]*);substr_shards=(\\d+)").r
    val prevKeyInfo: Option[(String, Int)] = prevDup.map(_.configHash).collect {
      case builtKeyRe(k, s) => (k, s.toInt)
    }
    val dupPairs: DataFrame =
      if (prevKeyInfo.exists(_._1 == inputKey)) {
        Metrics.append(spark, root, runId,
          Seq(Metrics.Row("dup_pairs", prevDup.get.rowCount, 0L, resumed = true)))
        spark.read.parquet(dupDir)
      } else {
        val t0 = System.nanoTime()
        // a day-less build at this root overwrote every day's pairs, so
        // only a store built from days can take an append
        val prevShards = prevKeyInfo.filter(_._1.startsWith("docs_rows=")).map(_._2)
        val append = prevShards.exists(s => totalTextBytes <= 2L * s * ExactSubstr.TargetShardBytes) &&
          doneDays.nonEmpty && doneDays.subsetOf(inDays.toSet)
        val newDays = if (append) inDays.filterNot(doneDays.contains) else inDays
        val shards = if (append) prevShards.get else substrShards
        val isNew = onDays(newDays)
        // a full build replaces every day's pairs (at a new shard count the
        // done days' substring pairs change): forget the clusters snapshot
        // of the old pairs before writing, so neither this run nor one that
        // resumes it extends that snapshot instead of clustering every pair
        if (!append) Checkpoint.drop(spark, root, "clusters")
        // the append's lane seed (`Lsh.lanePairs`' union-find seed; sound
        // merge-emit, see Lsh.seedUnion) must cover every pair written so
        // far: the last committed clusters snapshot, extended once over
        // the done days it misses — a run that wrote pairs and died before
        // its clusters rebuild (all done days when there is no snapshot).
        // Read lazily: the clusters stage overwrites that dir only later.
        val seed: Option[DataFrame] = if (!append) None else {
          val covered = prevCovered()
          val missed = doneDays -- covered.getOrElse(Set.empty)
          val snap = covered.map(_ => snapshot())
          if (missed.isEmpty) snap
          else Some(ConnectedComponents.extend(snap, spark.read.parquet(dupDir).where(onDays(missed)))
            .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
        }
        // the full build's loud-cap drop estimates (Lsh.saltedDropEstimate
        // contract), recorded before listing
        val estimates = if (append) Nil else PairPlan.labelled(spark, PairPlan.ListingPrep) {
          Seq("minhash", "simhash").map { fam =>
            Metrics.Row(s"salted_drop_est_$fam", Lsh.saltedDropEstimate(keys(fam), cfg), 0L)
          }
        }
        // band keys come from storage on BOTH sides (r4 re-derived and
        // block-cached corpus×52 keys from signatures per appended day —
        // measured ~80% of the append wall); each leg of the new×all
        // operator re-scans the day-pruned, key-bucketed table
        def sideKeys(side: org.apache.spark.sql.Column, fam: String) =
          keys(fam).where(side).select("doc_id", "key")
        // payload: the doc_id-bucketed stage rows of the requested ids
        def rows(stage: DataFrame, payload: String)(ids: DataFrame): DataFrame =
          stage.select("doc_id", payload).join(ids, Seq("doc_id"), "left_semi")
        // Full build: the all×all plan over the persisted raw band keys
        // (salted at listing time) and the doc_id-bucketed fingerprint
        // stages. Append: cap = saltMaxBucket for BOTH families: below it
        // the new×all listing is exact (the batch path's cold cliques
        // restricted to new-involving pairs); above it, the census-salted
        // lanes use the IDENTICAL salt formula as the batch build and are
        // resolved in-task by the family's exact-verified forest — no
        // unverified edge anywhere. A touched lane may expose an old↔old
        // drift link (census growth co-locating a pair no earlier lane
        // saw), emitted deliberately (added true connectivity); the seed
        // covers every stored pair, so no link is emitted twice.
        val plan =
          if (!append) PairPlan.allVsAll(keys("minhash"), keys("simhash"), shingled,
            signatures.select("doc_id", "simhash"), cfg,
            Some(ExactSubstr.substrDupPairs(docs, cfg, Some(shards), _)), Some(counters))
          else PairPlan.newVsAll(
            PairPlan.Increment(sideKeys(isNew, "minhash"), sideKeys(!isNew, "minhash"),
              rows(shingled, "shingles")),
            PairPlan.Increment(sideKeys(isNew, "simhash"), sideKeys(!isNew, "simhash"),
              rows(signatures, "simhash")),
            seed, cfg,
            Some(ExactSubstr.substrDupPairsIncremental(
              docs.where(isNew), docs.where(!isNew), cfg, shards, _)),
            Some(counters))
        // generation day = the latest new day among the pair's docs; an
        // old↔old drift link falls back to the latest new day. Only new
        // days' partitions are written, so the append's dynamic overwrite
        // never replaces a done day (a late day older than a done one
        // included) and a torn append overwrites itself.
        def newDay(id: String) =
          docs.where(isNew).select(col("doc_id").as(id), col("warc_day").as(s"nd_$id"))
        plan.materialize { pairs =>
          Checkpoint.Parquet.write(pairs
            .join(newDay("a"), Seq("a"), "left").join(newDay("b"), Seq("b"), "left")
            .withColumn("warc_day",
              coalesce(greatest(col("nd_a"), col("nd_b")), lit(newDays.lastOption.orNull)))
            .select("a", "b", "family", "warc_day"), root, "dup_pairs", Seq("warc_day"),
            addDays = append)
        }
        plan.release()
        seed.foreach(LocalCheckpoints.release)
        val out = spark.read.parquet(dupDir)
        val perDay = out.groupBy("warc_day").count().collect()
          .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
        val total = perDay.values.sum
        val wallMs = (System.nanoTime() - t0) / 1000000L
        // every new day is now covered — zero-pair days included, or the
        // append gate would reprocess them forever. ';' separates the key's
        // parts: the manifest's flat JSON parser treats ',' as a field
        // delimiter, so a comma inside the key would corrupt the readback
        Checkpoint.commit(spark, root, runId,
          Some(Checkpoint.Manifest("dup_pairs",
            Checkpoint.stageKey(cfg, s"$inputKey;substr_shards=$shards"), total, wallMs)),
          estimates ++ Seq(
            if (append) Metrics.Row("dup_pairs_incremental_days", newDays.size.toLong, wallMs)
            else Metrics.Row("dup_pairs", total, wallMs),
            Metrics.Row("substr_shards", shards.toLong, 0L),
            Metrics.Row("substr_starcap_dropped_pairs", counters.substr.value, 0L),
            // exact (task-counted) redundant-for-connectivity verified pairs
            // the simhash forest suppressed — loud cap, never silent
            Metrics.Row("simhash_starcap_suppressed_pairs", counters.simhash.value, 0L),
            // minhash hot lanes: pairs skipped as already-connected through
            // verified edges (upper bound on redundant verified pairs) — loud
            Metrics.Row("minhash_lane_suppressed_pairs", counters.minhash.value, 0L)),
          Lineage.days("dup_pairs", cfg.configHash, newDays.map(d => d -> perDay.getOrElse(d, 0L))))
        out
      }

    // An append run finds its predecessor covering a strict subset of the
    // pair-days and rebuilds incrementally — CC over the previous
    // assignment's contracted star edges (cluster_id IS a member doc_id, so
    // those rows span every prior component) ∪ only the NEW days' pairs.
    // Cost per append: O(clusters + new pairs), not O(total pair history) —
    // the same bound the streaming bridge's incremental CC runs at. A
    // crashed predecessor (pairs appended, clusters stale) parses as a
    // smaller covered set and still rebuilds from exactly the missing
    // days' pairs. Without a usable snapshot (a day-less input, a full pair
    // build) it is CC over every pair. The key is the pair-day list, or the
    // input's identity for a day-less input.
    var prev: Option[DataFrame] = None
    val clustersOut = stage("clusters", extraKey = if (dayGranular) dayListKey(inDays) else rawKey) {
      val cov = prevCovered().filter(c => c.nonEmpty && c.subsetOf(inDays.toSet))
      // eager: the stage write overwrites the dir being read
      prev = cov.map(_ => snapshot()
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
      ConnectedComponents.clusters(ConnectedComponents.extend(prev,
        cov.fold(dupPairs)(c => dupPairs.where(onDays(inDays.filterNot(c.contains))))))
    }
    // the stage is written and read back: the snapshot copy is dead
    prev.foreach(LocalCheckpoints.release)

    keepBest.foreach { scoreExpr =>
      // key = clusters' own (already input+day-discriminating) manifest key
      // + the score expression, both hashed (a raw SQL expression would
      // break the flat-JSON manifest parser)
      val clusterKey = Checkpoint.readManifest(spark, root, "clusters")
        .map(_.configHash).getOrElse("")
      stage("deduped",
        extraKey = s"clusters=${Checkpoint.md5(clusterKey)};score=${Checkpoint.md5(scoreExpr)}") {
        graft.Dedup.keepBest(docs,
          clustersOut.select("doc_id", "cluster_id"), expr(scoreExpr))
      }
    }
    clustersOut
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DedupMain <input> <outRoot> [k=..] [bands=..] [keepBest=<sql-expr>] ...")
    val (inputRef, root) = (args(0), args(1))
    // keepBest is a RUN policy (which copy to keep), not a clustering knob:
    // it must not perturb configHash, so it is split off before parseConfig
    val (kbArgs, cfgArgs) = args.drop(2).partition(_.startsWith("keepBest="))
    val keepBest = kbArgs.lastOption.map(_.split("=", 2)(1))
    val cfg = parseConfig(cfgArgs.toSeq)
    // spark-submit injects spark.master (and keeps its own partition
    // count); default to local[cores] otherwise
    val cores = Runtime.getRuntime.availableProcessors
    val spark = (if (sys.props.contains("spark.master")) Sessions.base
                 else Sessions.builder(cores).master(s"local[$cores]"))
      .appName("graft-dedup")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clusters = run(spark, inputRef, root, cfg, keepBest = keepBest)
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nDocs = clusters.count()
    val dedupedField = keepBest.map { _ =>
      s""","deduped_docs":${spark.read.parquet(s"$root/deduped").count()}"""
    }.getOrElse("")
    println(s"""{"configHash":"${cfg.configHash}","clustered_docs":$nDocs,"clusters":$nClusters$dedupedField,"out":"$root"}""")
    spark.stop()
  }
}
