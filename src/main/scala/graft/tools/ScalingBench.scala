package graft.tools

import graft.DedupConfig
import graft.operators.ConnectedComponents
import graft.run.DedupMain
import graft.sources.PagesGen

/**
 * Scaling-efficiency evidence (north rule: ≥0.8 throughput efficiency from
 * N to 4N executors: same job, same input, local[N] vs local[4N]).
 *
 * The corpus is a deterministic PagesGen table written ONCE to a shared
 * path (64 parquet files so both parallelism levels see ≥64 input splits),
 * sized to be compute-bound (signature math dominates, not session
 * overhead). The job is the full pipeline: E1 extraction where text is
 * null → MinHash + SimHash + substring families → verification →
 * connected components → cluster count.
 *
 *   SPARK_GRAFT_CPUS=$(( $(nproc) / 4 )) sbt "runMain graft.tools.ScalingBench"
 *   SPARK_GRAFT_CPUS=$(nproc)          sbt "runMain graft.tools.ScalingBench"
 *   efficiency = (T_N / T_4N) / 4
 *
 * Per-layer walls, task inflation and per-query isolation are perfbench's
 * (`python3 perfbench/run.py --trace 1`); this main keeps what perfbench
 * does not run: the at-scale pipeline pair and the SPARK_GRAFT_MAIN,
 * _APPEND, _STREAM and _XOPS modes below.
 */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "60000").toInt
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val cfg = DedupConfig.test
    val corpus = s"/tmp/graft_scale_corpus_$n"
    // self-bracketing ambient calibration (VERDICT_r5 #7): measured lazily
    // at JSON-print time, so the ceiling reflects the window the measured
    // walls actually ran in
    lazy val burn = Burn.measure()

    // shuffle files on tmpfs when available: local[N] puts all N "executors"
    // on one NVMe, which saturates at ~8 writer threads and caps measured
    // thread-scaling; a real cluster has one local disk set PER executor.
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) {
        val d = new java.io.File("/dev/shm/graft-shuffle")
        d.mkdirs(); d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir")
    val spark = graft.Sessions.builder(cpus)
      .master(s"local[$cpus]")
      .appName("graft-scaling-bench")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // generate once; both parallelism levels read the identical files
    if (!new java.io.File(corpus + "/_SUCCESS").exists()) {
      PagesGen.pages(spark, n, cfg).toDF()
        .repartition(64)
        .write.mode("overwrite").parquet(corpus)
    }

    def pipelineCount(): Long = {
      val docs = DedupMain.toDocs(spark.read.parquet(corpus))
      val t0 = System.nanoTime()
      // facade path: shares the scan/extract across families and reuses
      // shingles/signatures/candidates via localCheckpoint (Dedup.dupPairs
      // runs its gating counts eagerly, so time the whole build)
      val pairs = graft.Dedup.dupPairs(docs, cfg).select("a", "b").localCheckpoint()
      val nPairs = pairs.count()
      val t1 = System.nanoTime()
      spark.sparkContext.setJobDescription("graft:cc")
      val out = ConnectedComponents.assign(pairs).count()
      spark.sparkContext.setJobDescription(null)
      val t2 = System.nanoTime()
      println(f"  phase pairs=${(t1 - t0) / 1e9}%.1fs ($nPairs) cc=${(t2 - t1) / 1e9}%.1fs")
      out
    }

    /** Stage-granular phase attribution (VERDICT_r5 #3): for every stage
      * inside a graft-labeled job, record (job phase, stage callsite, wall,
      * Σ task time, tasks). Σtask/wall is the stage's achieved parallelism
      * — the direct instrument for WHICH term stops scaling N→4N: a stage
      * whose Σtask/wall ≪ cpus is serialized (driver barrier, single-task
      * tail, skew), one whose Σtask grows with cpus is contended. Enabled
      * with SPARK_GRAFT_PHASES=1 in the default scaling mode. */
    class PhaseListener extends org.apache.spark.scheduler.SparkListener {
      import scala.collection.concurrent.TrieMap
      private val stageJob = TrieMap[Int, String]()
      private val stageT0 = TrieMap[Int, Long]()
      private val stageTaskMs = TrieMap[Int, java.util.concurrent.atomic.AtomicLong]()
      private val jobDesc = TrieMap[Int, String]()
      private val jobT0 = TrieMap[Int, Long]()
      // per-phase Σ of JOB walls — the honest critical-path time of a phase
      // (stage walls overlap within a job, so Σ-stage-wall overstates it and
      // par = Σtask/Σstagewall UNDERstates achieved parallelism)
      val jobWall = TrieMap[String, Double]()
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double, Double, Int)]()
      /** Stage identity beyond the (useless, all-identical) action callsite:
        * the distinct RDD scope names inside the stage, root-most last —
        * "Exchange", "WholeStageCodegen (3)", "mapPartitions at …" — enough
        * to pin WHICH operator a skewed/serialized stage is. */
      private def scopeOf(si: org.apache.spark.scheduler.StageInfo): String = {
        val names = si.rddInfos.sortBy(_.id).flatMap { r =>
          r.scope.map(_.name).orElse(Option(r.name))
        }.distinct
        names.takeRight(4).mkString("<")
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.startsWith("graft:")) {
          js.stageIds.foreach(stageJob(_) = desc)
          jobDesc(js.jobId) = desc
          jobT0(js.jobId) = System.nanoTime()
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        (jobDesc.remove(je.jobId), jobT0.remove(je.jobId)) match {
          case (Some(desc), Some(t0)) =>
            val w = (System.nanoTime() - t0) / 1e9
            jobWall.updateWith(desc)(prev => Some(prev.getOrElse(0.0) + w))
          case _ =>
        }
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (stageJob.contains(ss.stageInfo.stageId)) {
          stageT0(ss.stageInfo.stageId) = System.nanoTime()
          stageTaskMs(ss.stageInfo.stageId) = new java.util.concurrent.atomic.AtomicLong()
        }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        stageTaskMs.get(te.stageId).foreach(_.addAndGet(te.taskInfo.duration))
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val id = sc.stageInfo.stageId
        (stageJob.remove(id), stageT0.remove(id), stageTaskMs.remove(id)) match {
          case (Some(job), Some(t0), Some(ms)) =>
            rows.add((job, scopeOf(sc.stageInfo),
              (System.nanoTime() - t0) / 1e9, ms.get() / 1000.0,
              sc.stageInfo.numTasks))
          case _ =>
        }
      }
      def drainAndPrint(): Unit = {
        import scala.jdk.CollectionConverters._
        val all = rows.asScala.toSeq
        rows.clear()
        val byPhase = all.groupBy(_._1).view.mapValues { ss =>
          (ss.map(_._3).sum, ss.map(_._4).sum)
        }.toMap
        byPhase.toSeq.sortBy(-_._2._1).foreach { case (ph, (w, t)) =>
          val jw = jobWall.getOrElse(ph, 0.0)
          println(f"  PHASE $ph%-36s job-wall=$jw%7.1fs stage-wall-sum=$w%7.1fs task-sum=$t%8.1fs par=${t / math.max(jw, 1e-9)}%5.1f")
        }
        jobWall.clear()
        all.sortBy(-_._3).take(16).foreach { case (ph, st, w, t, n) =>
          println(f"    STAGE $ph%-34s ${st.take(72)}%-72s wall=$w%6.1fs tasks=$n%4d par=${t / math.max(w, 1e-9)}%5.1f")
        }
      }
    }
    val phaseListener =
      if (sys.env.contains("SPARK_GRAFT_PHASES")) {
        val l = new PhaseListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None

    // cross-corpus ops at scale (SPARK_GRAFT_XOPS=1): the q43 exact-
    // substring decontamination operator against a 0.1% "benchmark" split
    // (planted dups + the boilerplate clique cross the split, so the
    // witness cap and the star-free candidate path get a real stress), and
    // the q45 Bloom-prefiltered exact-dedup increment check with a 1%
    // "increment". Walls min-of-k, outputs + loud-cap counters disclosed.
    if (sys.env.contains("SPARK_GRAFT_XOPS")) {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
      val docs = DedupMain.toDocs(spark.read.parquet(corpus))
      val bench = docs.where(pmod(col("doc_id"), lit(1000)) === 0)
      val corpusSide = docs.where(pmod(col("doc_id"), lit(1000)) =!= 0)
      var contamPairs = 0L
      var droppedW = 0L
      def contam(): Double = {
        val acc = spark.sparkContext.longAccumulator("droppedWitnesses")
        val t0 = System.nanoTime()
        contamPairs = graft.operators.ExactSubstr
          .crossContamination(corpusSide, bench, cfg, droppedWitnesses = Some(acc))
          .count()
        droppedW = acc.value
        (System.nanoTime() - t0) / 1e9
      }
      val newD = docs.where(pmod(col("doc_id"), lit(100)) === 0)
      val oldD = docs.where(pmod(col("doc_id"), lit(100)) =!= 0)
      var survivors = 0L
      def inc(): Double = {
        val t0 = System.nanoTime()
        survivors = graft.operators.TextOps
          .incrementalExactDedup(newD, oldD, expectedOldItems = n.toLong).count()
        (System.nanoTime() - t0) / 1e9
      }
      contam(); inc() // warm
      val cWalls = (1 to reps).map(_ => contam())
      val iWalls = (1 to reps).map { _ =>
        val w = inc()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        w
      }
      println(s"""{"bench":"xops","docs":$n,"cpus":$cpus,""" +
        s""""contam_wall_sec":${cWalls.min},"contam_walls":[${cWalls.mkString(",")}],""" +
        s""""contam_pairs":$contamPairs,"dropped_witnesses":$droppedW,""" +
        s""""inc_wall_sec":${iWalls.min},"inc_walls":[${iWalls.mkString(",")}],""" +
        s""""inc_new_docs":${newD.count()},"inc_survivors":$survivors,${burn.json}}""")
      spark.stop(); return
    }

    // warm run (JIT + codegen), then 3 measured runs; report all and take
    // the MIN — this box shows 2-20x noisy-neighbor variance between
    // identical runs, and min-of-k is the standard noise-robust throughput
    // between-rep hygiene: drop every leftover checkpoint/cache block so a
    // rep never pays (or OOMs on) the previous rep's stale blocks
    def dropAllBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // production-path mode: time DedupMain.run (durable stage
    // materialization under a fresh root per rep — each stage's blocks are
    // released as soon as it is written, so the 4N-thread side doesn't pay
    // the whole pipeline's heap debris the facade path accumulates)
    // SPARK_GRAFT_KEEPBEST=<sql-expr>: run the production path with the
    // quality-dedup stage (the VERDICT_r5 #5 measurement — deduped stage
    // wall at scale, append invalidation behavior)
    val keepBest = sys.env.get("SPARK_GRAFT_KEEPBEST")
    if (sys.env.contains("SPARK_GRAFT_MAIN")) {
      var clustered = 0L
      def runMainOnce(rep: Int): Double = {
        val root = s"$localDir/graft_main_${cpus}_$rep"
        org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        val t0 = System.nanoTime()
        clustered = DedupMain.run(spark, corpus, root, cfg, s"bench-$cpus-$rep",
          keepBest = keepBest).count()
        val w = (System.nanoTime() - t0) / 1e9
        dropAllBlocks()
        w
      }
      runMainOnce(0) // warm
      val walls = (1 to sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt).map(runMainOnce)
      val best = walls.min
      println(s"""{"bench":"scaling-main","docs":$n,"cpus":$cpus,"wall_sec":$best,""" +
        s""""walls":[${walls.mkString(",")}],""" +
        s""""docs_per_sec":${n / best},"clustered_docs":$clustered,${burn.json}}""")
      spark.stop(); return
    }
    // day-append evidence mode: the corpus's natural warc_ts span (~11
    // synthetic days at 960k: the generator spaces docs 1 s apart) drives
    // the REAL DedupMain day machinery. Protocol: full run on all days but
    // the last, then the append run (one new day: new×all candidates +
    // touched SA shards + incremental CC), then a from-scratch run on
    // everything — append wall vs from-scratch wall is the feature's
    // headline number, and the cluster partitions are diffed label-free
    // (docs only in one run + common docs whose partition disagrees; a
    // bounded hot-bucket delta is REPORTED, cold structure must be exact).
    if (sys.env.contains("SPARK_GRAFT_APPEND")) {
      import org.apache.spark.sql.functions.{col, count, date_trunc, lit}
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val all = spark.read.parquet(corpus)
      // SPARK_GRAFT_APPEND_DAYS=k (default 1): the head run covers all but
      // the last k crawl days; the append run adds those k days in ONE
      // DedupMain invocation (the k-day backlog as one new×all increment)
      // — the append-wall-vs-#pending-days cost curve
      val pendK = sys.env.getOrElse("SPARK_GRAFT_APPEND_DAYS", "1").toInt
      require(pendK >= 1, s"SPARK_GRAFT_APPEND_DAYS must be >= 1, got $pendK")
      val days = all.select(date_trunc("day", col("warc_ts")).as("d"))
        .distinct().orderBy("d").collect().map(_.getTimestamp(0))
      require(days.length > pendK, s"append mode needs > $pendK crawl days " +
        s"(1 s doc spacing ⇒ ≥ ~173k docs); $corpus spans ${days.length} day(s)")
      val cutoff = days(days.length - pendK)
      val headPath = s"$localDir/graft_append_head_${n}_p$pendK"
      if (!new java.io.File(headPath + "/_SUCCESS").exists())
        all.where(date_trunc("day", col("warc_ts")) < lit(cutoff))
          .write.mode("overwrite").parquet(headPath)
      def timed(label: String)(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = f
        val w = (System.nanoTime() - t0) / 1e9
        dropAllBlocks()
        println(f"  $label%-14s wall=$w%8.1fs clustered=$rows")
        (w, rows)
      }
      def assignment(root: String) =
        spark.read.parquet(s"$root/clusters").select("doc_id", "cluster_id")
      val aRoot = s"$localDir/graft_append_root_${n}_p$pendK"
      val fRoot = s"$localDir/graft_full_root_${n}_p$pendK"
      Seq(aRoot, fRoot).foreach { r =>
        fs.delete(new org.apache.hadoop.fs.Path(r), true)
        // bucketed stage tables live in the warehouse dir, not under the
        // root — a stale LOCATION from a previous JVM blocks saveAsTable
        Seq("shingled", "signatures", "band_keys").foreach { st =>
          val tbl = graft.run.Checkpoint.bucketedTableName(r, st)
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          fs.delete(new org.apache.hadoop.fs.Path(s"$localDir/warehouse/$tbl"), true)
        }
      }
      val (wHead, _) = timed("head(d1..k-1)") {
        DedupMain.run(spark, headPath, aRoot, cfg, "head", keepBest = keepBest).count()
      }
      val (wAppend, cAppend) = timed("append(+dk)") {
        DedupMain.run(spark, corpus, aRoot, cfg, "append", keepBest = keepBest).count()
      }
      graft.run.Metrics.read(spark, aRoot)
        .where(col("run_id") === "append").orderBy("ts").collect()
        .foreach(r => println(f"  append-stage ${r.getAs[String]("stage")}%-28s " +
          f"rows=${r.getAs[Long]("rows_out")}%10d wall=${r.getAs[Long]("wall_ms") / 1000.0}%7.1fs " +
          f"resumed=${r.getAs[Boolean]("resumed")}"))
      val (wFull, cFull) = timed("fromscratch") {
        DedupMain.run(spark, corpus, fRoot, cfg, "full", keepBest = keepBest).count()
      }
      // Partition comparison, label-free and not inflated by mega-clusters:
      //  - docs clustered by only one run (expected: the few extra docs the
      //    incremental hot-bucket hub verifiably merged — added recall);
      //  - COMMON docs whose partition disagrees, after relabeling each
      //    side's clusters to the min doc_id among COMMON members (so an
      //    added doc taking over a cluster's canonical label doesn't count
      //    the whole cluster as "different").
      // Cold (sub-saltMaxBucket) structure is exact by construction; hot
      // buckets run under the loud-drop cap on BOTH paths, where only
      // VERIFIED pairs ever merge — deltas are added true connectivity,
      // bounded and reported rather than hidden in a boolean.
      val aA = assignment(aRoot).localCheckpoint()
      val aF = assignment(fRoot).localCheckpoint()
      val common = aA.select("doc_id")
        .join(aF.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      def relabeled(asg: org.apache.spark.sql.DataFrame) = {
        val onCommon = asg.join(common, Seq("doc_id"), "left_semi")
        val lbl = onCommon.groupBy("cluster_id")
          .agg(org.apache.spark.sql.functions.min("doc_id").as("lbl"))
        onCommon.join(lbl, "cluster_id").select("doc_id", "lbl")
      }
      val onlyAppend = aA.join(aF.select("doc_id"), Seq("doc_id"), "left_anti").count()
      val onlyFull = aF.join(aA.select("doc_id"), Seq("doc_id"), "left_anti").count()
      val disagree = relabeled(aA).withColumnRenamed("lbl", "la")
        .join(relabeled(aF).withColumnRenamed("lbl", "lf"), "doc_id")
        .where(col("la") =!= col("lf")).count()
      println(s"""{"bench":"day-append","docs":$n,"cpus":$cpus,"pending_days":$pendK,""" +
        s""""head_sec":$wHead,"append_sec":$wAppend,"full_sec":$wFull,""" +
        s""""speedup":${wFull / wAppend},"clustered_docs":$cAppend,""" +
        s""""clustered_docs_full":$cFull,""" +
        s""""docs_only_in_append":$onlyAppend,"docs_only_in_full":$onlyFull,""" +
        s""""common_docs_disagreeing":$disagree,""" +
        s""""clusters_identical":${onlyAppend + onlyFull + disagree == 0L},${burn.json}}""")
      spark.stop(); return
    }

    // streaming-bridge throughput mode: K disjoint micro-batches of the
    // corpus driven through StreamingDedup.processBatch — the foreachBatch
    // bridge's exact per-batch body (state appends, touched-key new×all,
    // verified lane forests, incremental CC, periodic compaction). The
    // claim under measure is FLATNESS: per-batch wall must track the
    // batch, not the accumulated stream (early-vs-late batch walls are
    // reported side by side), with state file counts bounded by
    // compaction. Batches split by hashed doc_id — disjoint,
    // deterministic, size n/K each.
    if (sys.env.contains("SPARK_GRAFT_STREAM")) {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val k = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "16").toInt
      val root = s"$localDir/graft_stream_root_${n}_k$k"
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      // the bytes-read column (VERDICT_r5 #1 "Done" criterion): per-batch
      // DURABLE input bytes from Hadoop FileSystem statistics (file scheme
      // — only actual file reads; Spark task inputMetrics would also count
      // resident-cache block reads). In steady state this must track the
      // batch (its corpus slice + its own pairs/clusters dirs), not the
      // accumulated state, which batches read from the resident cache.
      // NOTE: no dropAllBlocks between batches here — the resident state
      // cache IS persisted blocks; dropping them would force a rebuild
      // (and re-read) every batch, the exact O(state) behavior this
      // measures the absence of.
      import scala.jdk.CollectionConverters._
      def fileBytesRead(): Long =
        org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
          .filter(s => s.getScheme == "file")
          .map(s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L))
          .sum
      val measured = (0 until k).map { i =>
        val b = DedupMain.toDocs(spark.read.parquet(corpus))
          .where(pmod(xxhash64(col("doc_id")), lit(k)) === i)
        val b0 = fileBytesRead()
        val t0 = System.nanoTime()
        val rep = graft.streaming.StreamingDedup.processBatch(b, i.toLong, cfg, root)
        val w = (System.nanoTime() - t0) / 1e9
        val mb = (fileBytesRead() - b0) / 1e6
        // VERDICT_r6 #7: per-batch streaming keepBest at scale — the
        // consumer query (quality dedup over the CURRENT snapshot against
        // the full doc table), timed with its kept-doc count disclosed
        val kb = if (sys.env.contains("SPARK_GRAFT_STREAM_KEEPBEST")) {
          val docsAll = DedupMain.toDocs(spark.read.parquet(corpus))
          val t1 = System.nanoTime()
          val kept = graft.streaming.StreamingDedup.keepBest(docsAll, root,
            org.apache.spark.sql.functions.octet_length(col("text")).cast("long")).count()
          f" keepbest=${(System.nanoTime() - t1) / 1e9}%5.1fs kept=$kept%8d"
        } else ""
        println(f"  stream-batch $i%3d wall=$w%7.1fs src=${rep.stateSource}%-13s durable_read=$mb%8.1f MB resident_probes=${rep.residentRowsProbed}%9d resident_matches=${rep.residentRowsMatched}%9d$kb")
        (w, mb)
      }
      val walls = measured.map(_._1)
      val bytesMb = measured.map(_._2)
      val clustered = graft.streaming.StreamingDedup.latestClusters(spark, root).count()
      def stateFiles(dir: String): Int = {
        val p = new org.apache.hadoop.fs.Path(s"$root/$dir")
        if (!fs.exists(p)) 0
        else {
          val it = fs.listFiles(p, true)
          var c = 0
          while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) c += 1 }
          c
        }
      }
      def avg(xs: Seq[Double]) = xs.sum / xs.length
      println(s"""{"bench":"stream","docs":$n,"cpus":$cpus,"batches":$k,""" +
        s""""total_sec":${walls.sum},"first4_avg_sec":${avg(walls.take(4))},""" +
        s""""last4_avg_sec":${avg(walls.takeRight(4))},""" +
        s""""read_mb_per_batch":[${bytesMb.map(b =>
            "%.1f".formatLocal(java.util.Locale.ROOT, b)).mkString(",")}],""" +
        s""""first4_avg_read_mb":${avg(bytesMb.take(4))},""" +
        s""""last4_avg_read_mb":${avg(bytesMb.takeRight(4))},""" +
        s""""docs_per_sec":${n / walls.sum},"clustered_docs":$clustered,""" +
        s""""state_files":{"keys":${stateFiles("keys")},"keys_sh":${stateFiles("keys_sh")},""" +
        s""""shingled":${stateFiles("shingled")},"simhashes":${stateFiles("simhashes")}},${burn.json}}""")
      spark.stop(); return
    }

    if (!sys.env.contains("SPARK_GRAFT_NOWARM")) {
      pipelineCount(); dropAllBlocks()
      phaseListener.foreach(_.drainAndPrint()) // warm rep, discarded
    }
    var clustered = 0L
    val walls = (1 to sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt).map { r =>
      val t0 = System.nanoTime()
      clustered = pipelineCount()
      val w = (System.nanoTime() - t0) / 1e9
      dropAllBlocks()
      phaseListener.foreach { l => println(s"  phase split, rep $r:"); l.drainAndPrint() }
      w
    }
    val best = walls.min
    println(s"""{"bench":"scaling","docs":$n,"cpus":$cpus,"wall_sec":$best,""" +
      s""""walls":[${walls.mkString(",")}],""" +
      s""""docs_per_sec":${n / best},"clustered_docs":$clustered,${burn.json}}""")
    spark.stop()
  }
}
