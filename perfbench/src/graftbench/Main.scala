package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Dedup, DedupConfig, Sessions, SparkEntry}
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh}
import graft.run.DedupMain
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The repository benchmark. One run = one workload at one seed:
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * It generates the workload's input from the seed, times calls into the
 * public entry points, checks the outputs, and prints one JSON result as its
 * last stdout line; the exit code is 0 only when every check passed.
 *
 *  - batch_dedup: pages -> `DedupMain.toDocs` -> `Dedup.clusters`, repeated.
 *  - lsh_pairs: the per-family pair queries (`LshQueries`), round after
 *    round, over a seeded documents table.
 *
 * `--trace 1` registers a SparkListener, records spans around the calls and
 * prints the per-layer metrics instead of the end-to-end ones. Its
 * batch_dedup run warms up on a `DedupMain.run` day append and adds a
 * layer-isolation pass (at local[nproc] and at local[1]); its lsh_pairs run
 * is one pass of all `SparkEntry.queries` and a
 * `StreamingDedup.processBatch` micro-batch window.
 */
object Main {
  val Cfg: DedupConfig = DedupConfig.test

  // ---- sizes (fixed: the inputs depend only on the seed)
  val BatchDocs = 3000
  /** untimed facade passes before the timed ones: HotSpot's compile work
    * still falls steeply over the first passes */
  val WarmPasses = 2
  /** timed facade passes per run, at least (more while --seconds lasts) */
  val MinPasses = 2
  val DayDocs = 1500
  /** crawl days; the full run covers all but the last */
  val Days = 3
  val StreamDocs = 2600
  /** micro-batches of the stream corpus; batch 0 bootstraps the root */
  val StreamBatches = 13
  /** the traced stream window: always batches 1..StreamWindow (batch 1 is
    * the first state merge; one batch keeps a traced run inside its limit) */
  val StreamWindow = 1
  val QueryDocs = 1000
  val LshDocs = 3000
  /** the per-family pair queries timed by lsh_pairs, one round = each once */
  val LshQueries = Seq("q03_dup_pairs_minhash", "q07_simhash_pairs", "q04_clusters",
    "q27_family_overlap")
  /** the query a traced lsh_pairs run times without and with the listener */
  val OverheadQuery = "q03_dup_pairs_minhash"
  /** untimed lsh_pairs rounds before the timed ones, as for `WarmPasses` */
  val WarmRounds = 2
  /** timed lsh_pairs rounds per run, at least (more while --seconds lasts) */
  val MinRounds = 2
  /** input set-ups per untraced run (setup_s is their median); a traced
    * run, which does not report setup_s, sets up once */
  val SetupReps = 7

  val Workloads = Seq("batch_dedup", "lsh_pairs")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, commit: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), java.lang.Long.decode(kv.getOrElse("seed", Inputs.DefaultSeed.toString)),
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("work"), kv.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${Workloads.mkString(", ")}")
    val b = new Bench(a)
    val ok =
      try { b.run(); b.correct }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      }
    if (b.started) println(b.resultJson(ok))
    System.out.flush()
    b.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

final class Bench(a: Main.Args) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val work = new java.io.File(a.work).getAbsoluteFile
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private val problems = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  private var errors: ErrorCounter = _
  private val tracer = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
  private var ledger: Ledger = _
  var started = false
  private var spark: SparkSession = _

  def correct: Boolean = problems.isEmpty && attempted > 0 && failed == 0

  // ---- session and helpers ---------------------------------------------
  private def session(n: Int): SparkSession = {
    val s = Sessions.builder(n)
      .master(s"local[$n]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def dir(name: String): String = {
    val f = new java.io.File(work, name); f.mkdirs(); f.getAbsolutePath
  }

  def stop(): Unit = if (spark != null) scala.util.Try(spark.stop())

  private def problem(msg: String): Unit = {
    System.err.println(s"[graftbench] CHECK FAILED: $msg")
    problems += msg
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** One timed unit's wall, the CPU seconds the whole JVM used meanwhile
    * (every thread: tasks, driver, GC, JIT), and the part of that time the
    * JIT compiler reports (a diagnostic). */
  private case class Sample(name: String, wall: Double, cpu: Double, jit: Double)
  private val samples = mutable.ArrayBuffer[Sample]()

  /** End-to-end metrics of a workload from its untraced timed units. */
  private def unitMetrics(units: Seq[Sample]): Unit = {
    e2e("cpu_p50_s") = (Checks.median(units.map(_.cpu)), "s")
    e2e("wall_min_s") = (units.map(_.wall).min, "s")
    layer("wall_p50_s") = (Checks.median(units.map(_.wall)), "s")
    layer("jit_p50_s") = (Checks.median(units.map(_.jit)), "s")
  }

  /** JIT compilation seconds so far, as HotSpot reports them. */
  private def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU seconds this JVM has used, all threads. */
  private def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One timed unit: counted as attempted; a failure counts as failed and
    * its wall is left out. */
  private def unit[T](name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = now()
    val c0 = cpuS()
    val j0 = jitS()
    try {
      val (out, _) = tracer.span(name)(f)
      val w = now() - t0
      val (cpu, jit) = (cpuS() - c0, jitS() - j0)
      System.err.println(f"[graftbench] unit $name%s wall $w%.3f s cpu $cpu%.3f s jit $jit%.3f s")
      samples += Sample(name, w, cpu, jit)
      Some((out, w))
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] unit $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Untimed calls before the timed units, so that lazy set-up is done. */
  private def warmup[T](f: => T): T = {
    val (out, s) = tracer.span("warmup")(f)
    System.err.println(f"[graftbench] warmup wall ${(s.endMs - s.startMs) / 1e3}%.3f s")
    out
  }

  /** The input set-up, `SetupReps` times (once when traced); setup_s is the
    * median. Returns every repetition's result. */
  private def setup[T](f: Int => T): Seq[T] = {
    val runs = (0 until (if (a.trace) 1 else SetupReps)).map { i =>
      val t0 = now()
      val out = tracer.span(s"setup.$i")(f(i))._1
      val w = now() - t0
      System.err.println(f"[graftbench] setup $i%d wall $w%.3f s")
      (out, w)
    }
    e2e("setup_s") = (Checks.median(runs.map(_._2)), "s")
    runs.map(_._1)
  }

  private def attachLedger(): Unit = {
    ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
  }

  private def pinCheck(what: String, got: Any, pinned: Option[Any]): Unit = {
    if (a.seed == Inputs.DefaultSeed) pinned.foreach { p =>
      if (p != got) problem(s"$what = $got, pinned $p at the default seed")
    }
  }

  /** PagesGen plants duplicates for at most 55% of a corpus (25% duplicate
    * roles, their base targets, 5% hot boilerplate); a clustering that
    * covers more has merged unrelated documents. */
  private def overClusterCheck(what: String, clustered: Int, n: Int): Unit =
    if (clustered > 0.6 * n) problem(s"$what clustered $clustered of $n docs (> 60%)")

  private def recallCheck(what: String, r: Double): Double = {
    if (!(r >= 0.99)) problem(s"$what recall $r < 0.99")
    r
  }

  /** (doc_id, cluster_id) of a cluster table, collected with every column so
    * that no part of the plan is pruned away. */
  private def rows(df: DataFrame): Seq[(Long, Long)] = {
    val (d, c) = (df.schema.fieldIndex("doc_id"), df.schema.fieldIndex("cluster_id"))
    df.collect().toSeq.map(r => (r.getLong(d), r.getLong(c)))
  }

  private def setLayer(prefix: String, s: JobSum, wallS: Double, n: Int): Unit = {
    layer(s"$prefix.wall_s") = (wallS, "s")
    layer(s"$prefix.task_s") = (s.taskS, "s")
    layer(s"$prefix.par") = (if (wallS > 0) s.taskS / (wallS * n) else 0.0, "ratio")
  }

  // ---- run -------------------------------------------------------------
  def run(): Unit = {
    spark = session(cores)
    started = true
    errors = ErrorCounter.install()
    a.workload match {
      case "batch_dedup" => batchDedup()
      case "lsh_pairs" => lshPairs()
    }
    layer("peak_rss_mb") = (peakRssMb(), "MB")
    layer("log.error_events") = (errors.count.get.toDouble, "count")
    if (a.trace) tracer.writeJson(work.toPath.resolveSibling(
      s"traces/${a.workload}-seed${a.seed}.json"))
    println(s"""{"host":{"cores":$cores,"mem_total_kb":${memTotalKb()},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory >> 20},"commit":"${a.commit}",""" +
      s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}"},""" +
      s""""workload":"${a.workload}","seed":${a.seed},"problems":${problems.size}}""")
  }

  // ---- batch_dedup -----------------------------------------------------
  private def batchDedup(): Unit = {
    val n = BatchDocs
    val pagesDir = setup { i =>
      val d = s"${dir("in")}/pages-$i.parquet"
      Inputs.pages(spark, n, a.seed).write.parquet(d)
      d
    }.last
    val ids = Inputs.pageDocIds(spark, n)
    val truth = Inputs.truthPairs(n, a.seed).map { case (x, y) => (ids(x), ids(y)) }

    def pass(): Seq[(Long, Long)] =
      rows(Dedup.clusters(DedupMain.toDocs(spark.read.parquet(pagesDir)), Cfg))
    val digests = mutable.LinkedHashSet[String]()
    var last = Seq.empty[(Long, Long)]
    // The traced run warms up on the day append, which runs the same
    // pipeline through DedupMain.run; the listener is off again afterwards.
    if (a.trace) {
      attachLedger()
      warmup(tracer.span("day_append")(dayAppend()))
      spark.sparkContext.removeSparkListener(ledger)
    } else {
      last = warmup((1 to WarmPasses).map(_ => pass()).last)
      digests += Checks.digest(last)
    }

    val walls = mutable.ArrayBuffer[Double]()
    // the traced run needs one untraced pass as the overhead reference
    val minPasses = if (a.trace) 1 else MinPasses
    val tEnd = now() + (if (a.trace) 0.0 else a.seconds)
    while ((now() < tEnd || walls.size < minPasses) && failed < 3) {
      unit("dedup.pass")(pass()).foreach { case (out, w) =>
        walls += w; digests += Checks.digest(out); last = out
      }
    }
    if (walls.isEmpty) sys.error("every facade pass failed")
    if (a.trace) {
      attachLedger()
      digests += Checks.digest(tracedFacadePass(pagesDir, Checks.median(walls.toSeq)))
    }
    if (digests.size != 1) problem(s"cluster digest differs across passes: $digests")
    overClusterCheck("batch_dedup", last.size, n)
    pinCheck("batch_dedup.digest", digests.head, Pins.batchDigest)
    pinCheck("batch_dedup.clustered_docs", last.size.toLong, Pins.batchClustered)
    val passes = samples.filter(_.name == "dedup.pass").toSeq
    unitMetrics(passes)
    e2e("recall") = (recallCheck("batch_dedup", Checks.recall(last, truth)), "frac")

    if (a.trace) {
      val atN = isolationPass(pagesDir, cores, record = true)
      tracer.span("isolate.local1") {
        spark.stop()
        spark = session(1)
        attachLedger()
        val at1 = isolationPass(pagesDir, 1, record = false)
        Layers.isolated.foreach { l =>
          layer(s"$l.task_inflation") = (if (at1(l) > 0) atN(l) / at1(l) else 0.0, "ratio")
        }
      }
    }
  }

  /** The timed pass with the listener on and cc labelled by the benchmark:
    * `Dedup.clusters(docs)` is exactly `ConnectedComponents.clusters(
    * ConnectedComponents.assign(Dedup.dupPairs(docs).select("a", "b")))`. */
  private def tracedFacadePass(pagesDir: String, untracedP50: Double): Seq[(Long, Long)] = {
    val sc = spark.sparkContext
    val (out, ps) = tracer.span("dedup.traced_pass") {
      val docs = DedupMain.toDocs(spark.read.parquet(pagesDir))
      val pairs = tracer.span("dedup.dupPairs")(Dedup.dupPairs(docs, Cfg))._1
      tracer.span("dedup.cc") {
        sc.setJobDescription(Layers.ccLabel)
        try rows(ConnectedComponents.clusters(ConnectedComponents.assign(pairs.select("a", "b"))))
        finally sc.setJobDescription(null)
      }._1
    }
    val wall = (ps.endMs - ps.startMs) / 1e3
    layer("trace.overhead_s") = (wall - untracedP50, "s")
    layer("dedup.pass_wall_s") = (wall, "s")
    val jobs = ledger.within(sc, ps.startMs, ps.endMs)
    Layers.facadePhases.foreach { case (metric, desc) =>
      val s = Ledger.sum(jobs.filter(_.desc == desc))
      setLayer(s"dedup.$metric", s, s.wallS, cores)
    }
    val labels = Layers.facadePhases.map(_._2).toSet + Layers.ccLabel
    layer("dedup.reconcile_frac") = (Ledger.sum(jobs.filter(j => labels(j.desc))).wallS / wall, "frac")
    out
  }

  /** Each layer's public function on the persisted output of the previous
    * layer, one span per layer. Returns task-seconds per layer; with
    * `record` also reports the layer metrics and yields. */
  private def isolationPass(pagesDir: String, n: Int, record: Boolean): Map[String, Double] = {
    val sc = spark.sparkContext
    val spans = mutable.LinkedHashMap[String, Span]()
    def ckpt(df: DataFrame) = df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    def layerRun[T](l: String)(f: => T): T = {
      val (out, s) = tracer.span(s"isolate.$l.local$n")(f)
      spans(l) = s
      out
    }
    val docs = layerRun("extract")(ckpt(DedupMain.toDocs(spark.read.parquet(pagesDir))
      .select("doc_id", "text")))
    val (shingled, sigs, sims) = layerRun("functions") {
      val sh = ckpt(Lsh.shingled(docs, Cfg))
      (sh, ckpt(Lsh.signatures(sh, Cfg)), ckpt(Lsh.simhashes(docs, Cfg)))
    }
    val (mhc, mhHot, shc) = layerRun("lsh.listing") {
      val (c, h) = Lsh.minhashListing(
        Lsh.saltBandKeys(Lsh.minhashBandKeys(sigs, Cfg), Cfg), shingled, Cfg)
      (ckpt(c), ckpt(h), ckpt(Lsh.simhashCandidatePairs(
        Lsh.saltBandKeys(Lsh.simhashBandKeys(sims, Cfg, carryHash = true), Cfg), Cfg)))
    }
    val (nMh, nSh) = (mhc.count(), shc.count())
    val (mh, sh) = layerRun("lsh.verify") {
      (ckpt(Lsh.verifyJaccard(mhc, Lsh.restrictToCandidateDocs(shingled, mhc, 2 * nMh), Cfg)),
       ckpt(Lsh.verifyHamming(shc, Lsh.restrictToCandidateDocs(sims, shc, 2 * nSh), Cfg)))
    }
    val sub = layerRun("exactsubstr")(ckpt(ExactSubstr.substrDupPairs(docs, Cfg)))
    val pairs = ckpt(Lsh.dupPairs(mh.unionByName(mhHot), sh, sub).select("a", "b"))
    val clusters = layerRun("cc")(ckpt(ConnectedComponents.clusters(
      ConnectedComponents.assign(pairs))))
    val all = ledger.all(sc)
    val task = Layers.isolated.map { l =>
      val s = spans(l)
      val js = Ledger.sum(all.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs))
      if (record) {
        setLayer(l, js, (s.endMs - s.startMs) / 1e3, n)
        layer(s"$l.shuffle_mb") = (js.shuffleMb, "MB")
        layer(s"$l.jobs") = (js.jobs.toDouble, "count")
      }
      l -> js.taskS
    }.toMap
    if (record) {
      val verified = mh.count() + sh.count()
      layer("lsh.candidates") = ((nMh + nSh).toDouble, "count")
      layer("lsh.verify.yield") = (verified.toDouble / math.max(1L, nMh + nSh), "frac")
      layer("lsh.hot_lane_pairs") = (mhHot.count().toDouble, "count")
      layer("exactsubstr.pairs") = (sub.count().toDouble, "count")
      layer("cc.edges_in") = (pairs.count().toDouble, "count")
      layer("cc.clustered_docs") = (clusters.count().toDouble, "count")
    }
    Seq(docs, shingled, sigs, sims, mhc, mhHot, shc, mh, sh, sub, pairs, clusters)
      .foreach(_.unpersist(false))
    task
  }

  /** All `SparkEntry.queries`, once each, over tables generated at the
    * default seed; every result is pinned by row count and checksum. */
  private def querySuite(): String = {
    val data = dir("tables")
    Inputs.writeQueryTables(spark, data, Inputs.DefaultSeed, QueryDocs)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      unit(s"query.$name")(Checks.checksum(q(spark, data))).foreach { case ((n, hash), w) =>
        layer(s"sparkentry.$name.wall_s") = (w, "s")
        Pins.queries.get(name) match {
          case Some((pn, ph)) =>
            if (pn != n) problem(s"$name returned $n rows, pinned $pn")
            ph.foreach(h => if (h != hash) problem(s"$name checksum $hash, pinned $h"))
          case None => problem(s"$name has no pinned result")
        }
      }
    }
    val walls = Layers.queryMetrics.flatMap(layer.get).map(_._1)
    if (walls.nonEmpty) layer("wall_p75_s") = (Checks.quantile(walls, 0.75), "s")
    val q22 = rows(SparkEntry.queries("q22_eac_clusters")(spark, data))
    recallCheck("q22_eac_clusters", Checks.recall(q22, Inputs.truthPairs(QueryDocs, Inputs.DefaultSeed)))
    data
  }

  // ---- lsh_pairs -------------------------------------------------------
  /** The per-family pair path (`Lsh.minhashDupPairs`/`simhashDupPairs`,
    * plus cc in q04): `LshQueries` over a seeded PagesGen documents table,
    * round after round. The timed unit is one round, each query once. No
    * substring leg, no facade barrier. */
  private def lshPairs(): Unit = if (a.trace) lshTraced() else {
    val n = LshDocs
    val data = setup { i =>
      val d = dir(s"docs-$i")
      Inputs.writeDocuments(spark, d, a.seed, n)
      d
    }.last
    val queries = LshQueries.map(q => q -> SparkEntry.queries(q))
    // every output column, collected: (rows, digest of the sorted rows)
    def result(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.mkString("|")).sorted
    warmup(for (_ <- 1 to WarmRounds; (_, f) <- queries) result(f(spark, data)))
    val rounds = mutable.ArrayBuffer[(Seq[(String, Seq[String])], Double)]()
    val tEnd = now() + a.seconds
    while ((now() < tEnd || rounds.size < MinRounds) && failed < 3)
      rounds ++= unit("lsh.round")(queries.map { case (q, f) => q -> result(f(spark, data)) })
    if (rounds.isEmpty) sys.error("every lsh_pairs round failed")
    // every round must give the same outputs
    val digests = rounds.map(_._1.map { case (q, out) => q -> Checks.digestRows(out) }).distinct
    if (digests.size != 1) problem(s"lsh_pairs outputs differ across rounds: $digests")
    digests.head.foreach { case (q, d) => pinCheck(s"lsh_pairs.$q", d, Pins.lshPairs.get(q)) }
    val last = rounds.last._1.toMap
    val found = (last("q03_dup_pairs_minhash") ++ last("q07_simhash_pairs")).map { row =>
      val f = row.split('|'); (f(0).toLong, f(1).toLong)
    }.toSet
    val truth = Inputs.truthPairs(n, a.seed, Set("minhash", "simhash"))
    val r = truth.count(found).toDouble / truth.size
    e2e("recall") = (recallCheck("lsh_pairs", r), "frac")
    unitMetrics(samples.filter(_.name == "lsh.round").toSeq)
  }

  /** The traced lsh_pairs run: all 46 queries with the listener on (q03,
    * q07, q04 and q27 among them), `OverheadQuery` once more without and
    * then with the listener, and the stream window. The timed rounds are
    * left to the untraced run, so that a traced run stays well inside its
    * time limit. */
  private def lshTraced(): Unit = {
    attachLedger()
    val data = warmup(querySuite())
    val q = SparkEntry.queries(OverheadQuery)
    spark.sparkContext.removeSparkListener(ledger)
    val off = unit(s"overhead.$OverheadQuery.untraced")(Checks.checksum(q(spark, data)))
    attachLedger()
    val on = unit(s"overhead.$OverheadQuery.traced")(Checks.checksum(q(spark, data)))
    val (pinnedRows, pinnedHash) = Pins.queries(OverheadQuery)
    (off ++ on).foreach { case (out, _) =>
      if (out != (pinnedRows, pinnedHash.get))
        problem(s"$OverheadQuery = $out, pinned ($pinnedRows, ${pinnedHash.get})")
    }
    for ((_, w0) <- off; (_, w1) <- on) layer("trace.overhead_s") = (w1 - w0, "s")
    tracer.span("stream_window")(streamWindow())
  }

  // ---- day_append (traced batch_dedup run) -----------------------------
  /** `DedupMain.run` over all crawl days but the last, then again with the
    * last day appended, on the same root: the spark-submit path and its
    * day-incremental pair and cc stages. */
  private def dayAppend(): Unit = {
    val n = DayDocs
    // inputs: days [0, Days - 1) for the full run, all days for the append
    val pages = Inputs.pagesOverDays(spark, n, a.seed, Days)
    val inputs = Seq(Days - 1, Days).map { k =>
      val d = s"${dir("in")}/days-$k.parquet"
      pages.where(col("warc_ts") < timestamp_seconds(lit(1704067200L + 86400L * k)))
        .write.parquet(d)
      d
    }
    val ids = Inputs.pageDocIds(spark, n)
    val truth = Inputs.truthPairs(n, a.seed).map { case (x, y) => (ids(x), ids(y)) }
    val sc = spark.sparkContext
    val root = dir("day/root")
    val out = Seq("full", "append").zip(inputs).map { case (name, in) =>
      val t0 = System.currentTimeMillis()
      unit(s"day.$name")(rows(DedupMain.run(spark, in, root, Cfg, s"day-$name"))) match {
        case Some((assign, w)) =>
          val js = Ledger.sum(ledger.within(sc, t0, System.currentTimeMillis()))
          val (files, mb) = fileStats(Seq(root, dir("warehouse")), t0)
          layer(s"run.$name.jobs") = (js.jobs.toDouble, "count")
          layer(s"run.$name.task_s") = (js.taskS, "s")
          layer(s"run.$name.par") = (js.taskS / (w * cores), "ratio")
          layer(s"run.$name.written_mb") = (mb, "MB")
          layer(s"run.$name.files_written") = (files.toDouble, "count")
          (w, assign)
        case None => sys.error(s"the $name DedupMain run failed")
      }
    }
    val Seq((fullS, _), (appendS, assign)) = out
    overClusterCheck("day_append", assign.size, n)
    pinCheck("day_append.digest", Checks.digest(assign), Pins.dayDigest)
    recallCheck("day_append", Checks.recall(assign, truth))
    layer("full_s") = (fullS, "s")
    layer("append_s") = (appendS, "s")
  }

  /** (files, MB) under `roots` modified at or after `sinceMs`. */
  private def fileStats(roots: Seq[String], sinceMs: Long): (Long, Double) = {
    val fs = roots.map(new java.io.File(_)).filter(_.exists).flatMap { r =>
      val it = java.nio.file.Files.walk(r.toPath)
      try it.iterator().asScala.map(_.toFile).filter(f => f.isFile && f.lastModified >= sinceMs).toList
      finally it.close()
    }
    (fs.size.toLong, fs.map(_.length).sum / (1024.0 * 1024.0))
  }

  // ---- stream window (traced lsh_pairs run) ----------------------------
  /** The stream corpus split into `StreamBatches` disjoint micro-batches by
    * `pmod(xxhash64(doc_id), k)`; batch 0 bootstraps a fresh root (the
    * rebuild path), then batches 1..StreamWindow run one at a time, closed
    * loop, as `foreachBatch` delivers them. The window is the same batch
    * indices on every run: the state merges at powers of two and compacts
    * every `StreamingDedup.CompactEvery` batches. */
  private def streamWindow(): Unit = {
    val docsDir = s"${dir("in")}/stream.parquet"
    Inputs.streamDocs(spark, StreamDocs, a.seed, StreamBatches)
      .write.partitionBy("batch").parquet(docsDir)
    def batch(i: Int): DataFrame =
      spark.read.parquet(docsDir).where(col("batch") === i).drop("batch")
    val root = dir("stream/root")
    val sc = spark.sparkContext
    tracer.span("stream.bootstrap")(StreamingDedup.processBatch(batch(0), 0L, Cfg, root))
    val perBatch = (1 to StreamWindow).flatMap { i =>
      val t0 = System.currentTimeMillis()
      unit(s"stream.batch$i")(StreamingDedup.processBatch(batch(i), i.toLong, Cfg, root)).map {
        case (_, w) => (w, Ledger.sum(ledger.within(sc, t0, System.currentTimeMillis())))
      }
    }
    if (perBatch.isEmpty) sys.error("every stream batch failed")
    val ingested = spark.read.parquet(docsDir).where(col("batch") <= StreamWindow)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val assign = rows(StreamingDedup.latestClusters(spark, root))
    if (!assign.forall(p => ingested(p._1))) problem("a stream cluster holds a doc never ingested")
    pinCheck("stream.digest", Checks.digest(assign), Pins.streamDigest)
    // streaming runs the two banded families only (no substring leg)
    val truth = Inputs.truthPairs(StreamDocs, a.seed, Set("minhash", "simhash"))
      .filter { case (x, y) => ingested(x) && ingested(y) }
    recallCheck("stream", Checks.recall(assign, truth))

    val m = perBatch.size.toDouble
    val s = perBatch.map(_._2)
    val walls = perBatch.map(_._1)
    layer("streaming.jobs_per_batch") = (s.map(_.jobs).sum / m, "count")
    layer("streaming.task_s_per_batch") = (s.map(_.taskS).sum / m, "s")
    layer("streaming.durable_read_mb_per_batch") = (s.map(_.inputMb).sum / m, "MB")
    layer("streaming.durable_write_mb_per_batch") = (s.map(_.outputMb).sum / m, "MB")
    layer("streaming.state_files") = (fileStats(Seq(root), 0L)._1.toDouble, "count")
    layer("streaming.wall_p50_s") = (Checks.median(walls), "s")
  }

  // ---- host facts ------------------------------------------------------
  private def procKb(file: String, key: String): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }.getOrElse(0L)

  private def peakRssMb(): Double = procKb("/proc/self/status", "VmHWM") / 1024.0
  private def memTotalKb(): Long = procKb("/proc/meminfo", "MemTotal")

  // ---- result ----------------------------------------------------------
  def resultJson(ok: Boolean): String = {
    val chosen: Seq[(String, (Double, String))] =
      if (a.trace) Layers.names.map(n => n -> layer.getOrElse(n, (0.0, Layers.unit(n))))
      else Layers.endToEnd.map(n => n -> e2e.getOrElse(n, (0.0, "")))
    val ms = chosen.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
