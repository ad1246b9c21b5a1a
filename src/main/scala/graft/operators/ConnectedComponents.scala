package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed connected components via alternating large-star / small-star
 * rounds [Kiveris14] (SURVEY.md §2.6, ops G1–G5). Pure DataFrame self-
 * aggregations — adjacency stays relational, no GraphX, no collect_set (a
 * window min per round instead, so high-degree nodes never materialize a
 * neighbor list on one task).
 *
 * Iteration discipline (op G4): `localCheckpoint` each round truncates the
 * lineage (plan trees otherwise grow exponentially); convergence is detected
 * by an order-insensitive (count, hash-sum) fingerprint of the edge set;
 * rounds are capped at 2·log2(n)+10 — large-star/small-star converges in
 * O(log n) rounds on any graph.
 */
object ConnectedComponents {

  /** One large-star round: every node's strictly-larger neighbors reattach
    * to the minimum of its closed neighborhood. */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy("src")
    sym.withColumn("m", least(min("dst").over(w), col("src")))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // no distinct here: small-star dedupes right after; one less shuffle
    // per round (driver-synced rounds are the serial term in scaling)
  }

  /** One small-star round: every node and its smaller neighbors reattach to
    * the minimum of the smaller neighborhood. */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("src"), col("dst")).as("src"),
              least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    val w = Window.partitionBy("src")
    val withMin = oriented.withColumn("m", min("dst").over(w))
    withMin.select(col("dst").as("src"), col("m").as("dst"))
      .union(withMin.select(col("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Order-insensitive fingerprint of the (distinct) edge set: row count
    * plus XOR of per-edge hashes — overflow-free under ANSI mode. */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")).head()
    (row.getLong(0), row.getLong(1))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Every this-many rounds, the edge set is checkpointed *reliably* (to
    * `sparkContext.getCheckpointDir`, when one is set) instead of locally:
    * localCheckpoint blocks live on executors, so on a real cluster one
    * executor loss mid-iteration would kill the job unrecoverably (truncated
    * lineage can't recompute). SURVEY §4.3 discipline. */
  private val ReliableCheckpointEvery = 5

  /** Edge-count gate for the single-task fast path: 4M edges ≈ 200 MB of
    * transient primitive arrays in ONE task — the same per-task working-set
    * budget the suffix-array shards run at (`ExactSubstr.TargetShardBytes`
    * rationale). Beyond it the O(log n)-round distributed iteration runs. */
  val SmallGraphMaxEdges: Long = 4L * 1000 * 1000

  /** `assignLocal` working set per edge: two edge arrays (16 B) + the
    * sorted node-id array (≤16 B) + parent/size forest (≤8 B) + dataset
    * row and sort slack, rounded up. */
  private[operators] val BytesPerEdge = 64L

  /** Memory-derived ceiling on the fast-path gate: the 4M default assumes
    * a ≥2 GB executor heap; a small-executor prod deploy (512m is common
    * for shuffle-light services) would OOM the single task. The budget is
    * 1/8 of one executor's heap (actual runtime heap in local mode, where
    * executors share the driver JVM), overridable for tests and tuning via
    * runtime conf `graft.cc.smallGraphBudgetBytes`. Pure given (budget):
    * gate-boundary behavior is spec-asserted at a tiny configured budget. */
  private[operators] def memoryDerivedMaxEdges(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val budget = spark.conf.getOption("graft.cc.smallGraphBudgetBytes")
      .map(_.toLong)
      .getOrElse {
        val heap =
          if (spark.sparkContext.isLocal) Runtime.getRuntime.maxMemory
          else spark.sparkContext.getConf.getSizeAsBytes("spark.executor.memory", "1g")
        heap / 8
      }
    budget / BytesPerEdge
  }

  /**
   * G1–G4: dup pairs (a, b) → component assignment (doc_id, cluster_id),
   * cluster_id = min doc_id of the component. Only nodes that appear in at
   * least one pair are emitted (singletons are not duplicates).
   */
  def assign(pairs: DataFrame, smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    // Checkpoint-block lifecycle: each round's edge blocks are only needed
    // until the NEXT round materializes — without explicit unpersist the
    // blocks of every round pile up until GC notices (at 10^7+ edges ×
    // O(log n) rounds that is an OOM, observed at 960k docs).
    var edges = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()

    var (prevN, prevH) = fingerprint(edges)
    // Strategy switch, AQE-style (the `restrictToCandidateDocs` pattern):
    // the distinct edge count is already materialized by the fingerprint,
    // and below the gate a single-task union-find beats O(log n) driver-
    // synced shuffle rounds by their whole fixed cost (measured: 1.5 s of
    // round overhead on a 1.8k-edge graph; 10.8 s → ~2 s on 4M edges at
    // 960k docs). The task runs ON AN EXECUTOR — the driver never holds
    // the edge set — and the output is identical by construction (min
    // doc_id per component, order-independent); parity is spec-asserted
    // against the iterative path and the union-find oracle.
    val gate = math.min(smallGraphMaxEdges, memoryDerivedMaxEdges(pairs.sparkSession))
    if (prevN > 0 && prevN <= gate) {
      log.info(s"cc: $prevN edges <= $gate — single-task union-find path")
      // the checkpointed edge blocks stay alive: the returned (lazy) plan
      // reads them — same lifetime contract as the iterative path's
      // converged final round
      return assignLocal(edges)
    }
    val maxRounds = 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(prevN, 1L))) + 10

    var round = 0
    var converged = prevN == 0
    while (!converged && round < maxRounds) {
      // lazy checkpoint: the fingerprint aggregation below is the action
      // that materializes it — one Spark job per round, not two (driver
      // round-trip latency is the serial term that caps scaling)
      val stepped = smallStar(largeStar(edges))
      val next =
        if (reliable && round % ReliableCheckpointEvery == ReliableCheckpointEvery - 1)
          stepped.checkpoint(false) // durable: survives executor loss
        else stepped.localCheckpoint(false)
      val (n, h) = fingerprint(next)
      // the successor is materialized — the previous round's blocks are dead
      // (released by handle, scoped to THIS iteration's own checkpoints)
      LocalCheckpoints.release(edges)
      converged = n == prevN && h == prevH
      prevN = n; prevH = h
      edges = next
      round += 1
    }
    if (!converged)
      log.warn(s"connected components did NOT converge in $maxRounds rounds " +
        s"($prevN edges at exit, bound 2·log2(edges)+10) — emitted clusters " +
        "may be split; investigate the pair graph")

    // Converged forest is a star per component centered at the minimum:
    // every node's component is the min over its closed neighborhood.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("doc_id"), least(col("mn"), col("src")).as("cluster_id"))
  }

  /** Incremental CC: the assignment over every pair seen so far, given the
    * previous assignment (doc_id, cluster_id) and only the pairs (a, b)
    * added since. The previous rows are a spanning star of every prior
    * component (cluster_id is itself a member doc_id — the min), so CC over
    * those edges ∪ `newPairs` equals CC over the whole pair history, at
    * cost O(clusters + new pairs). With no previous assignment it is
    * `assign(newPairs)`. */
  def extend(prev: Option[DataFrame], newPairs: DataFrame): DataFrame = {
    val pairs = newPairs.select("a", "b")
    assign(prev.fold(pairs)(
      _.select(col("doc_id").as("a"), col("cluster_id").as("b")).unionByName(pairs)))
  }

  /** Single-task union-find over a (materialized) edge set that fits one
    * task's working-set budget: primitive arrays end-to-end (edge longs →
    * sorted-unique node ids → int parent forest with path halving + union
    * by size), then min doc_id per root. Two stages: a PARALLEL pack pass
    * decodes each partition's tuples into primitive-array blobs (a
    * `coalesce(1)` chain ran the whole 2×|E| row decode inside the single
    * task — measured as a 2–5 s single-task stage at 3M edges/32 cpus;
    * the blob shuffle moves the same 16 bytes/edge but decodes them in
    * bulk), then one task merges the blobs and runs the forest; no driver
    * collect. Output: (doc_id, cluster_id) for every node in the edge set
    * — identical to the iterative path's contract. */
  private[operators] def assignLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .mapPartitions { it =>
        var ea = new Array[Long](1024)
        var eb = new Array[Long](1024)
        var m = 0
        while (it.hasNext) {
          val (a, b) = it.next()
          if (m == ea.length) {
            ea = java.util.Arrays.copyOf(ea, ea.length * 2)
            eb = java.util.Arrays.copyOf(eb, eb.length * 2)
          }
          ea(m) = a; eb(m) = b; m += 1
        }
        if (m == 0) Iterator.empty
        else Iterator.single(
          (java.util.Arrays.copyOf(ea, m), java.util.Arrays.copyOf(eb, m)))
      }
      .repartition(1)
      .mapPartitions { blobs =>
        val chunks = blobs.toArray
        val m = chunks.iterator.map(_._1.length).sum
        if (m == 0) Iterator.empty
        else {
          val ea = new Array[Long](m)
          val eb = new Array[Long](m)
          var off = 0
          chunks.foreach { case (ca, cb) =>
            System.arraycopy(ca, 0, ea, off, ca.length)
            System.arraycopy(cb, 0, eb, off, cb.length)
            off += ca.length
          }
          val ids = new Array[Long](2 * m)
          System.arraycopy(ea, 0, ids, 0, m)
          System.arraycopy(eb, 0, ids, m, m)
          java.util.Arrays.sort(ids)
          var n = 0
          var i = 0
          while (i < 2 * m) { // in-place unique
            if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
            i += 1
          }
          @inline def idx(v: Long): Int = {
            var lo = 0; var hi = n - 1
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ids(mid) < v) lo = mid + 1 else hi = mid
            }
            lo
          }
          val parent = Array.tabulate(n)(identity)
          val size = Array.fill(n)(1)
          def find(x0: Int): Int = {
            var x = x0
            while (parent(x) != x) {
              parent(x) = parent(parent(x)) // path halving
              x = parent(x)
            }
            x
          }
          i = 0
          while (i < m) {
            val ra = find(idx(ea(i)))
            val rb = find(idx(eb(i)))
            if (ra != rb) {
              if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
              else { parent(rb) = ra; size(ra) += size(rb) }
            }
            i += 1
          }
          // ids are sorted ascending, so the FIRST node of each root's
          // sweep is the component minimum
          val minOf = Array.fill(n)(Long.MaxValue)
          i = 0
          while (i < n) {
            val r = find(i)
            if (ids(i) < minOf(r)) minOf(r) = ids(i)
            i += 1
          }
          Iterator.range(0, n).map(i => (ids(i), minOf(find(i))))
        }
      }
      .toDF("doc_id", "cluster_id")
  }

  /** G5 — cluster table with size and canonical-representative flag
    * (canonical = smallest doc_id of the cluster).
    *
    * Deliberately NOT a `Window partition by cluster_id`: a web-scale
    * boilerplate component (10^7–10^9 members after evidence accumulation)
    * would land its whole partition on ONE task, and AQE does not split
    * window skew. Instead:
    *  - `is_canonical` compares each row against the per-cluster
    *    `min(doc_id)` computed IN THE SAME partial-aggregating groupBy as
    *    the size — correct for ARBITRARY cluster labels (not only the
    *    `assign` convention where cluster_id is itself the min member),
    *    at zero extra shuffle;
    *  - `cluster_size` is a partial-aggregating groupBy joined back on
    *    cluster_id. No broadcast hint: the size table is one row per
    *    cluster (can itself be huge), so AQE picks broadcast when it is
    *    small and otherwise runs a shuffle join whose skewed side (the
    *    mega-cluster's assignment rows) AQE's skew-join splitting CAN
    *    handle — unlike the window. */
  def clusters(assignment: DataFrame): DataFrame = {
    val sizes = assignment.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"), min("doc_id").as("_mn"))
    assignment.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
              (col("doc_id") === col("_mn")).as("is_canonical"))
  }
}
