package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** G6 — CC oracle equivalence: large-star/small-star must match a
  * sequential union-find on random seeded graphs. */
class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  /** Both production paths — the single-task union-find fast path (default
    * gate) and the distributed large/small-star iteration (gate forced off)
    * — must match the sequential oracle, and therefore each other. */
  private def check(edges: Seq[(Long, Long)]): Unit = {
    val expect = unionFind(0, edges)
    val fast = ConnectedComponents.assign(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(fast === expect, "fast path diverged from oracle")
    val iterative = ConnectedComponents
      .assign(edges.toDF("a", "b"), smallGraphMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(iterative === expect, "iterative path diverged from oracle")
  }

  test("single edge") { check(Seq((2L, 1L))) }
  test("chain collapses to min") { check((1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq) }
  test("two components") { check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L))) }
  test("self-contained star") { check(Seq((5L, 1L), (5L, 2L), (5L, 3L))) }
  test("empty input") {
    val out = ConnectedComponents.assign(Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(out.count() === 0)
  }

  test("random graphs match union-find oracle") {
    val rnd = new java.util.SplittableRandom(0x5EAC15DL)
    (1 to 5).foreach { trial =>
      val n = 50 + trial * 40
      val m = n * 2
      val edges = (1 to m).map { _ =>
        (rnd.nextLong(0, n).abs, rnd.nextLong(0, n).abs)
      }.filter(e => e._1 != e._2)
      check(edges)
    }
  }

  test("fast path == iterative path on a dense random graph, at any partitioning") {
    val rnd = new java.util.SplittableRandom(7L)
    val edges = (1 to 5000).map(_ => (rnd.nextLong(0, 800), rnd.nextLong(0, 800)))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("a", "b")
    val fast = ConnectedComponents.assign(df.repartition(13))
      .as[(Long, Long)].collect().toMap
    val iterative = ConnectedComponents.assign(df, smallGraphMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === iterative)
    assert(fast === unionFind(0, edges))
  }

  test("extend: previous assignment + new pairs == assign over both halves") {
    val rnd = new java.util.SplittableRandom(0xCC2L)
    def assigned(pairs: org.apache.spark.sql.DataFrame) = pairs.as[(Long, Long)].collect().toMap
    (1 to 4).foreach { trial =>
      val n = 40 + trial * 30
      val edges = (1 to n * 2).map(_ => (rnd.nextLong(0, n), rnd.nextLong(0, n)))
        .filter(e => e._1 != e._2)
      // trial 1 splits at 0 (empty first half); the rest at random points
      val (h1, h2) = edges.splitAt(if (trial == 1) 0 else rnd.nextInt(edges.size + 1))
      val prev = ConnectedComponents.assign(h1.toDF("a", "b"))
      assert(assigned(ConnectedComponents.extend(Some(prev), h2.toDF("a", "b"))) ===
        assigned(ConnectedComponents.assign((h1 ++ h2).toDF("a", "b"))),
        s"trial $trial: extend diverged from assign(h1 ∪ h2)")
      assert(assigned(ConnectedComponents.extend(None, h2.toDF("a", "b"))) ===
        assigned(ConnectedComponents.assign(h2.toDF("a", "b"))))
    }
  }

  test("reliable checkpoint: long path writes durable snapshots, same answer") {
    val sc = spark.sparkContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val before = sc.getCheckpointDir
    sc.setCheckpointDir(ckpt)
    try {
      // a 2000-node path needs well over ReliableCheckpointEvery rounds;
      // force the iterative path (the fast-path gate would absorb it)
      val edges = (1L to 2000L).sliding(2).map(s => (s(0), s(1))).toSeq
      val got = ConnectedComponents
        .assign(edges.toDF("a", "b"), smallGraphMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(0, edges))
      // durable RDD checkpoint files must exist under the configured dir —
      // the artifacts a mid-CC executor loss would recover from
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "expected reliable checkpoint files under the ckpt dir")
    } finally before match {
      case Some(d) => sc.setCheckpointDir(d)
      case None => // leave the test dir configured; later suites tolerate it
    }
  }

  test("clusters table: sizes and canonical flags") {
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val out = ConnectedComponents.clusters(assign)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out === Array(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (10L, 10L, 2L, true), (11L, 10L, 2L, false)))
  }

  test("clusters table: one giant cluster (mega-cluster fixture)") {
    // web-scale boilerplate components have 10^7+ members; the pre-r4
    // window form put the whole component on ONE task. The groupBy+join
    // form must produce identical values (plan shape asserted in PlanSpec).
    val n = 50000L
    val giant = spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit(1L).as("cluster_id"))
      .unionByName(Seq((900001L, 900001L), (900002L, 900001L))
        .toDF("doc_id", "cluster_id"))
    val out = ConnectedComponents.clusters(giant)
    assert(out.count() === n + 2)
    assert(out.where(col("cluster_id") === 1L && col("cluster_size") === n)
      .count() === n)
    val canon = out.where(col("is_canonical")).select("doc_id")
      .as[Long].collect().sorted
    assert(canon === Array(1L, 900001L),
      "exactly the min member of each cluster is canonical")
  }

  test("fast-path gate respects a configured memory budget (small executors)") {
    // 640-byte budget / 64 B-per-edge = a 10-edge gate: an 99-edge graph
    // must take the ITERATIVE path (no single-task MapPartitions in the
    // plan) and still match the oracle — the small-executor OOM guard
    val edges = (1L to 100L).sliding(2).map(s => (s(0), s(1))).toSeq
    val df = edges.toDF("a", "b")
    spark.conf.set("graft.cc.smallGraphBudgetBytes", "640")
    try {
      assert(ConnectedComponents.memoryDerivedMaxEdges(spark) === 10L)
      val out = ConnectedComponents.assign(df)
      assert(!out.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "expected the distributed iterative path under a tiny memory budget")
      assert(out.as[(Long, Long)].collect().toMap === unionFind(0, edges))
    } finally spark.conf.unset("graft.cc.smallGraphBudgetBytes")
    // default budget (test JVM heap): the same graph takes the fast path
    val fast = ConnectedComponents.assign(df)
    assert(fast.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "expected the single-task fast path at the default budget")
    assert(fast.as[(Long, Long)].collect().toMap === unionFind(0, edges))
  }
}
