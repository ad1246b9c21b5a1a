package graft.operators

import graft.SparkSuite

class AnnOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("bruteTopK: ranks agree with a driver-side exact computation") {
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
      .map { case (id, v, _) => id -> v }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val got = AnnOps.bruteTopK(emb, 3)
      .select("vec_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (v, rows) => v -> rows.sortBy(_._2).map(_._3).toSeq }
    val someIds = vecs.keys.toSeq.sorted.take(20)
    someIds.foreach { id =>
      val expect = vecs.keys.filter(_ != id).toSeq
        .sortBy(o => (-cos(vecs(id), vecs(o)), o)).take(3)
      assert(got(id) === expect, s"vec $id")
    }
  }

  test("lshTopK: candidates come from buckets; ranks exact within candidates") {
    val brute = AnnOps.bruteTopK(emb, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = AnnOps.lshTopK(emb, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx intersect brute).size.toDouble / brute.size
    info(f"lsh recall@5 = $recall%.3f (approx=${approx.size} brute=${brute.size})")
    assert(approx.nonEmpty)
    assert(recall > 0.05) // random gaussian corpus: buckets are weak, but nonzero
  }

  test("lshTopK recall@5 >= 0.9 on a planted near-neighbor corpus at default params") {
    // The REAL quality bar for the scale path: a corpus with structure (the
    // regime LSH exists for — near-dup embeddings at cos≈0.94 over a ≈0
    // background), where brute top-5 = cluster mates by construction.
    val planted = graft.sources.EmbedGen.vectors(spark, 240, dim = 32, clusterSize = 8).toDF()
      .localCheckpoint()
    val brute = AnnOps.bruteTopK(planted, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // sanity: the planted geometry holds — true top-5 are cluster mates
    brute.foreach { case (v, nb) =>
      assert(graft.sources.EmbedGen.clusterOf(v) === graft.sources.EmbedGen.clusterOf(nb))
    }
    val approx = AnnOps.lshTopK(planted, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx intersect brute).size.toDouble / brute.size
    info(f"planted recall@5 = $recall%.3f at (tables=8, bits=8)")
    assert(recall >= 0.9, f"recall@5 = $recall%.3f < 0.9 at default (tables=8, bitsPerTable=8)")
  }

  test("lshTopK parameter sweep on the planted corpus (recorded in BENCH/BASELINE.md)") {
    val planted = graft.sources.EmbedGen.vectors(spark, 240, dim = 32, clusterSize = 8).toDF()
      .localCheckpoint()
    val brute = AnnOps.bruteTopK(planted, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sweep = Seq((4, 8), (8, 8), (8, 4), (16, 4)).map { case (t, b) =>
      val approx = AnnOps.lshTopK(planted, 5, tables = t, bitsPerTable = b)
        .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val r = (approx intersect brute).size.toDouble / brute.size
      info(f"tables=$t%2d bits=$b%2d recall@5=$r%.3f candidates~${approx.size}")
      (t, b, r)
    }
    // more tables at fixed bits must not hurt recall (monotone OR over tables)
    val r4 = sweep.collectFirst { case (4, 8, r) => r }.get
    val r8 = sweep.collectFirst { case (8, 8, r) => r }.get
    assert(r8 >= r4 - 0.02)
  }

  test("ivfTopK recall@5 >= 0.9 on the planted corpus; deterministic across parallelism") {
    val planted = graft.sources.EmbedGen.vectors(spark, 240, dim = 32, clusterSize = 8).toDF()
      .localCheckpoint()
    val brute = AnnOps.bruteTopK(planted, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = AnnOps.ivfTopK(planted, 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    info(f"ivf recall@5 = $recall%.3f at (nlist=16, nprobe=4)")
    assert(recall >= 0.9, f"ivf recall@5 = $recall%.3f < 0.9")
    // centroid training is a pure function of (corpus, seed), not parallelism
    val again = AnnOps.ivfTopK(planted.repartition(7), 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("brute kernels == the crossJoin+window formulation, incl. zero-norm rows") {
    // r7: bruteTopK/bruteCosinePairs run an in-task primitive kernel; this
    // row pins bit-identical parity against the declarative reference they
    // replaced, on a corpus that includes a ZERO vector (null cosine → the
    // window's DESC NULLS LAST tail; the threshold filter drops it).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dim = emb.select(col("embedding")).as[Array[Float]].head().length
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((999999L, Array.fill(dim)(0f))).toDF("vec_id", "embedding"))
      .localCheckpoint()
    val k = 4
    val a = withZero.select(col("vec_id"), col("embedding").as("ea"))
    val b = withZero.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), col("neighbor_id"))
    val refTopK = a.crossJoin(broadcast(b))
      .where(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.Fns.cosineSim(col("ea"), col("eb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
              col("neighbor_id"), col("cos"))
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(r => (r._1, r._2))
    val gotTopK = AnnOps.bruteTopK(withZero, k)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(r => (r._1, r._2))
    assert(gotTopK === refTopK) // exact doubles incl. None for the zero vec
    assert(gotTopK.exists(_._1 == 999999L)) // zero vec emits null-cos rows

    val refPairs = a.crossJoin(broadcast(b))
      .where(col("vec_id") < col("neighbor_id") &&
             graft.functions.Fns.cosineSim(col("ea"), col("eb")) >= 0.2)
      .withColumn("cos", graft.functions.Fns.cosineSim(col("ea"), col("eb")))
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"), col("cos"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val gotPairs = AnnOps.bruteCosinePairs(withZero, 0.2)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(gotPairs === refPairs)
  }

  test("embedBandKeys emits exactly `tables` keys per vector, deterministically") {
    val k1 = AnnOps.embedBandKeys(emb, 8, 8, 1L)
      .groupByKey(_ => 0).count().collect().head._2
    assert(k1 === emb.count() * 8)
    val a = AnnOps.embedBandKeys(emb, 8, 8, 1L).select("vec_id", "band", "key")
      .as[(Long, Int, Long)].collect().toSet
    val b = AnnOps.embedBandKeys(emb, 8, 8, 1L).select("vec_id", "band", "key")
      .as[(Long, Int, Long)].collect().toSet
    assert(a === b)
  }
}
