package graft.operators

import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (builder brief: ANN as a
 * first-class component). Two paths:
 *
 *  - `bruteTopK` / `bruteCosinePairs`: exact cosine via a broadcast
 *    cartesian product — the correctness baseline. Fine when one side fits
 *    in an executor (queries × corpus); never the 100 TB self-join path.
 *  - `lshTopK`: the scale path — random-hyperplane LSH
 *    bucketing [Charikar02]: vectors only meet inside a (table, key)
 *    bucket, so the join is an equi-join that shuffles by bucket (AQE
 *    skew-split applies), O(n·tables) rows instead of O(n²) pairs.
 *    Candidate generation joins 16-byte id rows ONLY; embeddings are
 *    fetched per candidate pair afterwards — the vectors never ride
 *    through the bucket shuffle.
 */
object AnnOps {

  /**
   * Exact threshold pairs (a, b, cos), a < b. Two phases:
   *  1. the CosineSim predicate runs inside the O(n²) broadcast-join
   *     condition (codegen-delegated — builtin zip_with/aggregate HOFs
   *     would fall back to interpreted eval with a per-pair allocation,
   *     measured ~5× slower) and emits candidate ids only;
   *  2. a tiny second join re-attaches vectors and emits the exact cos
   *     for the survivors — bit-identical to the oracle's formula.
   */
  /** Spread the O(n²) probe side of the brute-force kernels over the
    * pool: the embeddings table is typically ONE parquet file, so without
    * this the whole n² cosine loop runs inside a single scan task
    * (measured: q16 wall ≈ Σ-task-time ≈ 3 s on one core at n=2000×64d).
    * Hash on vec_id (deterministic — guide §2.5) with an explicit
    * partition count so AQE's byte-based coalescing cannot fold the
    * compute-heavy-but-byte-light side back to one task; count follows
    * the session's parallelism, never a constant. */
  private def spreadProbe(emb: DataFrame): DataFrame =
    emb.repartition(emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))

  /** The corpus as a broadcastable primitive snapshot, ascending vec_id.
    * Same memory contract as the `broadcast(b)` build side of the join
    * formulation this replaces (the brute route is explicitly fenced to
    * corpora that fit one executor — never the 100 TB path). */
  private def corpusSnapshot(emb: DataFrame): Array[(Long, Array[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** CosineSim's exact arithmetic (double accumulation in ascending index
    * order — bit-identical to the expression and the DuckDB oracle);
    * NaN result stands in for the expression's null (zero norm or length
    * mismatch) — callers translate. */
  private def cosineOrNaN(a: Array[Float], b: Array[Float]): Double = {
    if (a.length != b.length) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN else dot / math.sqrt(na * nb)
  }

  /**
   * Exact threshold pairs (a, b, cos), a < b — in-task kernel: each task
   * scans its probe vectors against the broadcast corpus with the
   * primitive cosine loop and emits survivors directly. Replaces the
   * crossJoin + expression-filter + re-join formulation (r7): the 4M-row
   * candidate stream, its per-pair boxed expression evaluation and the
   * second cosine pass all disappear; output is bit-identical (same
   * accumulation order, null-cos pairs fail the threshold exactly as the
   * SQL null comparison did).
   */
  def bruteCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(corpusSnapshot(emb))
    spreadProbe(emb).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (a, va) =>
          corpus.iterator.collect {
            case (b, vb) if a < b =>
              (a, b, cosineOrNaN(va, vb))
          }.filter { case (_, _, c) => !c.isNaN && c >= threshold }
        }
      }
      .toDF("a", "b", "cos")
  }

  /** Exact top-k cosine neighbors: (vec_id, rank, neighbor_id, cos).
    * Ties broken by neighbor_id for full determinism — the comparator is
    * exactly the window ordering (cos DESC NULLS LAST, neighbor_id ASC)
    * of the crossJoin + row_number formulation this in-task kernel
    * replaces (r7; parity spec-asserted incl. zero-norm null-cos rows). */
  def bruteTopK(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(corpusSnapshot(emb))
    spreadProbe(emb).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (id, v) =>
          // bounded insertion buffer: top-k by (cos desc nulls-last, nb asc)
          val bCos = new Array[Double](k) // NaN = null cos
          val bNb = new Array[Long](k)
          var filled = 0
          // strict "x ranks before slot j" under the window's ordering
          def before(c: Double, nb: Long, j: Int): Boolean = {
            val cj = bCos(j)
            if (c.isNaN) cj.isNaN && nb < bNb(j)
            else if (cj.isNaN) true
            else c > cj || (c == cj && nb < bNb(j))
          }
          corpus.foreach { case (nb, vn) =>
            if (nb != id) {
              val c = cosineOrNaN(v, vn)
              var j = if (filled < k) filled else k - 1
              if (filled < k || before(c, nb, k - 1)) {
                while (j > 0 && before(c, nb, j - 1)) {
                  bCos(j) = bCos(j - 1); bNb(j) = bNb(j - 1); j -= 1
                }
                bCos(j) = c; bNb(j) = nb
                if (filled < k) filled += 1
              }
            }
          }
          Iterator.range(0, filled).map { r =>
            (id, (r + 1).toLong, bNb(r),
             if (bCos(r).isNaN) Option.empty[Double] else Some(bCos(r)))
          }
        }
      }
      .toDF("vec_id", "rank", "neighbor_id", "cos")
  }

  /** LSH band keys for embeddings: `tables` keys per vector, each from an
    * independent `bitsPerTable`-bit slice of a random-hyperplane signature.
    * Emits only (vec_id, band, key) — 20 bytes/row into the bucket shuffle. */
  def embedBandKeys(emb: DataFrame, tables: Int, bitsPerTable: Int, seed: Long): DataFrame = {
    require(tables * bitsPerTable <= 64)
    val sig = Fns.embedSimHash(col("embedding"), tables * bitsPerTable, seed)
    val entries = (0 until tables).map { t =>
      struct(lit(t).as("band"),
             shiftrightunsigned(col("sig"), t * bitsPerTable)
               .bitwiseAND(lit((1L << bitsPerTable) - 1)).as("key"))
    }
    emb.withColumn("sig", sig)
      .select(col("vec_id"), explode(array(entries: _*)).as("e"))
      .select(col("vec_id"), col("e.band").as("band"), col("e.key").as("key"))
  }

  /** Distinct candidate id pairs (a < b) from any-table bucket collisions. */
  def lshCandidatePairs(emb: DataFrame, tables: Int, bitsPerTable: Int, seed: Long): DataFrame = {
    val keys = embedBandKeys(emb, tables, bitsPerTable, seed)
    keys.select(col("band"), col("key"), col("vec_id").as("a"))
      .join(keys.select(col("band"), col("key"), col("vec_id").as("b")), Seq("band", "key"))
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Fetch both embeddings for candidate id pairs and compute exact cosine. */
  private def withCosine(pairs: DataFrame, emb: DataFrame): DataFrame =
    pairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .withColumn("cos", Fns.cosineSim(col("ea"), col("eb")))

  /** Approximate top-k: bucket-collision candidates, exact cosine rank
    * within candidates. Same output shape as bruteTopK. */
  def lshTopK(emb: DataFrame, k: Int, tables: Int = 8, bitsPerTable: Int = 8,
              seed: Long = 0x5EAC15DL): DataFrame = {
    val cand = lshCandidatePairs(emb, tables, bitsPerTable, seed)
    // score once per unordered pair, then mirror for per-vector ranking
    val scored = withCosine(cand, emb).select("a", "b", "cos")
    val sym = scored.select(col("a").as("vec_id"), col("b").as("neighbor_id"), col("cos"))
      .unionByName(scored.select(col("b").as("vec_id"), col("a").as("neighbor_id"), col("cos")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), col("neighbor_id"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "cos")
  }

  // ---- IVF (inverted-file) route ---------------------------------------

  /** Deterministic coarse quantizer: Lloyd's k-means on a hash-ordered
    * sample, trained DRIVER-side (nlist × dim doubles — a few KB — while
    * the data stays distributed; the sample is a TakeOrdered top-k by
    * xxhash64(vec_id), so the same corpus + seed trains the same centroids
    * at any parallelism). Centroids are L2-normalized so nearest-by-dot ==
    * nearest-by-cosine. */
  private[operators] def trainCentroids(emb: DataFrame, nlist: Int, seed: Long,
                                        iters: Int = 8, sampleN: Int = 4096): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed))).limit(sampleN)
      .as[(Long, Array[Float])].collect().map(_._2.map(_.toDouble))
    require(sample.length >= nlist, s"need >= $nlist sample vectors, got ${sample.length}")
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
      v.map(_ / n)
    }
    var cents = sample.take(nlist).map(norm)
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nlist)(new Array[Double](cents(0).length))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearestCell(cents, v)
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else norm(sums(c))
      }.toArray
    }
    cents
  }

  private def nearestCell(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { d += cents(c)(i) * v(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Cells of the `nprobe` nearest centroids, descending by dot product. */
  private def topCells(cents: Array[Array[Double]], v: Array[Double], nprobe: Int): Array[Int] = {
    val dots = cents.indices.map { c =>
      var d = 0.0; var i = 0
      while (i < v.length) { d += cents(c)(i) * v(i); i += 1 }
      (c, d)
    }
    dots.sortBy(-_._2).take(nprobe).map(_._1).toArray
  }

  /** IVF approximate top-k (the classical inverted-file ANN layout, the
    * brief's alternative scale path to LSH): vectors are assigned to their
    * nearest coarse centroid's cell; each query probes only its `nprobe`
    * nearest cells. The cell join ships ids only (vectors are fetched per
    * surviving candidate, exactly like the LSH route); candidate volume is
    * ~n²·nprobe/nlist instead of n², and cells — unlike LSH buckets — adapt
    * to the corpus geometry, so recall holds on clustered embeddings with
    * far fewer candidates. Same output shape as bruteTopK/lshTopK. */
  def ivfTopK(emb: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 0x5EAC15DL): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = trainCentroids(emb, nlist, seed)
    val vecs = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val assign = vecs.map { case (id, v) =>
      (id, nearestCell(cents, v.map(_.toDouble)))
    }.toDF("a", "cell")
    val probes = vecs.flatMap { case (id, v) =>
      topCells(cents, v.map(_.toDouble), nprobe).iterator.map(c => (id, c))
    }.toDF("vec_id", "cell")
    val cand = probes.join(assign, "cell")
      .where(col("vec_id") =!= col("a"))
      .select(col("vec_id"), col("a").as("neighbor_id"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id"), col("embedding").as("ev")), "vec_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("en")), "neighbor_id")
      .withColumn("cos", Fns.cosineSim(col("ev"), col("en")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "cos")
  }
}
