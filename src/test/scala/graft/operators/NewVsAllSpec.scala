package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Properties of `Lsh.newVsAllListing` + `Lsh.lanePairs` with seeds —
  * the shared incremental new×all machinery behind the streaming bridge
  * and DedupMain's day-append path (SURVEY §2.10.2 J6). r5 contract: cold
  * buckets list exact new-involving candidates; hot buckets come back as
  * census-salted lanes (the batch salt formula) resolved in-task by
  * VERIFIED forests that emit only new-involving merges. */
class NewVsAllSpec extends SparkSuite {
  import spark.implicits._

  /** Random (doc_id, key) band-key rows: `buckets` keys, 2–12 members. */
  private def keysFixture(seed: Long, buckets: Int): Seq[(Long, Long)] = {
    val rnd = new java.util.SplittableRandom(seed)
    for {
      k <- 0 until buckets
      n = 2 + rnd.nextInt(11)
      i <- 0 until n
    } yield (rnd.nextLong() & 0x7fffffffL, k.toLong)
  }

  test("union over increments == the batch cold listing; no pair emitted twice") {
    val rows = keysFixture(11L, 40).distinct
    // increments are DOC-granular (all of a doc's band keys arrive
    // together — the pipeline's contract); a row-granular split would let
    // a pair legitimately re-collide on a key whose rows straddle batches
    val docGroups = rows.map(_._1).distinct.grouped(
      (rows.map(_._1).distinct.size + 2) / 3).map(_.toSet).toSeq
    val incs = docGroups.map(g => rows.filter(r => g.contains(r._1)))
    var seen = Set.empty[(Long, Long)]
    var old = Seq.empty[(Long, Long)]
    incs.foreach { inc =>
      val (cold, lanes) = Lsh.newVsAllListing(
        inc.toDF("doc_id", "key"), old.toDF("doc_id", "key"), cap = 1000)
      assert(lanes.count() === 0, "no bucket exceeds the cap on this fixture")
      // pre-distinct cold listing carries NO duplicate rows on this
      // single-key-per-pair fixture: new↔old emitted from the new side
      // only, new↔new once via x < y (the 2×-transient fix)
      val raw = cold.as[(Long, Long)].collect()
      assert(raw.length === raw.distinct.length,
        "pre-distinct new×all listing must not duplicate any pair row")
      val emitted = raw.toSet
      assert((seen intersect emitted).isEmpty,
        "a pair must never be produced twice across increments")
      seen ++= emitted
      old ++= inc
    }
    val batch = Lsh.candidatePairs(
        rows.toDF("doc_id", "key").withColumn("salt", lit(0)))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(seen === batch,
      s"extra=${seen -- batch} missing=${batch -- seen}")
  }

  test("hot buckets become lanes with EXACTLY the batch salt partition") {
    // one bucket of 100 members arriving in two increments of 50
    val first = (0L until 50L).map(i => (i, 7L))
    val second = (50L until 100L).map(i => (i, 7L))
    val cap = 10
    val (cold, lanes) = Lsh.newVsAllListing(
      second.toDF("doc_id", "key"), first.toDF("doc_id", "key"), cap)
    assert(cold.count() === 0, "a hot bucket must not emit cold candidates")
    val laneRows = lanes.as[(Long, Int, Long, Boolean)].collect()
    assert(laneRows.map(_._3).toSet.subsetOf((0L until 100L).toSet) &&
      laneRows.exists(!_._4) && laneRows.exists(_._4),
      "touched lanes carry their old members alongside the new")
    assert(laneRows.filter(_._4).map(_._3).toSet === second.map(_._1).toSet,
      "is_new must tag exactly the new side")
    // the salt partition must be IDENTICAL to the batch path's
    // (saltBandKeys at the same cap), so incremental lane forests resolve
    // the same member sets the batch build would
    val batchSalted = Lsh.saltBandKeys(
        (first ++ second).toDF("doc_id", "key"),
        graft.DedupConfig.test.copy(saltMaxBucket = cap))
      .select("doc_id", "salt").as[(Long, Int)].collect().toMap
    laneRows.foreach { case (_, salt, doc, _) =>
      assert(salt === batchSalted(doc),
        s"doc $doc: incremental lane $salt != batch lane ${batchSalted(doc)}")
    }
  }

  test("old-side keys untouched by the increment are irrelevant to both listings") {
    // the r5.2 scale contract: the census + cold join + lane build are
    // restricted to increment-touched keys BEFORE the census, so per-
    // increment shuffle volume scales with the increment — provably
    // output-identical because an untouched key yields no candidate and
    // no touched lane. Fixture: old side carries a HOT bucket (key 99,
    // 40 members > cap) and cold junk (keys 500+) that the new side
    // never touches, plus genuinely shared keys.
    val cap = 10
    val shared = keysFixture(23L, 20).distinct
    val docs = shared.map(_._1).distinct
    val (newDocs, oldDocs) = docs.splitAt(docs.size / 3)
    val newRows = shared.filter(r => newDocs.contains(r._1)) ++
      newDocs.take(15).map(d => (d, 99L)) // new members make key 99 hot+touched
    val oldRows = shared.filter(r => oldDocs.contains(r._1))
    val untouched = (1000L until 1040L).map(d => (d, 99999L)) ++ // hot, untouched
      (2000L until 2020L).map(d => (d, 500L + d % 7))            // cold junk
    def run(old: Seq[(Long, Long)]) = {
      val (cold, lanes) = Lsh.newVsAllListing(
        newRows.toDF("doc_id", "key"), old.toDF("doc_id", "key"), cap)
      (cold.as[(Long, Long)].collect().toSet,
       lanes.as[(Long, Int, Long, Boolean)].collect().toSet)
    }
    val (coldA, lanesA) = run(oldRows)
    val (coldB, lanesB) = run(oldRows ++ untouched)
    assert(coldA === coldB,
      "cold listing must not change when untouched old keys are added")
    assert(lanesA === lanesB,
      "lane rows must not change when an untouched hot old bucket is added")
    assert(lanesA.nonEmpty, "fixture must actually exercise the hot path")
    assert(coldA.nonEmpty, "fixture must actually exercise the cold path")
  }

  test("incremental hamming lane forests: verified-only, new-involving, batch connectivity") {
    // one hot bucket; members' fingerprints: two planted Hamming-groups
    // plus isolates that verify with NOBODY. Three increments.
    val base1 = 0x0123456789abcdefL
    val base2 = 0x7ea10000cafe1234L
    def flip(h: Long, bits: Int*) = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    val members: Seq[(Long, Long)] = // (doc_id, simhash)
      (0 until 12).map(i => (i.toLong, flip(base1, i % 3))) ++ // group A
      (12 until 22).map(i => (i.toLong, flip(base2, (i % 2) * 7))) ++ // group B
      (22 until 30).map(i => (i.toLong, i.toLong * 0x9e3779b97f4a7c15L)) // isolates
    val cap = 5 // bucket of 30 > cap ⇒ lanes of ≤ ~5
    val T = 3
    def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).map(x => x -> find(x)).toMap
    }
    val fpOf = members.toMap
    var old = Seq.empty[(Long, Long)]
    var emittedAll = Set.empty[(Long, Long)]
    // the inductive recall invariant: every increment's OWN lane partition
    // (census at that time — lane boundaries legitimately drift as the
    // bucket grows, the documented source of append-vs-batch hot deltas)
    // must have its within-lane verified components connected by the
    // cumulative emitted edges (∪ the seeds, which derive from them)
    val mustConnect = scala.collection.mutable.Set[(Long, Long)]()
    members.grouped(10).foreach { inc =>
      val newK = inc.map { case (d, _) => (d, 7L) }.toDF("doc_id", "key")
      val oldK = old.map { case (d, _) => (d, 7L) }.toDF("doc_id", "key")
      val (_, lanes) = Lsh.newVsAllListing(newK, oldK, cap)
      val laneRows = lanes.as[(Long, Int, Long, Boolean)].collect()
      val payload = (old ++ inc).toDF("doc_id", "simhash")
      // FRESH seed per increment — CC over everything emitted so far (the
      // streaming bridge's exact situation; the day path may be staler)
      val seed = components(emittedAll).toSeq.toDF("doc_id", "cluster_id")
      val emitted = Lsh.lanePairs(
          Lsh.withLaneSeeds(lanes, Some(seed)).join(payload, "doc_id"), Lsh.hammingCheck(T))
        .select("a", "b").as[(Long, Long)].collect().toSet
      emitted.foreach { case (a, b) =>
        assert(java.lang.Long.bitCount(fpOf(a) ^ fpOf(b)) <= T,
          s"emitted edge ($a,$b) is UNVERIFIED — the hub-spoke failure class")
      }
      // with fresh seeds, an already-emitted pair can never merge again
      assert((emittedAll intersect emitted).isEmpty,
        "a pair must never be emitted twice across increments (fresh seeds)")
      emittedAll ++= emitted
      // record this increment's within-lane verified component pairs
      // (TOUCHED lanes only — the operator's contract skips lanes with no
      // new member; their drift links surface when next touched)
      laneRows.groupBy(r => r._2).values.filter(_.exists(_._4)).foreach { lane =>
        val laneVerified = (for {
          Seq(x, y) <- lane.map(_._3).sorted.toList.combinations(2)
          if java.lang.Long.bitCount(fpOf(x) ^ fpOf(y)) <= T
        } yield (x, y)).toSet
        components(laneVerified).groupBy(_._2).values.foreach { comp =>
          val ids = comp.keys.toSeq.sorted
          ids.zip(ids.tail).foreach(mustConnect += _)
        }
      }
      old ++= inc
    }
    val comps = components(emittedAll)
    mustConnect.foreach { case (a, b) =>
      assert(comps.get(a).isDefined && comps(a) === comps(b),
        s"docs $a,$b verified within a lane of some increment but the " +
          "cumulative forest leaves them disconnected — silent recall loss")
    }
    // and nothing beyond the bucket's TRUE verified connectivity is merged
    val fullVerified = (for {
      Seq(x, y) <- members.map(_._1).toList.combinations(2)
      if java.lang.Long.bitCount(fpOf(x) ^ fpOf(y)) <= T
    } yield (x, y)).toSet
    val trueComps = components(fullVerified)
    comps.keys.foreach { d =>
      val mates = comps.filter(_._2 == comps(d)).keys
      mates.foreach(m => if (m != d)
        assert(trueComps(m) === trueComps(d),
          s"emitted forest merged $d and $m which the TRUE verified graph separates"))
    }
  }

  test("incremental jaccard lane forest verifies with exact Jaccard") {
    // one hot lane-sized bucket: 6 near-identical shingle sets + 2 that
    // fail against everyone; two increments
    val base = Array.tabulate(40)(i => i * 10L)
    def variant(r: Int, m: Int): Array[Long] = {
      val a = base.clone()
      (0 until r).foreach(i => a(i) = 100000L + m * 100L + i)
      java.util.Arrays.sort(a); a
    }
    val docs: Seq[(Long, Array[Long])] =
      (0 until 6).map(m => (m.toLong, variant(m % 3, m))) ++
      Seq((6L, variant(20, 6)), (7L, variant(20, 7)))
    val cap = 3
    def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).map(x => x -> find(x)).toMap
    }
    var old = Seq.empty[Long]
    var emittedAll = Set.empty[(Long, Long)]
    docs.map(_._1).grouped(4).foreach { inc =>
      val (_, lanes) = Lsh.newVsAllListing(
        inc.map((_, 9L)).toDF("doc_id", "key"),
        old.map((_, 9L)).toDF("doc_id", "key"), cap)
      val payload = docs.filter(d => old.contains(d._1) || inc.contains(d._1))
        .toDF("doc_id", "shingles")
      val seed = components(emittedAll).toSeq.toDF("doc_id", "cluster_id")
      val emitted = Lsh.lanePairs(
          Lsh.withLaneSeeds(lanes, Some(seed)).join(payload, "doc_id"), Lsh.jaccardCheck(0.8))
        .select("a", "b").as[(Long, Long)].collect().toSet
      emitted.foreach { case (a, b) =>
        val sa = docs(a.toInt)._2.toSet; val sb = docs(b.toInt)._2.toSet
        val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        assert(j >= 0.8, s"edge ($a,$b) jaccard $j below threshold — unverified")
      }
      assert((emittedAll intersect emitted).isEmpty)
      emittedAll ++= emitted
      old ++= inc
    }
    // the failing docs 6,7 never appear
    assert(emittedAll.forall(e => e._1 < 6 && e._2 < 6))
  }
}
