package graft.sources

import graft.extract.HtmlExtract
import graft.operators.{ConnectedComponents, Lsh}
import graft.{DedupConfig, SparkSuite}
import org.apache.spark.sql.functions._

class PagesGenSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test
  private val N = 500

  test("generator is deterministic and parallelism-independent") {
    val a = PagesGen.docs(spark, N, cfg).collect().sortBy(_.doc_id)
    val b = PagesGen.docs(spark, N, cfg).repartition(13).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
  }

  test("pages: text column equals E1(html) where materialized, null otherwise") {
    val rows = PagesGen.pages(spark, 100, cfg).collect()
    rows.foreach { p =>
      val extracted = HtmlExtract.text(p.html)
      if (p.url.stripPrefix("synth://gen/").toLong % 2 == 0)
        assert(p.text === extracted, p.url)
      else assert(p.text == null, p.url)
      assert(extracted.nonEmpty)
      assert(!extracted.contains("<") && !extracted.contains("junk"))
    }
  }

  test("truth pairs exist for every planted family") {
    val kinds = PagesGen.truthPairsLocal(N, cfg).groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds.getOrElse("minhash", 0) > 10, kinds.toString)
    assert(kinds.getOrElse("simhash", 0) > 5, kinds.toString)
    assert(kinds.getOrElse("substr", 0) > 5, kinds.toString)
  }

  test("MinHash family recall >= 0.99 on the planted corpus") {
    val docs = PagesGen.docs(spark, N, cfg).toDF()
    val truth = PagesGen.truthPairsLocal(N, cfg)
      .filter(_.kind == "minhash").map(p => (p.a, p.b)).toSet
    val found = Lsh.minhashDupPairs(docs, cfg)
      .select(least($"a", $"b"), greatest($"a", $"b"))
      .as[(Long, Long)].collect().toSet
    val recall = (found intersect truth).size.toDouble / truth.size
    assert(truth.nonEmpty)
    assert(recall >= 0.99, s"recall=$recall missing=${truth diff found}")
  }

  test("SimHash family recall on bag-preserving rewrites (Hamming 0 planted)") {
    val docs = PagesGen.docs(spark, N, cfg).toDF()
    val truth = PagesGen.truthPairsLocal(N, cfg)
      .filter(_.kind == "simhash").map(p => (p.a, p.b)).toSet
    val found = Lsh.simhashDupPairs(docs, cfg)
      .select(least($"a", $"b"), greatest($"a", $"b"))
      .as[(Long, Long)].collect().toSet
    val recall = (found intersect truth).size.toDouble / truth.size
    assert(truth.nonEmpty)
    assert(recall >= 0.99, s"recall=$recall missing=${truth diff found}")
  }

  test("hot-bucket salting: caps bucket fan-out, logs the drop, keeps truth recall") {
    val docs = PagesGen.docs(spark, N, cfg).toDF()
    val salty = cfg.copy(saltMaxBucket = 5)
    val keys = Lsh.minhashBandKeys(Lsh.signatures(Lsh.shingled(docs, salty), salty), salty)
    // the boilerplate cluster must create genuinely hot buckets
    val maxBucket = keys.groupBy("band", "key").count().agg(max("count")).as[Long].head()
    assert(maxBucket > salty.saltMaxBucket, s"maxBucket=$maxBucket")
    val dropped = Lsh.saltedDropEstimate(keys, salty)
    assert(dropped > 0, "salting must report its dropped-pair estimate")
    val salted = Lsh.saltBandKeys(keys, salty)
    val maxLane = salted.groupBy("band", "key", "salt").count().agg(max("count")).as[Long].head()
    assert(maxLane <= maxBucket, "salt lanes must shrink the hottest bucket")
    // truth recall unaffected (planted dups pair in many non-hot bands)
    val truth = PagesGen.truthPairsLocal(N, salty)
      .filter(_.kind == "minhash").map(p => (p.a, p.b)).toSet
    // the production listing: cold candidates verified, hot-lane forest
    // edges (already verified) unioned in
    val sh = Lsh.shingled(docs, salty)
    val (cands, hotVerified) = Lsh.minhashListing(salted, sh, salty)
    val found = Lsh.verifyJaccard(cands, sh, salty).unionByName(hotVerified)
      .select(least($"a", $"b"), greatest($"a", $"b"))
      .as[(Long, Long)].collect().toSet
    val recall = (found intersect truth).size.toDouble / truth.size
    assert(recall >= 0.99, s"recall=$recall")
  }

  test("full evidence-accumulation clustering over all three families") {
    val docs = PagesGen.docs(spark, N, cfg).toDF()
    val mh = Lsh.minhashDupPairs(docs, cfg)
    val sh = Lsh.simhashDupPairs(docs, cfg)
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val pairs = Lsh.dupPairs(mh, sh, empty)
    assert(pairs.groupBy("family").count().count() === 2)
    val clusters = ConnectedComponents.assign(pairs.select("a", "b"))
    assert(clusters.count() > 0)
  }
}
