package graft.operators

import graft.functions.Xxh
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal columns (builder brief): image/audio/video travel as opaque
 * `binary` columns with typed metadata. The Spark-side plumbing — schema,
 * partition-iterator batch shape (the Scala equivalent of Python's
 * `mapInPandas` batches), column pruning so the binary column is only
 * scanned by stages that need it — is real and tested; the codec itself is
 * a clearly-marked deterministic STUB because no image/audio libraries
 * ship in this container. Swapping in a real decoder changes ONLY
 * `DecodeStub.decode`.
 */
object Multimodal {

  final case class MediaMeta(doc_id: Long, kind: String, n_bytes: Long,
                             width: Int, height: Int, phash: Long)

  /** STUB decoder — stands in for e.g. javax.imageio / ffmpeg bindings.
    * Deterministic function of the bytes so tests/goldens are stable. */
  object DecodeStub {
    def decode(bytes: Array[Byte]): (Int, Int) = {
      val h = Xxh.hashBytes(bytes, 7L)
      // fake-but-plausible dimensions derived from content
      (64 + (Math.floorMod(h, 1024L)).toInt, 64 + (Math.floorMod(h >>> 32, 1024L)).toInt)
    }

    /** Stub perceptual hash: content hash (a real pHash would DCT the
      * decoded pixels; the pipeline shape is identical). */
    def phash(bytes: Array[Byte]): Long = Xxh.hashBytes(bytes, 11L)
  }

  /**
   * Batch feature extraction over (doc_id, media: binary). mapPartitions
   * keeps the decoder amortized per-partition (codec init happens once per
   * partition, the way a real binding would want), mirroring mapInPandas'
   * batch contract.
   */
  def mediaFeatures(media: DataFrame, kind: String = "image"): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (real codec binding)
        it.map { case (id, bytes) =>
          val (w, h) = DecodeStub.decode(bytes)
          MediaMeta(id, kind, bytes.length.toLong, w, h, DecodeStub.phash(bytes))
        }
      }
  }

  /** Exact binary-level dedup of media blobs: group on content hash, keep
    * the smallest doc_id — the binary column itself never shuffles. */
  def mediaExactDedup(media: DataFrame): DataFrame =
    media.groupBy(xxhash64(col("media")).as("media_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Near-dup media pairs via phash Hamming, through the SAME block-
    * combination machinery as SimHash (`Lsh.hamming64BandKeys`): every pair
    * within Hamming ≤ maxHamming collides on ≥1 block key (pigeonhole), so
    * this is EXACT — identical output to a brute crossJoin (unit-tested)
    * without materializing the O(n²) product.
    *
    * Buckets are never capped: media pairs are a terminal pair-listing API,
    * not CC input, so every verified pair is listed (a spanning forest
    * would drop pairs outright). Dedupe exact copies first
    * (`mediaExactDedup`) so near-dup cliques stay small. */
  def mediaNearDupPairs(features: Dataset[MediaMeta], maxHamming: Int,
                        blocks: Int = 6): DataFrame = {
    val hashes = features.toDF().select(col("doc_id"), col("phash"))
    val cands = Lsh.candidatePairs(
      Lsh.hamming64BandKeys(hashes, "phash", blocks, maxHamming).withColumn("salt", lit(0)))
    val ha = hashes.select(col("doc_id").as("a"), col("phash").as("pa"))
    val hb = hashes.select(col("doc_id").as("b"), col("phash").as("pb"))
    cands.join(ha, "a").join(hb, "b")
      .withColumn("hamming", bit_count(col("pa") bitwiseXOR col("pb")).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }
}
