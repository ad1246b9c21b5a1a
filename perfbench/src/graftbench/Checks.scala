package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks: cluster digests, recall against planted truth, and the
  * query-result checksums. */
object Checks {
  /** Label-free digest of a cluster assignment (doc_id -> cluster_id): the
    * partition of doc ids into clusters, independent of the cluster ids. */
  def digest(assign: Seq[(Long, Long)]): String = {
    val groups = assign.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      .sortBy(_.head)
    val md = java.security.MessageDigest.getInstance("MD5")
    groups.foreach(g => md.update((g.mkString(",") + ";").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Digest of a query result given as sorted row strings. */
  def digestRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Share of truth pairs (in doc ids) whose two docs share a cluster. */
  def recall(assign: Seq[(Long, Long)], truth: Seq[(Long, Long)]): Double = {
    require(truth.nonEmpty, "no planted truth pairs")
    val cluster = assign.toMap
    val hit = truth.count { case (a, b) =>
      cluster.get(a).exists(c => cluster.get(b).contains(c))
    }
    hit.toDouble / truth.size
  }

  /** (row count, xor of per-row xxhash64 over every column) — materializes
    * every output column, unlike `count()`, which lets Catalyst prune the
    * projection. Map columns go through `to_json` (maps are not hashable). */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (`q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
