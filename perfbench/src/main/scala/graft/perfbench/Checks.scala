package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.core.{DedupConfig, MinHasher, Murmur3x128, OracleDedup}

/** Order-insensitive digest of a set of (conv_id, cluster_id) rows: the
  * row count plus the xor and the wrapping sum of a 64-bit hash per row.
  * Equal sets give equal digests in any row or partition order. */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, xor ^ o.xor, sum + o.sum)
  override def toString: String = f"$rows:$xor%016x:$sum%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0L)

  def row(convId: String, clusterId: String): Digest = {
    val h = Murmur3x128.hashBytes64(
      (String.valueOf(convId) + "\u0000" + String.valueOf(clusterId)).getBytes(UTF_8), 17L)
    Digest(1L, h, MinHasher.mix64(h))
  }

  def of(rows: Iterator[(String, String)]): Digest =
    rows.foldLeft(Empty) { case (d, (c, k)) => d + row(c, k) }
}

/** What the checks need from one run's assignments, gathered in one job:
  * the digest of all rows and the rows of the recall slice. */
final case class Outcome(digest: Digest, slice: Map[String, String])

object Checks {

  val RecallFloor = 0.99

  /** The action that consumes a run's assignments(conv_id, cluster_id). */
  def outcome(assignments: DataFrame, sliceMax: String): Outcome = {
    val parts = assignments.select("conv_id", "cluster_id").rdd.mapPartitions { it =>
      var d = Digest.Empty
      val slice = Map.newBuilder[String, String]
      it.foreach { r =>
        val c = r.getString(0); val k = r.getString(1)
        d = d + Digest.row(c, k)
        if (c != null && c <= sliceMax) slice += c -> k
      }
      Iterator((d, slice.result()))
    }.collect()
    Outcome(parts.map(_._1).foldLeft(Digest.Empty)(_ + _),
      parts.iterator.flatMap(_._2).toMap)
  }

  /** Exact duplicate pairs of the slice docs, by the all-pairs oracle. */
  def truthPairs(sliceDocs: Seq[(String, String)]): Set[(String, String)] =
    OracleDedup.run(sliceDocs, DedupConfig()).pairs

  /** Share of the slice's true pairs that the run put in one cluster. The
    * run's assignments come from the full corpus. */
  def recall(truth: Set[(String, String)], o: Outcome): Double =
    OracleDedup.recall(truth, o.slice)
}
