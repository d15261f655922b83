package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.MinHasher
import graft.pipeline.{BucketedCorpus, Transcripts}
import graft.pipeline.Transcripts.Turn

/** Realized properties of a generated corpus. `dupShare` and `familySize`
  * are known only for corpora whose generator records its families. */
final case class CorpusProps(conversations: Long, turns: Long, bytes: Long,
                             dupShare: Option[Double], familySize: Option[Int]) {
  override def toString: String =
    s"conversations=$conversations turns=$turns bytes=$bytes" +
      dupShare.fold("")(d => f" dup_share=$d%.4f") +
      familySize.fold("")(f => s" family_size=$f")
}

/** The corpora the workloads run on. Each is a pure function of its seed
  * and is written in the production layout (BucketedCorpus), which is all
  * the program under test receives. */
object Corpora {

  /** Bucket count of the written corpora: one bucket per shuffle partition
    * of the session. */
  val Buckets = 32

  /** The standard generator mix (Transcripts.generateDf in blocks of
    * `blockSize` conversations, so generation runs on every core), cut to
    * `turns`. */
  def mixed(spark: SparkSession, nConvs: Long, blockSize: Int, turns: Long, seed: Long,
            dir: String): CorpusProps = {
    val cut = firstTurns(Transcripts.generateDf(spark, nConvs, seed, blockSize), turns)
    BucketedCorpus.write(cut.rows, dir, Buckets)
    cut.props
  }

  def families(spark: SparkSession, spec: Families.Spec, turns: Long, seed: Long,
               dir: String): CorpusProps = {
    val cut = firstTurns(Families.generateDf(spark, spec, seed), turns)
    BucketedCorpus.write(cut.rows, dir, Buckets)
    // realized groups: the cut may end inside the last one
    val convs = cut.props.conversations
    val planned = Families.groupSizes(spec, seed).map(_.toLong)
    val sizes = planned.iterator.zip(planned.iterator.scanLeft(0L)(_ + _))
      .takeWhile(_._2 < convs).map { case (size, first) => math.min(size, convs - first) }.toSeq
    val fams = sizes.filter(_ > 1)
    cut.props.copy(dupShare = Some((fams.sum - fams.length).toDouble / convs),
      familySize = Some(math.round(fams.sum.toDouble / fams.length).toInt))
  }

  final case class Cut(rows: DataFrame, props: CorpusProps)

  /** The conversations, in conv_id order, whose turns add up to at most
    * `turns`. Both generators draw conversation lengths from a heavy-tailed
    * distribution, and the standard mix also repeats one template of random
    * length in 5% of its conversations; cutting by turns instead of by
    * conversations keeps the work of a corpus nearly the same from seed to
    * seed. Duplicates sit next to their original in conv_id order, so only
    * the last family can be cut. */
  def firstTurns(generated: DataFrame, turns: Long): Cut = {
    val transcripts = generated.persist(StorageLevel.MEMORY_AND_DISK)
    val perConv = transcripts.groupBy(col("conv_id"))
      .agg(count(lit(1)), sum(octet_length(col("text")))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val kept = perConv.length - perConv.iterator.scanLeft(0L)(_ + _._2).drop(1).count(_ > turns)
    require(kept > 0 && kept < perConv.length,
      s"corpus of ${perConv.map(_._2).sum} turns cannot be cut to $turns")
    val last = perConv(kept - 1)._1
    Cut(transcripts.where(col("conv_id") <= last),
      CorpusProps(kept, perConv.take(kept).map(_._2).sum, perConv.take(kept).map(_._3).sum, None, None))
  }
}

/** The `families` corpus: most conversations belong to a near-duplicate
  * family. A family is `members` conversations, each an independent copy
  * of one hidden base conversation with every token replaced by a random
  * vocabulary word with probability `editRate`; the rest of the groups are
  * single distinct conversations. Members of a group get consecutive
  * conv_ids. Everything is a function of the seed and the group index, so
  * the corpus does not depend on how generation is partitioned. */
object Families {

  final case class Spec(groups: Int, members: Int, singletonShare: Double, editRate: Double)

  private val Syllables = Array("ba", "co", "di", "fu", "ga", "he", "ji", "ko", "lu", "ma",
    "ne", "po", "qu", "ri", "sa", "te", "vo", "wi", "xa", "ze")
  private val Roles = Array("user", "assistant")

  private def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(MinHasher.mix64(seed ^ MinHasher.mix64(salt)))

  def vocabulary(seed: Long): Array[String] = {
    val r = rng(seed, -1L)
    Array.tabulate(5000) { _ =>
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
  }

  /** Conversations per group, in group order. */
  def groupSizes(spec: Spec, seed: Long): Array[Int] =
    Array.tabulate(spec.groups) { g =>
      if (rng(seed, 2L * g).nextDouble() < spec.singletonShare) 1 else spec.members
    }

  /** The turns of group `g`, whose first conversation has index `firstConv`. */
  def groupTurns(spec: Spec, seed: Long, words: Array[String], g: Int, size: Int,
                 firstConv: Long): Iterator[Turn] = {
    val r = rng(seed, 2L * g + 1)
    val nTurns = math.min(64, 2 + (math.pow(r.nextDouble(), 3.0) * 62).toInt)
    val base = Array.fill(nTurns)(Array.fill(6 + r.nextInt(20))(r.nextInt(words.length)))
    Iterator.range(0, size).flatMap { m =>
      val convIdx = firstConv + m
      val id = f"conv-${convIdx + 1}%09d"
      val t0 = 1700000000000L + convIdx * 100000L
      val edit = size > 1
      base.iterator.zipWithIndex.map { case (toks, ti) =>
        val text = toks.map { w =>
          words(if (edit && r.nextDouble() < spec.editRate) r.nextInt(words.length) else w)
        }.mkString(" ")
        Turn(id, ti, Roles(ti % 2), text, null, new Timestamp(t0 + ti * 1000L))
      }
    }
  }

  /** Generated executor-side in blocks of groups. */
  def generateDf(spark: SparkSession, spec: Spec, seed: Long, groupsPerBlock: Int = 64): DataFrame = {
    import spark.implicits._
    val sizes = groupSizes(spec, seed)
    val firsts = sizes.scanLeft(0L)(_ + _)
    val words = vocabulary(seed)
    val nBlocks = (spec.groups + groupsPerBlock - 1) / groupsPerBlock
    spark.range(0, nBlocks, 1, math.max(1, math.min(nBlocks, 64))).as[Long]
      .mapPartitions(_.flatMap { b =>
        val lo = (b * groupsPerBlock).toInt
        val hi = math.min(lo + groupsPerBlock, spec.groups)
        Iterator.range(lo, hi).flatMap(g => groupTurns(spec, seed, words, g, sizes(g), firsts(g)))
      })
      .toDF()
  }
}
