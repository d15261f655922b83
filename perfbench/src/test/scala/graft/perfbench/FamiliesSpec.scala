package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Transcripts.Turn

class FamiliesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spec = Families.Spec(groups = 40, members = 4, singletonShare = 0.25, editRate = 0.03)

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("families-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus(seed: Long, groupsPerBlock: Int): Seq[Turn] = {
    import spark.implicits._
    Families.generateDf(spark, spec, seed, groupsPerBlock).as[Turn].collect().toSeq
      .sortBy(t => (t.conv_id, t.turn_idx))
  }

  test("the same seed gives the same corpus however generation is split") {
    val a = corpus(5L, groupsPerBlock = 256)
    assert(a.nonEmpty)
    assert(a == corpus(5L, groupsPerBlock = 256))
    assert(a == corpus(5L, groupsPerBlock = 3))
  }

  test("another seed gives another corpus") {
    assert(corpus(5L, 256) != corpus(6L, 256))
  }

  test("groups become consecutive conversations of the planned sizes") {
    val sizes = Families.groupSizes(spec, 5L)
    assert(sizes.forall(s => s == 1 || s == spec.members))
    assert(sizes.count(_ == 1) > 0 && sizes.count(_ > 1) > 0)
    val convs = corpus(5L, 256).map(_.conv_id).distinct
    assert(convs.size == sizes.sum)
    assert(convs == (1 to sizes.sum).map(i => f"conv-$i%09d"))
  }

  test("family members are near duplicates: same turns, few token edits") {
    val words = Families.vocabulary(5L)
    val sizes = Families.groupSizes(spec, 5L)
    val g = sizes.indexWhere(_ > 1)
    val first = sizes.take(g).map(_.toLong).sum
    val members = Families.groupTurns(spec, 5L, words, g, sizes(g), first).toSeq.groupBy(_.conv_id)
    assert(members.size == spec.members)
    val texts = members.values.map(_.sortBy(_.turn_idx).map(_.text.split(" ").toSeq)).toSeq
    assert(texts.map(_.map(_.size)).distinct.size == 1)
    val (a, b) = (texts(0).flatten, texts(1).flatten)
    val differing = a.zip(b).count { case (x, y) => x != y }.toDouble / a.size
    assert(differing > 0.0 && differing < 0.15)
  }
}
