package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

class HllSketchSpec extends AnyFunSuite {

  private def fill(sk: HllSketch, from: Long, n: Long): Unit = {
    var i = from
    while (i < from + n) { sk.update(i); i += 1 }
  }

  test("small n is near-exact (sparse mode)") {
    val sk = new HllSketch(12)
    for (n <- Seq(0L, 1L, 10L, 100L, 500L)) {
      val s = new HllSketch(12)
      fill(s, 0, n)
      assert(math.abs(s.estimate - n) <= math.max(1.0, 0.01 * n), s"n=$n est=${s.estimate}")
    }
    assert(sk.estimate === 0.0)
  }

  test("large n within 3 sigma closed-form error (lgK=12)") {
    for (n <- Seq(10000L, 100000L, 1000000L)) {
      val s = new HllSketch(12)
      fill(s, 0, n)
      val rse = 0.8326 / math.sqrt(4096.0)
      assert(math.abs(s.estimate - n) / n < 3.5 * rse,
        s"n=$n est=${s.estimate} relerr=${math.abs(s.estimate - n) / n}")
      assert(s.lowerBound(2) < n && n < s.upperBound(2), s"bounds at n=$n")
    }
  }

  test("duplicates do not change the estimate") {
    val s = new HllSketch(10)
    fill(s, 0, 10000)
    val e1 = s.estimate
    fill(s, 0, 10000) // same values again
    assert(s.estimate === e1)
  }

  test("string/bytes/long/double updates hash consistently") {
    val a = new HllSketch(10); a.update("hello")
    val b = new HllSketch(10); b.update("hello".getBytes("UTF-8"))
    assert(a.serialize().sameElements(b.serialize()))
    val c = new HllSketch(10); c.update(0.0); c.update(-0.0)
    assert(c.estimate === 1.0) // -0.0 canonicalized
  }

  test("merge == union; estimate within bounds; lgK mismatch downsamples to min") {
    val n = 50000L
    val a = new HllSketch(12); fill(a, 0, n)
    val b = new HllSketch(12); fill(b, n / 2, n) // overlap: true union = 1.5n
    a.merge(b)
    val trueU = 3 * n / 2
    assert(math.abs(a.estimate - trueU) / trueU < 3.5 * 1.0390 / math.sqrt(4096.0))
    // round 2: lgK mismatch resolves via downsampling (upstream union
    // semantics — the fork's unimplemented branches); see HllInteropSpec
    val c = new HllSketch(11); fill(c, 0, 1000)
    a.merge(c)
    assert(a.lgK === 11)
    assert(math.abs(a.estimate - trueU) / trueU < 3.5 * 1.0390 / math.sqrt(2048.0))
  }

  test("merge is order-insensitive on the dense state") {
    val a1 = new HllSketch(10); fill(a1, 0, 20000)
    val b1 = new HllSketch(10); fill(b1, 10000, 20000)
    val ab = a1.copy().merge(b1)
    val ba = b1.copy().merge(a1)
    assert(ab.estimate === ba.estimate)
  }

  test("serialize round-trip (sparse and dense)") {
    val sp = new HllSketch(12); fill(sp, 0, 100)
    val sp2 = HllSketch.deserialize(sp.serialize())
    assert(sp2.estimate === sp.estimate)
    assert(sp2.serialize().sameElements(sp.serialize()))
    val dn = new HllSketch(10); fill(dn, 0, 100000)
    val dn2 = HllSketch.deserialize(dn.serialize())
    assert(dn2.estimate === dn.estimate)
    assert(dn2.serialize().sameElements(dn.serialize()))
  }

  test("merged sparse sketches keep exactness") {
    val a = new HllSketch(12); fill(a, 0, 50)
    val b = new HllSketch(12); fill(b, 25, 50)
    a.merge(b)
    assert(math.abs(a.estimate - 75.0) <= 1.0)
  }

  test("H21 pair iterator: sparse coupons and dense registers") {
    // sparse: pairs decode the stored coupons exactly
    val sp = new HllSketch(12)
    fill(sp, 0, 100)
    assert(!sp.isDense)
    val sparsePairs = sp.pairIterator().toVector
    assert(sparsePairs.nonEmpty && sparsePairs.size <= 100)
    sparsePairs.foreach { p =>
      assert(p.slot == (p.key & (sp.k - 1)))
      assert(p.value >= 1 && p.value <= 63)
      assert((p.packed & HllSketch.SlotMask26) == p.key)
      assert((p.packed >>> HllSketch.ValueShift) == p.value)
    }
    // a serde round-trip preserves the pair set exactly (index is the
    // enumeration position — hash-order-dependent, like the reference's
    // physical array index, so compare the packed pairs)
    val rebuild = HllSketch.deserialize(sp.serialize())
    assert(rebuild.pairIterator().map(_.packed).toVector.sorted ==
      sparsePairs.map(_.packed).sorted)

    // dense: nextValid skips empty slots, nextAll visits every slot
    val d = new HllSketch(8)
    fill(d, 0, 5000)
    assert(d.isDense)
    val valid = d.pairIterator().toVector
    val all = d.pairIterator(validOnly = false).toVector
    assert(all.size == d.k)
    assert(valid == all.filter(_.value != 0))
    assert(all.map(_.slot) == (0 until d.k).toVector)
    // the pairs carry the full register state: KxQ recomputed from them
    // matches a serde round-trip of the sketch
    val kxqFromPairs = all.map(p => HllSketch.invPow2(p.value)).sum
    val rt = HllSketch.deserialize(d.serialize())
    val kxqFromRt = rt.pairIterator(validOnly = false)
      .map(p => HllSketch.invPow2(p.value)).sum
    assert(math.abs(kxqFromPairs - kxqFromRt) < 1e-9)
    assert(math.abs(rt.estimate - d.estimate) < 1e-9)
  }
}

class FreqSketchSpec extends AnyFunSuite {

  test("exact when under capacity") {
    val s = new FreqSketch[Long](10)
    for (i <- 0 until 100; _ <- 0 to i) s.update(i.toLong)
    assert(s.offset === 0)
    assert(s.estimate(99L) === 100L)
    assert(s.estimate(0L) === 1L)
    assert(s.streamWeight === (1 to 100).map(_.toLong).sum)
  }

  test("heavy hitters survive purges; error contract holds") {
    val s = new FreqSketch[Long](6) // maxMapSize=64, capacity=48
    val heavy = Seq(1L -> 10000L, 2L -> 5000L, 3L -> 2500L)
    val rnd = new java.util.Random(7)
    // interleave heavy hitters with noise stream
    heavy.foreach { case (item, w) => s.update(item, w) }
    for (_ <- 1 to 20000) s.update(1000L + rnd.nextInt(5000))
    val w = s.streamWeight
    heavy.foreach { case (item, trueCount) =>
      assert(s.lowerBound(item) <= trueCount, s"LB violated for $item")
      assert(s.upperBound(item) >= trueCount, s"UB violated for $item")
      assert(math.abs(s.estimate(item) - trueCount) <= s.maximumError)
    }
    assert(s.maximumError <= s.epsilon * w * 2, "offset far above a-priori error")
    val top = s.frequentItems(noFalsePositives = false).map(_._1)
    assert(top.take(3).toSet.intersect(Set(1L, 2L, 3L)).size >= 2)
    assert(top.head === 1L)
  }

  test("purge median: reference sample bound, exact under 1024 active") {
    // sample bound mirrors items_sketch.go:80 (min(1024, capacity))
    assert(new FreqSketch[Long](10).purgeSampleSize === 768)
    assert(new FreqSketch[Long](24).purgeSampleSize === 1024)
    // ≤1024 active counters: the sample covers the whole map, so the
    // median is the exact full-map median — the pre-r6 behavior for every
    // regime the driver queries exercise
    val s = new FreqSketch[Long](6) // capacity 48
    for (i <- 0 until 48) s.update(i.toLong, i + 1L)
    val expected = {
      val vs = (1 to 48).map(_.toLong).toArray
      QuickSelect.select(vs, vs.length / 2)
    }
    assert(s.purgeMedian() === expected)
    // error contracts hold under the sampled purge regime
    val p = new FreqSketch[Long](6)
    val heavy = Seq(1L -> 10000L, 2L -> 5000L)
    heavy.foreach { case (k, w) => p.update(k, w) }
    val rnd = new java.util.Random(13)
    for (_ <- 1 to 30000) p.update(2000L + rnd.nextInt(8000))
    assert(p.offset > 0)
    heavy.foreach { case (k, t) =>
      assert(p.lowerBound(k) <= t && t <= p.upperBound(k), s"bounds for $k")
    }
  }

  test("purge median cost is sample-bounded, not map-bounded") {
    // 300k active counters at lgMaxMapSize 24: the r5 full-map form copied
    // and quickselected 300k longs per call; the sampled form reads only
    // the first purgeSampleSize counters in map-iteration order
    val s = new FreqSketch[Long](24)
    for (i <- 0L until 300000L) s.update(i, i % 97 + 1)
    assert(s.numActive === 300000)
    assert(s.purgeSampleSize === 1024)
    // toCsvString lists item,count pairs in map-iteration order after 8
    // header fields
    val inOrder = s.toCsvString().split(',').drop(8).grouped(2).map(_(1).toLong).toArray
    assert(inOrder.length === 300000)
    val sample = inOrder.take(s.purgeSampleSize).sorted
    assert(s.purgeMedian() === sample(sample.length / 2))
  }

  test("no-false-positives vs no-false-negatives") {
    val s = new FreqSketch[String](4) // tiny: maxMapSize=16, cap=12
    for (i <- 1 to 200) s.update(s"noise$i")
    s.update("big", 500L)
    val nfp = s.frequentItems(noFalsePositives = true).map(_._1)
    val nfn = s.frequentItems(noFalsePositives = false).map(_._1)
    assert(nfp.contains("big"))
    assert(nfn.contains("big"))
    assert(nfp.size <= nfn.size) // NFP is the conservative subset
  }

  test("merge accumulates counts and offsets") {
    val a = new FreqSketch[Long](8)
    val b = new FreqSketch[Long](8)
    a.update(1L, 100); a.update(2L, 50)
    b.update(1L, 200); b.update(3L, 70)
    a.merge(b)
    assert(a.estimate(1L) >= 300L)
    assert(a.streamWeight === 420L)
    // mismatched map sizes are legal (longs_sketch.go:451-466 replays any
    // other sketch); weights and counts still accumulate
    val c = new FreqSketch[Long](9)
    c.update(1L, 5)
    a.merge(c)
    assert(a.estimate(1L) >= 305L)
    assert(a.streamWeight === 425L)
  }

  test("serialize round-trip longs and strings") {
    val a = new FreqSketch[Long](8)
    for (i <- 1 to 100) a.update(i.toLong, i.toLong)
    val a2 = FreqSketch.deserialize(a.serialize(FreqSketch.LongSerde), FreqSketch.LongSerde)
    assert(a2.streamWeight === a.streamWeight)
    assert((1 to 100).forall(i => a2.estimate(i.toLong) === a.estimate(i.toLong)))
    val s = new FreqSketch[String](6)
    for (i <- 1 to 300) s.update(s"w${i % 40}")
    val s2 = FreqSketch.deserialize(s.serialize(FreqSketch.StringSerde), FreqSketch.StringSerde)
    assert(s2.frequentItems(false) === s.frequentItems(false))
  }

  test("purge is deterministic (same stream → same serialized image)") {
    def build() = {
      val s = new FreqSketch[Long](5)
      val rnd = new java.util.Random(42)
      for (_ <- 1 to 5000) s.update(rnd.nextInt(800).toLong)
      s.serialize(FreqSketch.LongSerde)
    }
    assert(build().sameElements(build()))
  }

  test("F11 CSV string serde: reference format, round-trip, checks") {
    // golden vector written by hand from the Go writer
    // (frequencies/longs_sketch.go:468-485): lgMax=7, items 1→10 and
    // 2→20, no purge — "serVer,famID,lgMax,flags,weight,offset,
    // numActive,curMapLen,k,v,...," with the trailing comma
    val s = new FreqSketch[Long](7)
    s.update(1L, 10L); s.update(2L, 20L)
    val csv = s.toCsvString()
    assert(csv.startsWith("1,10,7,0,30,0,2,8,"))
    assert(csv.endsWith(","))
    val fields = csv.split(",")
    assert(fields.length == 12)
    assert(fields.drop(8).grouped(2).map(p => (p(0).toLong, p(1).toLong))
      .toMap == Map(1L -> 10L, 2L -> 20L))

    // round-trip under the purge regime (offset > 0)
    val p = new FreqSketch[Long](5)
    val rnd = new java.util.Random(11)
    for (_ <- 1 to 5000) p.update(rnd.nextInt(800).toLong)
    assert(p.offset > 0)
    val p2 = FreqSketch.fromCsvString(p.toCsvString())
    assert(p2.streamWeight == p.streamWeight)
    assert(p2.offset == p.offset)
    assert(p2.numActive == p.numActive)
    assert(p2.frequentItems(false) == p.frequentItems(false))
    assert((0L until 800L).forall(i => p2.estimate(i) == p.estimate(i)))

    // empty sketch: dual-bit empty flag, parses back empty
    val e = new FreqSketch[Long](6)
    assert(e.toCsvString().startsWith("1,10,6,5,0,0,0,8,"))
    val e2 = FreqSketch.fromCsvString(e.toCsvString())
    assert(e2.isEmpty && e2.numActive == 0)

    // the reference parser's corruption checks
    intercept[IllegalArgumentException] { FreqSketch.fromCsvString("") }
    intercept[IllegalArgumentException] {
      FreqSketch.fromCsvString("2,10,7,0,30,0,2,8,1,10,2,20,") // bad serVer
    }
    intercept[IllegalArgumentException] {
      FreqSketch.fromCsvString("1,15,7,0,30,0,2,8,1,10,2,20,") // bad family
    }
    intercept[IllegalArgumentException] {
      FreqSketch.fromCsvString("1,10,7,0,30,0,0,8,") // !empty, numActive=0
    }
    intercept[IllegalArgumentException] {
      FreqSketch.fromCsvString("1,10,7,0,30,0,2,8,1,10,") // token count
    }
  }
}

class KllSketchSpec extends AnyFunSuite {

  test("empty and single") {
    val s = new KllSketch(200)
    assert(s.isEmpty)
    assert(s.quantile(0.5).isNaN)
    s.update(42.0)
    assert(s.n === 1)
    assert(s.quantile(0.0) === 42.0 && s.quantile(1.0) === 42.0)
    assert(s.minItem === 42.0 && s.maxItem === 42.0)
  }

  test("exact for small n") {
    val s = new KllSketch(200)
    (1 to 100).foreach(i => s.update(i.toDouble))
    assert(s.quantile(0.5) === 50.0)
    assert(s.quantile(0.01) === 1.0)
    assert(s.quantile(1.0) === 100.0)
    assert(math.abs(s.rank(50.0) - 0.5) <= 0.01)
  }

  test("rank error within bound at n=100k, k=200") {
    val s = new KllSketch(200)
    val rnd = new java.util.Random(1)
    val data = Array.fill(100000)(rnd.nextDouble())
    data.foreach(s.update)
    java.util.Arrays.sort(data)
    val eps = s.normalizedRankError(pmf = false)
    for (r <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val q = s.quantile(r)
      // true rank of q in data
      var lo = 0; var hi = data.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (data(m) <= q) lo = m + 1 else hi = m }
      val trueRank = lo.toDouble / data.length
      assert(math.abs(trueRank - r) < 3 * eps, s"rank $r → $trueRank (eps=$eps)")
    }
    assert(s.minItem === data.head && s.maxItem === data.last)
  }

  test("monotone quantiles; cdf/pmf consistency") {
    val s = new KllSketch(128)
    val rnd = new java.util.Random(9)
    (1 to 50000).foreach(_ => s.update(rnd.nextGaussian()))
    val qs = (0 to 20).map(i => s.quantile(i / 20.0))
    assert(qs === qs.sorted)
    val splits = Array(-2.0, -1.0, 0.0, 1.0, 2.0)
    val cdf = s.cdf(splits)
    assert(cdf.last === 1.0)
    assert(cdf === cdf.sorted)
    val pmf = s.pmf(splits)
    assert(math.abs(pmf.sum - 1.0) < 1e-9)
    assert(pmf.forall(_ >= 0.0))
    // CDF at 0 for a centered gaussian ≈ 0.5
    assert(math.abs(s.rank(0.0) - 0.5) < 0.02)
  }

  test("merge: combined quantiles within error; min/max/n propagate") {
    val a = new KllSketch(200)
    val b = new KllSketch(200)
    (1 to 50000).foreach(i => a.update(i.toDouble))            // uniform 1..50k
    (50001 to 100000).foreach(i => b.update(i.toDouble))       // uniform 50k..100k
    a.merge(b)
    assert(a.n === 100000)
    assert(a.minItem === 1.0 && a.maxItem === 100000.0)
    val eps = a.normalizedRankError(pmf = false)
    for (r <- Seq(0.1, 0.5, 0.9)) {
      val q = a.quantile(r)
      assert(math.abs(q / 100000.0 - r) < 4 * eps, s"r=$r q=$q")
    }
    // mixed-k merges are legal; minK drops to the weakest input and the
    // error contract follows it (items_sketch.go:664, 289-290)
    val c = new KllSketch(100)
    c.update(42.0)
    val epsBefore = a.normalizedRankError(pmf = false)
    a.merge(c)
    assert(a.n === 100001)
    assert(a.minK === 100)
    assert(a.normalizedRankError(pmf = false) > epsBefore)
  }

  test("deterministic: same stream → same serialized image") {
    def build() = {
      val s = new KllSketch(200)
      val rnd = new java.util.Random(3)
      (1 to 30000).foreach(_ => s.update(rnd.nextDouble()))
      s.serialize()
    }
    assert(build().sameElements(build()))
  }

  test("serialize round-trip preserves queries") {
    val s = new KllSketch(200)
    val rnd = new java.util.Random(5)
    (1 to 25000).foreach(_ => s.update(rnd.nextGaussian()))
    val s2 = KllSketch.deserialize(s.serialize())
    assert(s2.n === s.n)
    for (r <- Seq(0.05, 0.5, 0.95)) assert(s2.quantile(r) === s.quantile(r))
    assert(s2.serialize().sameElements(s.serialize()))
  }

  test("partition boundaries are equal-weight-ish") {
    val s = new KllSketch(200)
    (1 to 100000).foreach(i => s.update(i.toDouble))
    val bounds = s.partitionBoundaries(4)
    assert(bounds.length === 5)
    assert(bounds.head === 1.0 && bounds.last === 100000.0)
    val eps = s.normalizedRankError(pmf = false)
    for (i <- 1 to 3) assert(math.abs(bounds(i) / 100000.0 - i / 4.0) < 4 * eps)
  }
}
