package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{CategoricalStats, Profiler, ProfilerOptions}

/** Over-cap categorical columns must keep CMS heavy hitters within the
  * sketch error (eps·n) instead of dropping all frequency information. */
class CmsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("capped column reports top-k heavy hitters within CMS error") {
    // zipf-ish: value v_i appears ~ 3000/i times for i in 1..50
    val rows = (1 to 50).flatMap(i => Seq.fill(3000 / i)(f"v$i%02d"))
    val df = rows.toDF("c")
    val n = rows.size
    val opts = ProfilerOptions(maxCategories = 10, heavyHitterK = 5)
    val p = Profiler.profile(df, opts)
    val cat = p.column("c").get.categorical.get
    assert(cat.capped)
    assert(cat.counts.isEmpty)
    val hh = cat.heavyHitters
    assert(hh.size == 5)
    // the true top-5 are v01..v05; estimates within eps*n of exact
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tol = (0.001 * n).ceil.toLong
    Seq("v01", "v02", "v03", "v04", "v05").foreach { v =>
      assert(hh.contains(v), s"missing heavy hitter $v in ${hh.keys}")
      assert(hh(v) >= exact(v) && hh(v) <= exact(v) + tol,
        s"$v: est ${hh(v)} vs exact ${exact(v)}")
    }
    assert(profiler.Report.pretty(p).contains("\"heavy_hitters\""))
    // capped state (incl heavy hitters) survives the save/load round-trip
    // and keeps merging additively
    val back = profiler.Codec.decode(profiler.Codec.encode(p))
    val bc = back.column("c").get.categorical.get
    assert(bc.capped && bc.heavyHitters == hh)
    val merged = back.merge(back).column("c").get.categorical.get
    assert(merged.heavyHitters("v01") == 2 * hh("v01"))
    // pass timing metadata exists and merges additively
    assert(Set("aggregate", "exemplars").subsetOf(p.timesMs.keySet))
    assert(back.merge(back).timesMs("aggregate") == 2 * p.timesMs("aggregate"))
  }

  test("overlapping-half merge: HLL union beats the clamped distinct-row sum") {
    // halves share rows 500..999: true union = 1500 distinct rows; the
    // clamped-sum fallback would report min(2000, ~1000+~1000) = ~2000
    val p1 = Profiler.profile(spark.range(0, 1000).toDF("id"))
    val p2 = Profiler.profile(spark.range(500, 1500).toDF("id"))
    assert(p1.rowsSketch.nonEmpty)
    val m = p1.merge(p2)
    assert(m.approxDistinctRows > 1400 && m.approxDistinctRows < 1600,
      s"union estimate off: ${m.approxDistinctRows}")
    // sketch survives the codec round-trip and keeps unioning
    val back = profiler.Codec.decode(profiler.Codec.encode(m))
    assert(back.rowsSketch.nonEmpty)
    val m2 = back.merge(p1) // no new rows → estimate stays ~1500
    assert(m2.approxDistinctRows < 1600)
    // per-COLUMN NDV is also a sketch union: the halves share 500 ids,
    // so the merged column must estimate ~1500 distinct, not max (~1000)
    // and not sum (~2000)
    val colNdv = m.column("id").get.approxDistinct
    assert(colNdv > 1400 && colNdv < 1600, s"column NDV union off: $colNdv")
    assert(back.column("id").get.ndvSketch.nonEmpty)
  }

  test("sketch-backed merges are order-robust across three chunks") {
    // (a+b)+c vs a+(b+c) vs (a+c)+b: HLL unions are set-semantics, so
    // the distinct estimates must agree closely whatever the merge tree
    val chunks = Seq(
      Profiler.profile(spark.range(0, 800).toDF("id")),
      Profiler.profile(spark.range(400, 1200).toDF("id")),
      Profiler.profile(spark.range(800, 1600).toDF("id")))
    val m1 = chunks(0).merge(chunks(1)).merge(chunks(2))
    val m2 = chunks(0).merge(chunks(1).merge(chunks(2)))
    val m3 = chunks(0).merge(chunks(2)).merge(chunks(1))
    val ests = Seq(m1, m2, m3).map(_.approxDistinctRows)
    ests.foreach(e => assert(e > 1500 && e < 1700, s"union estimate off: $e"))
    assert(ests.max - ests.min <= (0.02 * ests.max).toLong + 1,
      s"merge-order sensitivity: $ests")
    val colEsts = Seq(m1, m2, m3).map(_.column("id").get.approxDistinct)
    colEsts.foreach(e => assert(e > 1500 && e < 1700, s"column NDV off: $e"))
  }

  test("CMS sketch merge counts occurrences missed by one side's candidates") {
    import org.apache.spark.util.sketch.CountMinSketch
    def sketchOf(valueCounts: Map[String, Int]): Array[Byte] = {
      val sk = CountMinSketch.create(0.001, 0.99, 42)
      valueCounts.foreach { case (v, c) => (0 until c).foreach(_ => sk.add(v)) }
      val out = new java.io.ByteArrayOutputStream(); sk.writeTo(out)
      out.toByteArray
    }
    // half 1 saw HOT 50 times but its candidate summary missed it; half 2
    // saw it 500 times. Additive merge would report 500 (lower bound);
    // the sketch merge recovers all 550.
    val a = CategoricalStats(200, Map.empty, capped = true,
      heavyHitters = Map.empty, cmsBytes = Some(sketchOf(Map("HOT" -> 50))))
    val b = CategoricalStats(200, Map.empty, capped = true,
      heavyHitters = Map("HOT" -> 500L),
      cmsBytes = Some(sketchOf(Map("HOT" -> 500))))
    val m = a.merge(b)
    assert(m.heavyHitters("HOT") == 550L,
      s"sketch merge lost counts: ${m.heavyHitters}")
    assert(m.cmsBytes.nonEmpty)
    // one side without bytes → additive fallback still works
    val m2 = a.copy(cmsBytes = None).merge(b)
    assert(m2.heavyHitters("HOT") == 500L && m2.cmsBytes.isEmpty)
  }

  test("heavy hitter first appearing in the LAST partition is still found") {
    // sorted/clustered layout: 12k distinct cold values first, then the
    // hot value only at the tail — a head sample (limit(10000).distinct)
    // would never see it; the Misra-Gries candidate summary must
    // (freq 3000 > n/257 ≈ 58 guarantees a slot)
    val rows = (1 to 12000).map(i => f"u$i%05d") ++ Seq.fill(3000)("HOT")
    val df = spark.sparkContext.parallelize(rows, 8).toDF("c")
    val opts = ProfilerOptions(maxCategories = 100, heavyHitterK = 5)
    val p = Profiler.profile(df, opts)
    val cat = p.column("c").get.categorical.get
    assert(cat.capped)
    assert(cat.heavyHitters.contains("HOT"),
      s"tail heavy hitter missing from ${cat.heavyHitters.keys}")
    assert(cat.heavyHitters("HOT") >= 3000L)
  }
}
