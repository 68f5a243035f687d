package graft.core

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Kernel invariants, mirroring the reference semantics
  * (`java/org.main/ServiceTuple.java:67-77`, `FlinkSkyline.java:417-444`).
  * Property-style tests use a fixed seed for determinism.
  */
class SkylineKernelSpec extends AnyFunSuite {

  private def bruteForce(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      .map(p => (p.id, p.values.toSeq)).toSet

  private def asSet(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.map(p => (p.id, p.values.toSeq)).toSet

  private def randPoints(rng: Random, n: Int, dims: Int, card: Int): List[Point] =
    List.tabulate(n)(i => Point(i.toLong,
      Array.fill(dims)(rng.nextInt(card).toDouble)))

  test("dominance truth table (minimization, strict-in-one)") {
    assert(Dominance.dominates(Array(1.0, 2.0), Array(2.0, 2.0)))
    assert(Dominance.dominates(Array(1.0, 1.0), Array(2.0, 2.0)))
    assert(!Dominance.dominates(Array(2.0, 2.0), Array(1.0, 2.0)))
    assert(!Dominance.dominates(Array(1.0, 3.0), Array(3.0, 1.0))) // incomparable
    // exact duplicates never dominate each other
    assert(!Dominance.dominates(Array(5.0, 5.0), Array(5.0, 5.0)))
  }

  test("duplicates of a skyline point are all skyline members") {
    val pts = Seq(Point(1, Array(0.0, 0.0)), Point(2, Array(0.0, 0.0)),
      Point(3, Array(1.0, 1.0)), Point(4, Array(0.0, 0.0)))
    val sky = SkylineBuffer.ofIncremental(pts.iterator).result
    assert(asSet(sky) == Set((1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 0.0)), (4L, Seq(0.0, 0.0))))
  }

  test("a duplicate flood is handled at volume (the degenerate generator shape)") {
    // the reference's high-d anti-correlated generator clamps 22-40% of
    // points to the origin; all copies are skyline members (duplicates
    // never dominate). 200k copies through the buffer must (a) all
    // survive, (b) evict everything they dominate, and (c) finish in
    // linear time via the exact-duplicate hash fast path — before round 9
    // this case was O(k²) duplicate rescans (the measured 657 s merge)
    val rng = new Random(7)
    val flood = List.tabulate(200000)(i => Point(i.toLong, Array(0.0, 0.0, 0.0)))
    val rest = List.tabulate(5000)(i => Point(1000000L + i,
      Array.fill(3)((1 + rng.nextInt(9)).toDouble)))
    val sky = SkylineBuffer.of(rng.shuffle(flood ++ rest).iterator).result
    assert(sky.length == 200000)
    assert(sky.forall(p => p.values.forall(_ == 0.0)))
  }

  test("BNL matches brute force and is insertion-order insensitive") {
    val rng = new Random(42)
    for (_ <- 1 to 60) {
      val dims = 2 + rng.nextInt(3)
      val pts = randPoints(rng, rng.nextInt(80), dims, 10)
      val expect = bruteForce(pts)
      assert(asSet(SkylineBuffer.ofIncremental(pts.iterator).result) == expect)
      val shuffled = rng.shuffle(pts)
      assert(asSet(SkylineBuffer.ofIncremental(shuffled.iterator).result) == expect)
    }
  }

  test("presorted bulk build equals incremental build") {
    val rng = new Random(7)
    for (_ <- 1 to 60) {
      val pts = randPoints(rng, rng.nextInt(100), 3, 8)
      assert(asSet(SkylineBuffer.of(pts.iterator).result) ==
        asSet(SkylineBuffer.ofIncremental(pts.iterator).result))
    }
  }

  test("skyline is an antichain") {
    val rng = new Random(11)
    for (_ <- 1 to 30) {
      val sky = SkylineBuffer.of(randPoints(rng, 120, 3, 6).iterator).result
      for (a <- sky; b <- sky)
        assert(!Dominance.dominates(a.values, b.values))
    }
  }

  test("distributivity: sky(A ∪ B) == sky(sky(A) ∪ sky(B))") {
    val rng = new Random(13)
    for (_ <- 1 to 40) {
      val a = randPoints(rng, rng.nextInt(60), 2, 12)
      val b = randPoints(rng, rng.nextInt(60), 2, 12)
      val whole = SkylineBuffer.of((a ++ b).iterator).result
      val merged = SkylineBuffer.of(
        (SkylineBuffer.of(a.iterator).result ++
          SkylineBuffer.of(b.iterator).result).iterator).result
      assert(asSet(whole) == asSet(merged))
    }
  }

  test("non-finite coordinates: dominated +Inf-sum points are evicted") {
    // two +Inf sums break the strictly-smaller-sum invariant of the
    // no-evict merge walk; the non-finite group must be re-reduced
    val b = SkylineBuffer.empty
    b.add(Point(2, Array(1.0, Double.PositiveInfinity)))
    b.add(Point(1, Array(0.0, Double.PositiveInfinity)))
    b.add(Point(3, Array(5.0, 5.0)))
    val ids = b.result.map(_.id).toSet
    assert(ids == Set(1L, 3L), s"got $ids")
    // -Inf sums: (-Inf, 1) dominates (-Inf, 2)
    val c = SkylineBuffer.empty
    c.add(Point(10, Array(Double.NegativeInfinity, 2.0)))
    c.add(Point(11, Array(Double.NegativeInfinity, 1.0)))
    val ids2 = c.result.map(_.id).toSet
    assert(ids2 == Set(11L), s"got $ids2")
  }

  test("non-finite sums keep the ascending-sum order a later compaction walks") {
    // p's -Inf sum must stay ahead of q's 101 after the first compaction,
    // or c (sum 7) is walked before p and accepted although p dominates it
    val p = Point(1, Array(Double.NegativeInfinity, 5.0))
    val q = Point(2, Array(100.0, 1.0))
    val c = Point(3, Array(1.0, 6.0))
    val b = SkylineBuffer.empty
    b.add(p); b.add(q); b.compact(); b.add(c)
    assert(b.result.map(_.id).toSet == Set(1L, 2L))
    val merged = SkylineBuffer.of(Iterator(p, q)).merge(SkylineBuffer.of(Iterator(c)))
    assert(merged.result.map(_.id).toSet == Set(1L, 2L))
    assert(asSet(SkylineBuffer.of(Iterator(p, q, c)).result) == bruteForce(Seq(p, q, c)))
  }

  test("±Inf coordinates across several compactions and restores match brute force") {
    val coord = Gen.frequency(
      1 -> Gen.const(Double.NegativeInfinity), 1 -> Gen.const(Double.PositiveInfinity),
      4 -> Gen.chooseNum(0, 6).map(_.toDouble))
    val genChunks = for {
      dims <- Gen.chooseNum(1, 3)
      k <- Gen.chooseNum(1, 5)
      chunks <- Gen.listOfN(k, Gen.chooseNum(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.listOfN(dims, coord))))
    } yield chunks
    val prop = Prop.forAll(genChunks) { chunks =>
      var id = 0L
      val pts = chunks.map(_.map { vs => id += 1; Point(id, vs.toArray) })
      // each chunk is one compaction; the antichain between chunks goes
      // through restore, as the streaming state does
      val sky = pts.foldLeft(Seq.empty[Point]) { (prev, chunk) =>
        val b = SkylineBuffer.restore(prev.iterator)
        chunk.foreach(b.add)
        b.result
      }
      asSet(sky) == bruteForce(pts.flatten)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status)
  }
}
