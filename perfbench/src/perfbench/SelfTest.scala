package perfbench

import graft.core.{Dominance, Point}

/** Tests of the benchmark's own helpers; no Spark involved.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val rng = new scala.util.Random(3)
    val pts = IndexedSeq.tabulate(500)(i =>
      Point(i.toLong, Array(rng.nextInt(50).toDouble, rng.nextInt(50).toDouble, -0.0)))
    val d = Digest.ofPoints(pts)

    check("digest ignores row order")(Digest.ofPoints(rng.shuffle(pts)) == d)
    check("digest changes when a row is dropped")(
      (0 until pts.length by 37).forall(i => Digest.ofPoints(pts.patch(i, Nil, 1)) != d))
    check("digest changes when a row is duplicated")(
      (0 until pts.length by 37).forall(i => Digest.ofPoints(pts :+ pts(i)) != d))
    check("digest changes when a coordinate or id changes")(
      Digest.ofPoints(pts.updated(7, pts(7).copy(values = Array(1.0, 2.0, 0.0)))) != d &&
        Digest.ofPoints(pts.updated(7, pts(7).copy(id = 9999L))) != d)
    check("digest treats -0.0 as 0.0")(
      Digest.ofPoints(pts.map(p => p.copy(values = p.values.map(v => if (v == 0) 0.0 else v)))) == d)
    check("digest round-trips through its text form")(Digest.parse(d.toString) == d)

    check("tail keeps 10 samples beyond the percentile") {
      (11 to 300).forall { n =>
        val s = rng.shuffle((1 to n).map(_.toDouble))
        val t = Stats.tail(s)
        s.count(_ > t.value) == 10 && t.beyond == 10 && t.samples == n &&
          t.percentile == 100.0 * (n - 10) / n
      }
    }
    check("tail of 100 samples is the 90th percentile") {
      val t = Stats.tail(rng.shuffle((1 to 100).map(_.toDouble)))
      t.value == 90.0 && t.percentile == 90.0 && t.beyond == 10
    }
    check("tail with too few samples is the maximum, flagged unsupported") {
      val t = Stats.tail(Seq(3.0, 1.0, 2.0))
      t.value == 3.0 && t.beyond == 0 && t.samples == 3
    }
    check("median of even and odd counts")(
      Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    val parent = Span("q", 0, 100, -1, "q0")
    check("self time is the span minus its children")(
      Spans.selfTime(parent, Seq(Span("a", 10, 30, 0, "q0"), Span("b", 50, 60, 0, "q0"))) == 70)
    check("self time counts overlapping children once")(
      Spans.selfTime(parent, Seq(Span("a", 10, 40, 0, "q0"), Span("b", 30, 60, 0, "q0"),
        Span("c", 35, 50, 0, "q0"))) == 50)
    check("self time ignores child time outside the span")(
      Spans.selfTime(parent, Seq(Span("a", -20, 10, 0, "q0"), Span("b", 90, 130, 0, "q0"))) == 80)
    check("self time of a leaf is its duration")(Spans.selfTime(parent, Nil) == 100)
    check("recorded spans nest and self time excludes children") {
      val spans = new Spans
      spans("outer", "q1") { spans("inner", "q1")(Thread.sleep(20)) }
      val outer = spans.spans.indexWhere(_.name == "outer")
      spans.spans(1).parent == outer &&
        spans.selfTime(outer) == spans.spans(outer).duration - spans.spans(1).duration
    }

    check("2-D reference skyline size matches brute force, duplicates included") {
      (1 to 30).forall { _ =>
        val n = 1 + rng.nextInt(300)
        val px = Array.fill(n)(rng.nextInt(40).toDouble)
        val py = Array.fill(n)(rng.nextInt(40).toDouble)
        val brute = (0 until n).count(i => !(0 until n).exists(j =>
          Dominance.dominates(Array(px(j), py(j)), Array(px(i), py(i)))))
        StreamBench.skyline2dSize(px, py, Array.range(0, n)) == brute
      }
    }
    check("partition skew: max over mean, empty parts included")(
      Stats.maxOverMean(Seq(6.0, 0.0, 0.0)) == 3.0 && Stats.maxOverMean(Seq(0.0)) == 0.0)

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
