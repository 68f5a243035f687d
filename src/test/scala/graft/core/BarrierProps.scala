package graft.core

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.core.Barrier.{LocalResult, Trigger}

/** Laws of the continuous-mode protocol decisions ([[Barrier]]): the
  * per-partition barrier `step` over arbitrary micro-batch sequences, and the
  * distinct-partition latch `admit`. */
object BarrierProps extends Properties("Barrier") {

  /** One micro-batch for one partition: data ids and new trigger barriers
    * (None = a bare payload without a count). */
  private case class Batch(ids: List[Long], barriers: List[Option[Long]])

  private val genBatch: Gen[Batch] = for {
    ids <- Gen.frequency(1 -> Gen.const(Nil),
      2 -> Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_, Gen.chooseNum(0L, 40L))))
    barriers <- Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_,
      Gen.option(Gen.chooseNum(-2L, 45L))))
  } yield Batch(ids, barriers)

  private val genBatches: Gen[List[Batch]] =
    Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, genBatch))

  /** Every trigger gets a distinct payload; its dispatch time is its index. */
  private def triggersOf(batches: List[Batch]): List[List[Trigger]] = {
    var k = -1L
    batches.map(_.barriers.map { b =>
      k += 1
      (b.fold(s"q$k")(r => s"q$k,$r"), k)
    })
  }

  /** Runs the batches from the empty state; the answers of each batch. */
  private def run(batches: List[Batch], triggers: List[List[Trigger]])
      : List[Seq[Trigger]] =
    batches.zip(triggers).foldLeft((Barrier.Empty, List.empty[Seq[Trigger]])) {
      case ((st, out), (b, ts)) =>
        val (answers, st2) = Barrier.step(st, b.ids, ts, 1L)
        (st2, out :+ answers)
    }._2

  property("each trigger is answered at most once") = forAll(genBatches) { bs =>
    val all = run(bs, triggersOf(bs)).flatten
    all.distinct.size == all.size
  }

  property("a parked trigger never fires in a batch without data") =
    forAll(genBatches) { bs =>
      val ts = triggersOf(bs)
      run(bs, ts).zip(bs.zip(ts)).forall { case (answers, (b, fresh)) =>
        b.ids.nonEmpty || answers.forall(fresh.contains)
      }
    }

  property("answered exactly when maxSeenId >= requiredCount or empty at arrival") =
    forAll(genBatches) { bs =>
      val ts = triggersOf(bs)
      val answeredIn = run(bs, ts).zipWithIndex
        .flatMap { case (as, i) => as.map(_ -> i) }.toMap
      // maxSeenId after each batch's data
      val maxAfter = bs.scanLeft(-1L)((m, b) => (m :: b.ids).max).tail
      ts.zipWithIndex.forall { case (arrivals, i) =>
        arrivals.forall { t =>
          val need = Barrier.requiredCount(t._1)
          val expected =
            if (maxAfter(i) == -1L || maxAfter(i) >= need) Some(i)
            else (i + 1 until bs.size).find(j =>
              bs(j).ids.nonEmpty && maxAfter(j) >= need)
          answeredIn.get(t) == expected
        }
      }
    }

  property("with triggers after all data, splitting the data changes nothing") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 40L)), Gen.chooseNum(1, 5),
      genBatch.map(_.barriers)) { (ids, k, barriers) =>
      val ts = triggersOf(List(Batch(Nil, barriers))).head
      val whole = Barrier.step(Barrier.Empty, ids, ts, 1L)
      val chunks = ids.grouped(math.max(1, ids.size / k)).toList
      val split = chunks.foldLeft(Barrier.Empty)((st, c) =>
        Barrier.step(st, c, Nil, 1L)._2)
      val last = Barrier.step(split, Nil, ts, 1L)
      last._1 == whole._1 && last._2 == whole._2
    }

  private def answer(pid: Int, size: Int): LocalResult =
    LocalResult(pid, "q,0", 0L, 10L + pid, Seq.fill(size)(Point(pid, Array(1.0))), pid)

  private val genArrivals: Gen[(Int, List[LocalResult])] = for {
    n <- Gen.chooseNum(1, 6)
    pids <- Gen.listOf(Gen.chooseNum(0, n - 1))
    sizes <- Gen.listOfN(pids.size, Gen.chooseNum(0, 3))
  } yield (n, pids.zip(sizes).map { case (p, s) => answer(p, s) })

  property("admit ignores a partition that already arrived") =
    forAll(genArrivals) { case (_, rs) =>
      val l = rs.foldLeft(Barrier.EmptyLatch)((l, r) =>
        Barrier.admit(l, r, 5L).getOrElse(l))
      rs.forall(r => Barrier.admit(l, r.copy(skyline = Nil), 9L).isEmpty)
    }

  property("the latch fills exactly at totalPartitions distinct partitions") =
    forAll(genArrivals) { case (n, rs) =>
      val latches = rs.scanLeft(Barrier.EmptyLatch)((l, r) =>
        Barrier.admit(l, r, 5L).getOrElse(l)).tail
      latches.zip(rs.inits.toList.reverse.tail).forall { case (l, prefix) =>
        val distinct = prefix.map(_.pid).distinct
        l.arrived == distinct.size &&
          (l.arrived >= n) == (distinct.size == n) &&
          l.localSizes == distinct.map(p => p -> prefix.find(_.pid == p).get.skyline.size)
      }
    }
}
