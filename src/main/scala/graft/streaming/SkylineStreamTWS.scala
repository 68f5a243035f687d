package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming._

import graft.core.{Barrier, Point, SkylineBuffer}
import graft.core.Barrier.{LocalResult, QueryResult}
import graft.streaming.SkylineStream.Envelope

/** The reference's full two-hop streaming topology as ONE Structured
  * Streaming query, via Spark 4 `transformWithState` (RocksDB state store):
  *
  *   envelopes ─ groupByKey(pid) ─ [LocalProcessor: BNL skyline + barrier
  *   state machine, A1+A2] ─ groupByKey(queryPayload) ─ [GlobalProcessor:
  *   incremental BNL merge + countdown latch, A3] ─ QueryResult
  *
  * This is the chained keyed-stage shape of the reference
  * (`java/org.main/FlinkSkyline.java:138-183`): the global merge runs as a
  * distributed stateful operator, not a driver-side accumulator. The
  * processors own state storage only; every protocol decision is a call into
  * [[Barrier]].
  */
object SkylineStreamTWS {

  /** Per-query global-phase bookkeeping (the reference's ValueState/MapState
    * set, `FlinkSkyline.java:472-512`). `localSizes` is an assoc list — the
    * Avro state encoder supports arrays of structs but not MapType. */
  case class GlobalMeta(arrived: Int, minStart: Long, lastArrival: Long,
                        maxCpu: Long, dispatchMs: Long,
                        localSizes: Seq[(Int, Int)])

  /** Scalar half of the local state — everything EXCEPT the antichain,
    * which lives in a [[ListState]] so per-batch appends never rewrite it.
    * `nUncompacted` counts points appended since the last BNL compaction. */
  case class LocalScalars(maxSeenId: Long, pending: Seq[(String, Long)],
                          startMs: Long, cpuNanos: Long, nUncompacted: Int)

  /** A1+A2: local BNL skyline + barrier, keyed by spatial partition id. The
    * barrier decisions are [[Barrier.step]]; this shell stores the antichain
    * SPLIT OUT of the scalar value state into a RocksDB ListState and
    * maintains it lazily:
    *
    *  - a data-only micro-batch APPENDS its points to the list (O(batch)
    *    writes) instead of restoring + re-inserting + rewriting the whole
    *    antichain (O(antichain) per batch — the r5 verdict's 4-D
    *    anti-correlated growth concern, SURVEY §7.4);
    *  - the full-list BNL compaction runs only when a trigger fires (the
    *    emitted skyline must be exact) or when `compactLimit` raw points
    *    have piled up — so state size is bounded by |antichain| +
    *    compactLimit, and the O(list) rewrite is amortized over
    *    compactLimit appends. Deferral is semantics-preserving because BNL
    *    is confluent: insert order never changes the fixpoint. */
  class LocalProcessor(compactLimit: Int = 5000)
      extends StatefulProcessor[Int, Envelope, LocalResult] {
    @transient private var sky: ListState[Point] = _
    @transient private var sc: ValueState[LocalScalars] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // fresh handle names ("local" held an older monolithic state):
      // a pre-split checkpoint restarts with fresh state instead of
      // crashing on a state-schema mismatch. CAVEAT — "fresh" means the
      // old antichain/barrier state is silently DISCARDED, which for an
      // exact-skyline query is a wrong answer, not a recovery: do not
      // resume a pre-split checkpoint with this code; start a new
      // checkpoint and replay the source instead (the repo carries no
      // persistent checkpoints, so nothing in-tree can hit this)
      sky = getHandle.getListState[Point]("local_sky",
        Encoders.product[Point], TTLConfig.NONE)
      sc = getHandle.getValueState[LocalScalars]("local_scalars",
        Encoders.product[LocalScalars], TTLConfig.NONE)
    }

    override def handleInputRows(pid: Int, rows: Iterator[Envelope],
                                 tv: TimerValues): Iterator[LocalResult] = {
      val t0 = System.nanoTime()
      val now = System.currentTimeMillis()
      val sc0 = if (sc.exists()) sc.get() else LocalScalars(-1L, Nil, 0L, 0L, 0)
      val (data, triggers) = rows.toSeq.partition(_.kind == 0)
      val (answers, st) = Barrier.step(
        Barrier.State(sc0.maxSeenId, sc0.pending, sc0.startMs),
        data.map(_.id), triggers.map(e => (e.payload, e.dispatchMs)), now)
      if (data.nonEmpty)
        sky.appendList(data.map(e => Point(e.id, e.values)).toArray)
      val nUnc = sc0.nUncompacted + data.length
      var compacted: Seq[Point] = Nil
      var nUncOut = nUnc
      if (answers.nonEmpty || nUnc >= compactLimit) {
        compacted = SkylineBuffer.of(sky.get()).result
        replace(sky, compacted)
        nUncOut = 0
      }
      val cpu = sc0.cpuNanos + (System.nanoTime() - t0)
      sc.update(LocalScalars(st.maxSeenId, st.pending, st.startMs, cpu, nUncOut))
      SkylineStream.localResults(pid, answers, st.start(now), compacted,
        cpu / 1000000L)
    }
  }

  /** Stores `pts` as the whole list; ListState.put rejects empty arrays
    * (Spark 4 contract), so an empty antichain clears it. */
  private def replace(list: ListState[Point], pts: Seq[Point]): Unit =
    if (pts.nonEmpty) list.put(pts.toArray) else list.clear()

  /** Admits `rows` into latch `l` ([[Barrier.admit]]), merging each admitted
    * partition's local skyline into the stored global antichain `buf`. */
  private def admitAll(l: Barrier.Latch, buf: ListState[Point],
                       rows: Iterator[LocalResult]): (Barrier.Latch, SkylineBuffer) = {
    val sky = SkylineBuffer.restore(buf.get())
    val filled = rows.foldLeft(l)((l, r) =>
      Barrier.admit(l, r, System.currentTimeMillis()) match {
        case Some(admitted) => r.skyline.foreach(sky.insert); admitted
        case None => l
      })
    (filled, sky)
  }

  /** A3: global skyline merge + countdown latch, keyed by query payload.
    * Emits exactly when all `totalPartitions` local results arrived, then
    * clears the per-query state (`FlinkSkyline.java:573,653-657`). */
  class GlobalProcessor(totalPartitions: Int)
      extends StatefulProcessor[String, LocalResult, QueryResult] {
    @transient private var buf: ListState[Point] = _
    @transient private var meta: ValueState[GlobalMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Point]("buf",
        Encoders.product[Point], TTLConfig.NONE)
      meta = getHandle.getValueState[GlobalMeta]("meta",
        Encoders.product[GlobalMeta], TTLConfig.NONE)
    }

    override def handleInputRows(payload: String, rows: Iterator[LocalResult],
                                 tv: TimerValues): Iterator[QueryResult] = {
      val stored = if (!meta.exists()) Barrier.EmptyLatch else {
        val m = meta.get()
        Barrier.Latch(m.minStart, m.lastArrival, m.maxCpu, m.dispatchMs, m.localSizes)
      }
      val (l, sky) = admitAll(stored, buf, rows)
      if (l.arrived >= totalPartitions) {
        val result = Barrier.complete(payload, l, sky.result, totalPartitions,
          System.currentTimeMillis())
        buf.clear(); meta.clear()
        Iterator.single(result)
      } else {
        replace(buf, sky.result)
        meta.update(GlobalMeta(l.arrived, l.minStart, l.lastArrival, l.maxCpu,
          l.dispatchMs, l.localSizes))
        Iterator.empty
      }
    }
  }

  /** Distinct partitions already counted toward a query's latch (duplicate
    * trigger payloads make partitions answer more than once). */
  case class ArrivedPids(pids: Seq[Int])

  /** Like [[GlobalProcessor]] but emits the merged global skyline POINTS at
    * latch-fill (for oracle-checking the chained topology against the batch
    * skyline SQL; the reference's suppressed-payload emission path,
    * `FlinkSkyline.java:643-646`, behind its output flag). */
  class GlobalPointsProcessor(totalPartitions: Int)
      extends StatefulProcessor[String, LocalResult, Point] {
    @transient private var buf: ListState[Point] = _
    @transient private var arrived: ValueState[ArrivedPids] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Point]("buf",
        Encoders.product[Point], TTLConfig.NONE)
      // handle named 'arrived_pids', NOT 'arrived': the value encoding
      // changed from Int to ArrivedPids, and reusing the old handle name
      // would make a restart from a pre-change checkpoint fail on a
      // state-schema mismatch instead of starting this state fresh
      arrived = getHandle.getValueState[ArrivedPids]("arrived_pids",
        Encoders.product[ArrivedPids], TTLConfig.NONE)
    }

    override def handleInputRows(payload: String, rows: Iterator[LocalResult],
                                 tv: TimerValues): Iterator[Point] = {
      // only the latch's partitions are stored; sizes and times go unused
      val stored = if (!arrived.exists()) Barrier.EmptyLatch
        else Barrier.EmptyLatch.copy(localSizes = arrived.get().pids.map(_ -> 0))
      val (l, sky) = admitAll(stored, buf, rows)
      if (l.arrived >= totalPartitions) {
        buf.clear(); arrived.clear()
        sky.result.iterator
      } else {
        replace(buf, sky.result)
        arrived.update(ArrivedPids(l.localSizes.map(_._1)))
        Iterator.empty
      }
    }
  }

  /** [[topology]] variant emitting the global skyline points. */
  def topologyPoints(env: Dataset[Envelope], totalPartitions: Int,
                     compactLimit: Int = 5000): Dataset[Point] = {
    implicit val lrEnc: Encoder[LocalResult] = ExpressionEncoder[LocalResult]()
    implicit val ptEnc: Encoder[Point] = ExpressionEncoder[Point]()
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    implicit val strEnc: Encoder[String] = Encoders.STRING
    env.groupByKey(_.pid)
      .transformWithState(new LocalProcessor(compactLimit), TimeMode.None(),
        OutputMode.Append())
      .groupByKey(_.payload)
      .transformWithState(new GlobalPointsProcessor(totalPartitions),
        TimeMode.None(), OutputMode.Append())
  }

  /** The full chained topology. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def topology(env: Dataset[Envelope], totalPartitions: Int,
               compactLimit: Int = 5000): Dataset[QueryResult] = {
    implicit val lrEnc: Encoder[LocalResult] = ExpressionEncoder[LocalResult]()
    implicit val qrEnc: Encoder[QueryResult] = ExpressionEncoder[QueryResult]()
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    implicit val strEnc: Encoder[String] = Encoders.STRING
    env.groupByKey(_.pid)
      .transformWithState(new LocalProcessor(compactLimit), TimeMode.None(),
        OutputMode.Append())
      .groupByKey(_.payload)
      .transformWithState(new GlobalProcessor(totalPartitions),
        TimeMode.None(), OutputMode.Append())
  }
}
