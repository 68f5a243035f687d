package graft.core

/** The decisions of the reference's continuous mode
  * (`java/org.main/FlinkSkyline.java:216-660`) as pure functions. Every
  * streaming shell — the chained `transformWithState` topology and the batch
  * run of the same protocol — keeps its own state storage and delegates here:
  *
  *  - A2 [[step]]: the per-partition `maxSeenId` barrier with parked queries;
  *  - A3 [[admit]] and [[complete]]: the distinct-partition countdown latch
  *    and the metrics of the emitted query result.
  */
object Barrier {

  /** A query trigger as one partition receives it: the payload
    * "qid,requiredCount" and the wall time it was broadcast. */
  type Trigger = (String, Long)

  /** Local-phase output, mirroring the reference Tuple6
    * (`FlinkSkyline.java:201-213`). */
  final case class LocalResult(pid: Int, payload: String, dispatchMs: Long,
                               startMs: Long, skyline: Seq[Point], cpuMs: Long)

  /** Completed query result (the reference's emitted JSON object,
    * `FlinkSkyline.java:631-648`). */
  final case class QueryResult(queryId: String, recordCount: String, skylineSize: Int,
                               optimality: Double, ingestionTimeMs: Long,
                               localProcessingTimeMs: Long, globalProcessingTimeMs: Long,
                               totalProcessingTimeMs: Long) {
    /** The metrics JSON. `query_id` and a non-numeric `record_count` come
      * from the trigger payload, which is outside input, so both are
      * escaped; a numeric count is written bare, like the reference. */
    def toJson: String =
      s"""{"query_id": ${jsonString(queryId)}, "record_count": ${
        if (recordCount.matches("-?\\d+")) recordCount else jsonString(recordCount)}, """ +
        s""""skyline_size": $skylineSize, "optimality": ${
          // Locale.ROOT: JSON must use a dot decimal separator regardless of
          // the JVM default locale
          String.format(java.util.Locale.ROOT, "%.4f", Double.box(optimality))}, """ +
        s""""ingestion_time_ms": $ingestionTimeMs, """ +
        s""""local_processing_time_ms": $localProcessingTimeMs, """ +
        s""""global_processing_time_ms": $globalProcessingTimeMs, """ +
        s""""total_processing_time_ms": $totalProcessingTimeMs}"""
  }

  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  /** Barrier state of one partition (`FlinkSkyline.java:216-237`): the
    * highest record id seen (-1 before any data), the parked triggers in
    * parking order, and the wall time of the first data (0 before any). */
  final case class State(maxSeenId: Long, pending: Seq[Trigger], startMs: Long) {
    /** Start time reported with an answer: a partition that has seen no
      * data starts when it answers. */
    def start(nowMs: Long): Long = if (startMs == 0L) nowMs else startMs
  }
  val Empty: State = State(-1L, Nil, 0L)

  /** The barrier a payload asks for; no comma means 0 (fire at once,
    * `FlinkSkyline.java:334`). Triggers are external input like data lines,
    * so an unparseable count degrades to 0 instead of failing every task
    * retry and killing the streaming query. */
  def requiredCount(payload: String): Long = {
    val parts = payload.split(",")
    if (parts.length > 1)
      try parts(1).trim.toLong catch { case _: NumberFormatException => 0L }
    else 0L
  }

  /** The barrier predicate. An empty partition (`maxId == -1`) answers at
    * once (`FlinkSkyline.java:351`) — which conflates "no data yet" with "no
    * data ever": a trigger racing ahead of a partition's first record gets
    * that partition's empty local skyline, exactly as in the reference. */
  private def ready(maxId: Long, payload: String): Boolean =
    maxId == -1L || maxId >= requiredCount(payload)

  /** One micro-batch for one partition. The batch's data is applied before
    * its triggers, so the barrier check sees every record of the batch (the
    * deterministic resolution of the per-key FIFO the reference gets from
    * arrival order). Parked triggers are re-checked only when new data
    * arrived. Returns the triggers answered now — released parked ones in
    * parking order, then new ones in arrival order — and the new state. */
  def step(st: State, dataIds: Seq[Long], triggers: Seq[Trigger],
           nowMs: Long): (Seq[Trigger], State) = {
    val maxId = dataIds.foldLeft(st.maxSeenId)(math.max)
    val (released, parked) =
      if (dataIds.isEmpty) (Nil, st.pending)
      else st.pending.partition(t => ready(maxId, t._1))
    val (fireNow, parkNew) = triggers.partition(t => ready(maxId, t._1))
    val startMs = if (dataIds.nonEmpty && st.startMs == 0L) nowMs else st.startMs
    (released ++ fireNow, State(maxId, parked ++ parkNew, startMs))
  }

  /** Latch of one query (`FlinkSkyline.java:472-512`): the distinct
    * partitions that answered with their local skyline sizes, and the
    * arrival statistics the timing metrics need. */
  final case class Latch(minStart: Long, lastArrival: Long, maxCpu: Long,
                         dispatchMs: Long, localSizes: Seq[(Int, Int)]) {
    def arrived: Int = localSizes.size
  }
  val EmptyLatch: Latch = Latch(Long.MaxValue, 0L, 0L, 0L, Nil)

  /** Count one local answer arriving at `nowMs`; None when its partition was
    * already counted. A duplicated trigger payload makes every partition
    * answer twice, and counting raw arrivals would both fill the latch early
    * (missing slow partitions) and merge antichains twice. */
  def admit(l: Latch, r: LocalResult, nowMs: Long): Option[Latch] =
    if (l.localSizes.exists(_._1 == r.pid)) None
    else Some(Latch(math.min(l.minStart, r.startMs), nowMs,
      math.max(l.maxCpu, r.cpuMs), r.dispatchMs,
      l.localSizes :+ (r.pid -> r.skyline.size)))

  /** The emitted result once the latch holds all `totalPartitions`
    * (`FlinkSkyline.java:573-648`). Optimality is the mean over ALL
    * partitions of the share of a partition's local skyline that survives
    * the global merge (0 for an empty local skyline); `global` carries each
    * point's origin partition. */
  def complete(payload: String, l: Latch, global: Seq[Point],
               totalPartitions: Int, finishMs: Long): QueryResult = {
    val survivors = global.groupBy(_.originPartition).view.mapValues(_.size)
    val sizes = l.localSizes.toMap
    val sumRatios = (0 until totalPartitions).map { i =>
      sizes.get(i) match {
        case Some(sz) if sz > 0 => survivors.getOrElse(i, 0).toDouble / sz
        case _ => 0.0
      }
    }.sum
    val parts = payload.split(",")
    val mapWall = math.max(0L, l.lastArrival - l.minStart)
    QueryResult(parts(0), if (parts.length > 1) parts(1).trim else "unknown",
      global.size, sumRatios / totalPartitions,
      math.max(0L, mapWall - l.maxCpu), l.maxCpu,
      finishMs - l.lastArrival, finishMs - l.minStart)
  }
}
