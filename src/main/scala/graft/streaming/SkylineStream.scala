package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import graft.core.{Barrier, Point, SkylineBuffer}
import graft.core.Barrier.{LocalResult, QueryResult}
import graft.operators.SkylineOps

/** Input side of the reference's continuous topology
  * (`java/org.main/FlinkSkyline.java:84-183`), shared by its two shells:
  *
  *   data stream (CSV strings)      trigger stream ("qid,requiredCount")
  *        parse → tag pid                broadcast to N partitions
  *             └────── tagged union (Spark's encoding of the 2-input
  *                      keyed co-process C1) ──────┘
  *                   groupByKey(pid) → local BNL skyline + barrier (A1+A2)
  *                   → countdown latch + global merge (A3) → metrics JSON
  *
  * The protocol's decisions live in [[graft.core.Barrier]]. The streaming
  * shell is [[SkylineStreamTWS.topology]]; [[runBatch]] and
  * [[runBatchPoints]] run the same protocol over a bounded Dataset.
  */
object SkylineStream {

  /** Tagged union envelope: kind 0 = data point, kind 1 = query trigger. */
  case class Envelope(pid: Int, kind: Int, id: Long, values: Array[Double],
                      payload: String, dispatchMs: Long)

  private implicit def envelopeEnc: Encoder[Envelope] = ExpressionEncoder[Envelope]()
  private implicit def localResultEnc: Encoder[LocalResult] = ExpressionEncoder[LocalResult]()

  /** Parse a data CSV line "id,v1,...,vd" and stamp its partition id; null on
    * malformed input (reference P1/F1). */
  def parseData(line: String, pidOf: Array[Double] => Int): Option[Envelope] = {
    val p = line.split(",")
    if (p.length < 2) return None
    try {
      val id = p(0).trim.toLong
      val vs = Array.tabulate(p.length - 1)(i => p(i + 1).trim.toDouble)
      Some(Envelope(pidOf(vs), 0, id, vs, "", 0L))
    } catch { case _: NumberFormatException => None }
  }

  /** Broadcast one trigger payload to all N partitions (reference B1). */
  def broadcastTrigger(payload: String, n: Int, nowMs: Long): Seq[Envelope] =
    (0 until n).map(i => Envelope(i, 1, -1L, Array.empty, payload, nowMs))

  /** A partition's answers as local results: every answered trigger carries
    * the same local skyline, each point tagged with its origin partition for
    * the optimality metric. */
  private[streaming] def localResults(pid: Int, answers: Seq[Barrier.Trigger],
                                      startMs: Long, skyline: Seq[Point],
                                      cpuMs: Long): Iterator[LocalResult] = {
    val pts = skyline.map(_.copy(originPartition = pid))
    answers.iterator.map { case (pl, dm) =>
      LocalResult(pid, pl, dm, startMs, pts, cpuMs) }
  }

  /** The protocol over a bounded Dataset. Each partition's rows are one
    * [[Barrier.step]] from the empty state (a plain
    * `groupByKey(pid).flatMapGroups`); the driver then folds the local
    * answers, in arrival order, through each query's latch and merge.
    * Yields (payload, filled latch, global skyline) per query whose latch
    * filled. */
  private def runProtocol(spark: SparkSession, dataLines: Dataset[String],
                          triggerPayloads: Seq[String], strategy: String,
                          domain: Double, numPartitions: Int)
      : Seq[(String, Barrier.Latch, Seq[Point])] = {
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    val pidOf = SkylineOps.pidFunction(strategy, domain, numPartitions)
    val dispatchMs = System.currentTimeMillis()
    val env = dataLines.flatMap(l => parseData(l, pidOf)).unionAll(
      spark.createDataset(triggerPayloads.flatMap(p =>
        broadcastTrigger(p, numPartitions, dispatchMs))))
    val local = env.groupByKey(_.pid).flatMapGroups { (pid, rows) =>
      val t0 = System.nanoTime()
      val now = System.currentTimeMillis()
      val (data, triggers) = rows.toSeq.partition(_.kind == 0)
      val (answers, st) = Barrier.step(Barrier.Empty, data.map(_.id),
        triggers.map(e => (e.payload, e.dispatchMs)), now)
      val sky = if (answers.isEmpty) Nil
        else SkylineBuffer.of(data.iterator.map(e => Point(e.id, e.values))).result
      localResults(pid, answers, st.start(now), sky,
        (System.nanoTime() - t0) / 1000000L)
    }.collect()
    val open = scala.collection.mutable.Map[String, (Barrier.Latch, SkylineBuffer)]()
    local.toSeq.flatMap { r =>
      val (l, buf) = open.getOrElse(r.payload, (Barrier.EmptyLatch, new SkylineBuffer))
      Barrier.admit(l, r, System.currentTimeMillis()).flatMap { admitted =>
        r.skyline.foreach(buf.insert)
        if (admitted.arrived < numPartitions) {
          open(r.payload) = (admitted, buf); None
        } else {
          open.remove(r.payload); Some((r.payload, admitted, buf.result))
        }
      }
    }
  }

  /** Full-protocol run that returns the merged global skyline points (for
    * oracle-checking the protocol against the batch skyline SQL). Uses a
    * bare trigger (requiredCount 0 → fires after the partition's data,
    * `FlinkSkyline.java:334`). */
  def runBatchPoints(spark: SparkSession, dataLines: Dataset[String],
                     strategy: String, domain: Double,
                     numPartitions: Int): Seq[Point] =
    runProtocol(spark, dataLines, Seq("collect"), strategy, domain,
      numPartitions).headOption.map(_._3).getOrElse(Nil)

  /** Batch-mode end-to-end pipeline: CSV lines + trigger payloads → completed
    * query results. The batch analog of the full streaming topology. */
  def runBatch(spark: SparkSession, dataLines: Dataset[String],
               triggerPayloads: Seq[String], strategy: String, domain: Double,
               numPartitions: Int): Seq[QueryResult] =
    runProtocol(spark, dataLines, triggerPayloads, strategy, domain,
      numPartitions).map { case (payload, l, global) =>
        Barrier.complete(payload, l, global, numPartitions,
          System.currentTimeMillis())
      }
}
