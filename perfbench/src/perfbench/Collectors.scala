package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Task metrics summed over every task of one scope (a job group, or a
  * streaming micro-batch). */
final class TaskAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var resultBytes = 0L
  /** Task run times per stage, for the skew of the heaviest stage. */
  val runByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Largest task over the median task, in the stage with the most run time. */
  def heaviestStageSkew: Double =
    if (runByStage.isEmpty) 0.0
    else Stats.maxOverMedian(runByStage.values.maxBy(_.sum).map(_.toDouble).toSeq)
}

/** A Spark job as the scheduler saw it (epoch milliseconds). */
final case class JobSpan(scope: String, jobId: Int, startMs: Long, endMs: Long)

/** SparkListener that sums task metrics per scope. A job's scope is its
  * streaming batch id when it has one ("batch/<id>"), else its job group.
  * Only installed for traced runs. */
final class JobCollector extends SparkListener {
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val open = new ConcurrentHashMap[Int, (String, Long)]()
  private val aggs = new ConcurrentHashMap[String, TaskAgg]()
  val jobs = new ConcurrentLinkedQueue[JobSpan]()

  private def scopeOf(p: Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("streaming.sql.batchId")).map("batch/" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = scopeOf(e.properties)
    e.stageIds.foreach(stageScope.put(_, scope))
    open.put(e.jobId, (scope, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (scope, t0) =>
      jobs.add(JobSpan(scope, e.jobId, t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val scope = stageScope.get(e.stageId)
    val m = e.taskMetrics
    if (scope == null || m == null) return
    val a = aggs.computeIfAbsent(scope, _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.resultBytes += m.resultSize
      a.runByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  def agg(scope: String): TaskAgg = Option(aggs.get(scope)).getOrElse(new TaskAgg)

  def jobsOf(scope: String): Seq[JobSpan] = jobs.asScala.filter(_.scope == scope).toSeq
}

/** StreamingQueryListener keeping every progress report. */
final class ProgressCollector extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
