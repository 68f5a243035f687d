package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.{col, element_at}

import graft.Graft
import graft.core.{Point, SkylineBuffer}
import graft.operators.SkylineOps
import graft.sources.Generators

/** A closed-loop batch workload: one client thread cycles a fixed set of
  * barriers N over a cached anti-correlated table and asks for the skyline
  * of every record with id <= N. */
final case class BatchSpec(dims: Int, table: Long, barriers: Seq[Long]) {
  require(barriers.contains(table), "the full-table query is one of the barriers")
}

object BatchBench {
  /** 4-D: the generator clamps ~22% of points to the origin, so the union is
    * copies of one vector and one MR-Angle partition holds nearly all of it.
    * Three barriers, so the median is the middle one's. */
  val Anti4dDups = BatchSpec(4, 500000L, Seq(125000L, 312500L, 500000L))

  val Strategy = "mr-angle"
  val Domain = 10000.0
  val Partitions = 8
  /** Warm-up runs whole cycles through every barrier for at least this long
    * before timing; the first queries of a fresh JVM run several times
    * slower than warm ones, and keep speeding up for several cycles. */
  val WarmS = 6.0

  final case class Sample(barrier: Long, latencyS: Double, digest: Option[Digest]) {
    def ok(refs: Map[Long, Digest]): Boolean = digest.contains(refs(barrier))
  }
}

final class BatchBench(spec: BatchSpec, opt: Opts) {
  import BatchBench._

  private val dimCols = (0 until spec.dims).map(i => s"d$i")
  private implicit val pointEnc: Encoder[Point] = ExpressionEncoder[Point]()
  private var spark: SparkSession = _
  private var table: DataFrame = _

  private def input(n: Long): DataFrame = table.filter(col("id") <= n)

  private def generate(): DataFrame =
    Generators.generate(spark, "anti-correlated", spec.table, spec.dims, 0, 10000, opt.seed)
      .select(col("id") +: dimCols.indices.map(i =>
        element_at(col("values"), i + 1).as(dimCols(i))): _*)
      .cache()

  /** Reference digests per barrier from the typed-aggregate skyline, a path
    * independent of the timed one; cached on disk per (workload, seed, build). */
  private def references(ns: Seq[Long]): Map[Long, Digest] = {
    val file = opt.cache.resolve(s"${opt.workload}-seed${opt.seed}-${opt.stamp}.txt")
    val cached = if (!Files.isRegularFile(file)) Map.empty[Long, Digest]
      else Files.readAllLines(file).asScala.map(_.split(" ")).collect {
        case Array(n, d) => n.toLong -> Digest.parse(d)
      }.toMap
    val missing = ns.distinct.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    implicit val ec: ExecutionContext = ExecutionContext.global
    val refs = cached ++ Await.result(Future.sequence(missing.map(n => Future {
      n -> Digest.ofRows(Graft.skyline(input(n), dimCols).collect(), spec.dims)
    })), 30.minutes)
    Files.createDirectories(opt.cache)
    val tmp = Files.createTempFile(opt.cache, "ref", ".tmp")
    Files.writeString(tmp, refs.toSeq.sortBy(_._1).map { case (n, d) => s"$n $d" }.mkString("", "\n", "\n"))
    Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    refs
  }

  /** The user's query through the public entry point. */
  private def query(n: Long): Digest =
    Digest.ofRows(Graft.skylineVia(input(n), "id", dimCols, Strategy, Domain, Partitions)
      .collect(), spec.dims)

  /** Whole cycles through the barriers until `seconds` have passed. A query
    * that throws is recorded without a digest; digests are compared with
    * the references once the timed loops are over. */
  private def loop(seconds: Double)(body: (Long, String) => Digest): Seq[Sample] = {
    val samples = ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    do {
      spec.barriers.foreach { n =>
        val qid = s"q${samples.length}"
        val s0 = System.nanoTime()
        val d = try Some(body(n, qid)) catch {
          case NonFatal(e) => Main.log(s"query N=$n failed: $e"); None
        }
        samples += Sample(n, (System.nanoTime() - s0) / 1e9, d)
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    samples.toSeq
  }

  /** Latencies of the queries that returned the reference answer. */
  private def latencies(s: Seq[Sample], refs: Map[Long, Digest]): Seq[Double] = {
    val ok = s.filter(_.ok(refs)).map(_.latencyS)
    if (ok.isEmpty) Seq(Double.NaN) else ok
  }

  private def checkAll(s: Seq[Sample], refs: Map[Long, Digest], out: Outcome): Unit =
    s.foreach { x =>
      if (!out.check(x.ok(refs))) Main.log(s"query N=${x.barrier}: got ${x.digest}, " +
        s"expected ${refs(x.barrier)}")
    }

  def run(out: Outcome): Unit = {
    spark = Main.session(opt.work)
    val sessionS = Host.sinceJvmStartS()
    val genS = (1 to Main.SetupReps).map { _ =>
      if (table != null) table.unpersist(blocking = true)
      Main.timeS { table = generate(); table.count() }._2
    }
    val (warm, warmS) = Main.timeS(loop(WarmS)((n, _) => query(n)))
    System.gc()
    val timed = loop(opt.seconds)((n, _) => query(n))
    val traced = if (opt.trace) Some(tracedLoop()) else None
    // references last, so a cached or freshly built reference leaves the
    // timed loops and the JIT state they ran in alike
    val (refs, refS) = Main.timeS(references(spec.barriers))
    checkAll(warm ++ timed ++ traced.map(_._1).getOrElse(Nil), refs, out)

    val lat = latencies(timed, refs)
    val tail = Stats.tail(lat)
    val okS = timed.filter(_.ok(refs))
    out.detail ++= Seq("queries" -> timed.length, "barriers" -> spec.barriers,
      "tail_percentile" -> tail.percentile, "tail_samples_beyond" -> tail.beyond,
      "session_s" -> sessionS, "gen_s" -> genS, "ref_s" -> refS, "warm_s" -> warmS,
      "latency_by_barrier_s" -> spec.barriers.map(n => n.toString ->
        timed.filter(s => s.barrier == n).map(_.latencyS)).toMap)

    traced match {
      case None =>
        out.metrics("latency_p50_s") = Stats.median(lat)
        out.metrics("latency_tail_s") = tail.value
        out.metrics("points_per_s") = okS.map(_.barrier.toDouble).sum / okS.map(_.latencyS).sum
        out.metrics("ingest_lag_s") = Stats.median(genS)
        out.metrics("setup_s") = sessionS + Stats.median(genS) + warmS
        out.metrics("peak_rss_mb") = Host.peakRssMb()
      case Some((samples, spans, jobs)) =>
        layerMetrics(samples, spans, jobs, refs, out)
        out.metrics("trace.overhead_s") = Stats.median(latencies(samples, refs)) - Stats.median(lat)
        out.metrics("gen.s") = Stats.median(genS)
        shapes(refs(spec.table), out)
    }
  }

  /** The traced loop: the same queries composed from the layer calls that
    * skylineVia makes, each timed from outside, with Spark's task metrics
    * scoped per query and layer by job group. */
  private def tracedLoop(): (Seq[Sample], Spans, JobCollector) = {
    val sc = spark.sparkContext
    val jobs = new JobCollector
    sc.addSparkListener(jobs)
    val spans = new Spans
    val samples = loop(opt.seconds) { (n, qid) =>
      spans("query", qid) {
        sc.setJobGroup(s"$qid/local", "local", interruptOnCancel = false)
        val local = spans("local", qid) {
          val l = SkylineOps.localSkylines(SkylineOps.pointsFrom(input(n), "id", dimCols),
            Strategy, Domain, Partitions).persist()
          l.count()
          l
        }
        sc.setJobGroup(s"$qid/merge", "merge", interruptOnCancel = false)
        val merged = spans("merge.build", qid) {
          SkylineOps.skylineBroadcastFilter(local.flatMap(_._2).repartition(sc.defaultParallelism))
        }
        val rows = spans("merge.collect", qid)(merged.collect())
        sc.clearJobGroup()
        local.unpersist()
        spans("digest", qid)(Digest.ofPoints(rows))
      }
    }
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    sc.removeSparkListener(jobs)
    Files.createDirectories(opt.traces)
    Files.write(opt.traces.resolve(s"${opt.workload}-seed${opt.seed}.spans.jsonl"),
      spans.toJsonLines.toSeq.asJava)
    (samples, spans, jobs)
  }

  /** Per-layer medians over the traced queries that returned the right answer. */
  private def layerMetrics(samples: Seq[Sample], spans: Spans, jobs: JobCollector,
                           refs: Map[Long, Digest], out: Outcome): Unit = {
    val okQueries = samples.indices.filter(samples(_).ok(refs)).map(i => s"q$i").toSet
    val byQuery = spans.spans.zipWithIndex.filter { case (s, _) =>
      s.name == "query" && okQueries(s.query) }
    def med(f: ((Span, Int)) => Double): Double =
      if (byQuery.isEmpty) 0.0 else Stats.median(byQuery.map(f).toSeq)
    def child(id: Int, name: String): Double =
      spans.children(id).filter(_.name == name).map(_.duration).sum / 1e9
    def agg(s: Span, layer: String): TaskAgg = jobs.agg(s"${s.query}/$layer")
    def both(s: Span): Seq[TaskAgg] = Seq(agg(s, "local"), agg(s, "merge"))
    val m = out.metrics
    m("local.s") = med { case (_, id) => child(id, "local") }
    m("local.cpu_s") = med { case (s, _) => agg(s, "local").cpuNs / 1e9 }
    m("local.tasks") = med { case (s, _) => agg(s, "local").tasks.toDouble }
    m("local.task_max_over_median") = med { case (s, _) => agg(s, "local").heaviestStageSkew }
    m("local.shuffle_write_bytes") = med { case (s, _) => agg(s, "local").shuffleWriteBytes.toDouble }
    m("merge.s") = med { case (_, id) => child(id, "merge.build") + child(id, "merge.collect") }
    m("merge.cpu_s") = med { case (s, _) => agg(s, "merge").cpuNs / 1e9 }
    m("merge.tasks") = med { case (s, _) => agg(s, "merge").tasks.toDouble }
    m("merge.task_max_over_median") = med { case (s, _) => agg(s, "merge").heaviestStageSkew }
    m("result.digest_s") = med { case (_, id) => child(id, "digest") }
    m("spark.cpu_s") = med { case (s, _) => both(s).map(_.cpuNs).sum / 1e9 }
    m("spark.effective_parallelism") = med { case (s, _) =>
      both(s).map(_.runMs).sum / 1e3 / (s.duration / 1e9 * Main.cores) }
    m("spark.shuffle_bytes") = med { case (s, _) => both(s).map(_.shuffleWriteBytes).sum.toDouble }
    m("spark.spill_bytes") = med { case (s, _) => both(s).map(_.spillBytes).sum.toDouble }
    m("spark.gc_s") = med { case (s, _) => both(s).map(_.gcMs).sum / 1e3 }
    m("spark.result_bytes") = med { case (s, _) => both(s).map(_.resultBytes).sum.toDouble }
    m("trace.self_s") = med { case (_, id) => spans.selfTime(id) / 1e9 }
    out.detail ++= Seq("traced_queries" -> samples.length)
  }

  /** Exact counts of the full-table query (N = table size), measured outside
    * any timed span, plus the single-threaded kernel on its partitions. */
  private def shapes(ref: Digest, out: Outcome): Unit = {
    val m = out.metrics
    val points = SkylineOps.pointsFrom(input(spec.table), "id", dimCols).cache()
    val pidOf = SkylineOps.pidFunction(Strategy, Domain, Partitions)
    val perPart = points.rdd.map(p => pidOf(p.values)).countByValue()
    val pointsPer = (0 until Partitions).map(p => perPart.getOrElse(p, 0L).toDouble)
    val local = SkylineOps.localSkylines(points, Strategy, Domain, Partitions).collect().toMap
    val localSize = (0 until Partitions).map(p => local.get(p).map(_.size).getOrElse(0))
    val union = local.values.flatten.toArray
    val global = SkylineOps.skylineBroadcastFilter(
      spark.createDataset(union.toSeq).repartition(spark.sparkContext.defaultParallelism)).collect()
    out.check(Digest.ofPoints(global) == ref)
    val survivorsFrom = global.groupBy(_.originPartition).view.mapValues(_.length).toMap
    m("part.points_max_over_mean") = Stats.maxOverMean(pointsPer)
    m("part.antichain_max_over_mean") = Stats.maxOverMean(localSize.map(_.toDouble))
    m("local.union_points") = union.length
    m("local.optimality") = (0 until Partitions).map { p =>
      if (localSize(p) == 0) 0.0 else survivorsFrom.getOrElse(p, 0).toDouble / localSize(p)
    }.sum / Partitions
    m("merge.union_distinct_points") = union.map(_.values.toSeq).distinct.length
    m("merge.survivors") = global.length
    m("result.rows") = global.length

    val biggest = pointsPer.indices.maxBy(pointsPer)
    val part = points.filter(p => pidOf(p.values) == biggest).collect()
    val perPoint = (1 to 3).map(_ => Main.timeS(SkylineBuffer.of(part.iterator).size)._2)
    m("kernel.ns_per_point") = Stats.median(perPoint) * 1e9 / part.length
    val all = points.collect()
    points.unpersist()
    out.detail("input_distinct_points") = all.iterator.map(_.values.toSeq).toSet.size
    val (sky, single) = Main.timeS(SkylineBuffer.of(all.iterator).result)
    out.check(Digest.ofPoints(sky) == ref)
    m("kernel.single_thread_s") = single
    out.detail ++= Seq("points_per_partition" -> pointsPer.map(_.toLong),
      "antichain_per_partition" -> localSize, "largest_partition" -> biggest)
  }
}
