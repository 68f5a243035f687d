package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{Point, SkylineBuffer}
import graft.operators.SkylineOps
import graft.sources.Generators
import graft.streaming.StreamMain

object StreamBench {
  val Dims = 2
  /** StreamMain's --parallelism; it runs 2 × parallelism = 8 partitions. */
  val Parallelism = 4
  val Partitions = 2 * Parallelism
  /** StreamMain's processing-time trigger interval. */
  val TriggerMs = 2000L
  /** Feeder cadence: one data file plus one trigger per period. 800 ms is no
    * divisor or multiple of the trigger interval, so the phase between file
    * arrival and micro-batch start steps through 0, 0.4, ... 1.6 s. */
  val PeriodMs = 800L
  /** Files per full phase cycle; measured windows hold whole cycles, so
    * every run sees the same mix of phases. */
  val PhaseCycleFiles: Int = (TriggerMs / gcd(PeriodMs, TriggerMs)).toInt
  /** Rows per file; with the period this sets the offered rate (7k rows/s). */
  val RowsPerFile = 5600
  val WarmFiles = 2
  /** Files fed after the measured windows while their last triggers finish. */
  val SlackFiles = 20

  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  /** Input shape counts are taken over this fixed prefix of the stream, so
    * they repeat exactly for a seed whatever the micro-batch timing was. */
  val ShapeRows = 280000

  /** Size (with duplicates) of the 2-D skyline of the given points, by a
    * sort-and-sweep independent of the program's skyline kernel. Values
    * must be integers in [0, 2^20). */
  def skyline2dSize(xs: Array[Double], ys: Array[Double], idx: Array[Int]): Int = {
    val keys = idx.map { i =>
      require(xs(i) == xs(i).floor && ys(i) == ys(i).floor, "non-integer coordinate")
      (xs(i).toLong << 20) | ys(i).toLong
    }
    java.util.Arrays.sort(keys)
    var size = 0
    var minYBefore = Long.MaxValue
    var i = 0
    while (i < keys.length) {
      val x = keys(i) >>> 20
      val minY = keys(i) & 0xfffff
      var j = i
      var atMin = 0
      while (j < keys.length && (keys(j) >>> 20) == x) {
        if ((keys(j) & 0xfffff) == minY) atMin += 1
        j += 1
      }
      if (minY < minYBefore) { size += atMin; minYBefore = minY }
      i = j
    }
    size
  }

  /** One data file and one trigger file per period on a fixed schedule,
    * whatever the system does (an open loop). Each file moves into place
    * atomically so the file source never lists a partial file. */
  final class Feeder(rows: Array[Point], dataDir: Path, trigDir: Path, staging: Path,
                     nFiles: Int, val t0: Long) extends Thread("perfbench-feeder") {
    setDaemon(true)
    @volatile var stopped = false
    val lateMs: Array[Long] = Array.fill(nFiles)(-1L)

    def due(k: Int): Long = t0 + k * PeriodMs

    override def run(): Unit = {
      var k = 0
      while (k < nFiles && !stopped) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopped) {
          lateMs(k) = System.currentTimeMillis() - due(k)
          val sb = new java.lang.StringBuilder(RowsPerFile * 16)
          (k * RowsPerFile until (k + 1) * RowsPerFile).foreach { i =>
            val p = rows(i)
            sb.append(p.id).append(',').append(p.values(0)).append(',')
              .append(p.values(1)).append('\n')
          }
          place(dataDir, f"d$k%06d.csv", sb.toString)
          place(trigDir, f"t$k%06d.csv", s"$k,${(k + 1) * RowsPerFile - 1}\n")
        }
        k += 1
      }
    }

    private def place(dir: Path, name: String, body: String): Unit = {
      val tmp = staging.resolve(name)
      Files.writeString(tmp, body)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private val PathRe = "\"path\":\"[^\"]*/([dt])(\\d+)\\.csv\"".r
  private val LogIdRe = "\"batchId\":(\\d+)".r
  private val LogOffsetRe = "\"logOffset\":(\\d+)".r

  /** Which committed micro-batch consumed each data and trigger file. A file
    * source logs each file under its own log offset; the query's offset log
    * records, per micro-batch, the log offset each source had reached (one
    * line per source after the version and metadata lines). */
  def consumedBy(ckpt: Path, committed: Seq[Long]): (Map[Int, Long], Map[Int, Long]) = {
    val reached = committed.sorted.map { b =>
      b -> Files.readAllLines(ckpt.resolve("offsets").resolve(b.toString)).asScala.drop(2)
        .map(l => LogOffsetRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L))
        .toIndexedSeq
    }
    val data = mutable.Map[Int, Long]()
    val trig = mutable.Map[Int, Long]()
    val srcRoot = ckpt.resolve("sources")
    if (Files.isDirectory(srcRoot)) {
      for {
        src <- Files.list(srcRoot).iterator().asScala
        i = src.getFileName.toString.toInt
        f <- Files.list(src).iterator().asScala if !f.getFileName.toString.startsWith(".")
        line <- Files.readAllLines(f).asScala
        p <- PathRe.findFirstMatchIn(line)
        logId <- LogIdRe.findFirstMatchIn(line).map(_.group(1).toLong)
        (b, _) <- reached.find { case (_, offs) => i < offs.length && offs(i) >= logId }
      } (if (p.group(1) == "d") data else trig)(p.group(2).toInt) = b
    }
    (data.toMap, trig.toMap)
  }

  /** Modification time (epoch ms) of each numbered entry of a checkpoint log. */
  def logTimes(dir: Path): Map[Long, Double] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> epochMs(f)).toMap

  def epochMs(f: Path): Double = {
    val t = Files.getLastModifiedTime(f).toInstant
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }
}

/** The streaming workload: StreamMain.run in file mode (the CLI deployment
  * of the chained transformWithState topology on RocksDB), fed by one
  * feeder thread on a fixed schedule. */
final class StreamBench(opt: Opts) {
  import StreamBench._

  private val ResultRe = "\"record_count\": (\\d+), \"skyline_size\": (\\d+), \"optimality\": ([0-9.]+)".r

  def run(out: Outcome): Unit = {
    val spark = Main.session(opt.work)
    val sessionS = Host.sinceJvmStartS()
    val windowFiles = math.ceil(opt.seconds * 1000 / PeriodMs / PhaseCycleFiles).toInt *
      PhaseCycleFiles
    val nWindows = if (opt.trace) 2 else 1
    val nFiles = WarmFiles + nWindows * windowFiles + SlackFiles
    val nRows = nFiles.toLong * RowsPerFile
    var rows: Array[Point] = null
    val genS = (1 to Main.SetupReps).map { _ =>
      rows = null
      Main.timeS {
        rows = Generators.generate(spark, "anti-correlated", nRows, Dims, 0, 10000, opt.seed)
          .collect().sortBy(_.id)
      }._2
    }
    val xs = rows.map(_.values(0))
    val ys = rows.map(_.values(1))
    val pidOf = SkylineOps.pidFunction("mr-angle", 10000.0, Partitions)
    val pid = rows.map(p => pidOf(p.values))

    val Seq(dataDir, trigDir, outDir, staging, ckpt) =
      Seq("data", "triggers", "out", "staging", "checkpoint").map(d =>
        Files.createDirectories(opt.work.resolve(d)))
    val csv = outDir.resolve("metrics.csv")
    val (query, startS) = Main.timeS(StreamMain.run(spark, Map(
      "mode" -> "file", "data-dir" -> dataDir.toString, "trigger-dir" -> trigDir.toString,
      "out" -> outDir.toString, "metrics-csv" -> csv.toString, "algo" -> "mr-angle",
      "parallelism" -> Parallelism.toString, "dims" -> Dims.toString,
      "domain" -> "10000.0", "checkpoint" -> ckpt.toString)))

    // the processing-time trigger fires at epoch multiples of its interval;
    // starting the schedule at a fixed offset to that grid gives every run
    // the same phases (files land 200 ms after a phase step, never on a
    // trigger boundary)
    val step = gcd(PeriodMs, TriggerMs)
    val soon = System.currentTimeMillis() + 200
    val feeder = new Feeder(rows, dataDir, trigDir, staging, nFiles,
      soon - soon % step + step + step / 2)
    def answered(k: Int) = Files.exists(outDir.resolve(s"query_$k.json"))
    def await(ks: Range, deadline: Long): Unit =
      while (!ks.forall(answered) && System.currentTimeMillis() < deadline) Thread.sleep(50)

    feeder.start()
    await(0 until WarmFiles, feeder.t0 + 120000)
    val warmEnd = System.currentTimeMillis()
    val first = math.max(WarmFiles,
      math.ceil((warmEnd - feeder.t0).toDouble / PeriodMs).toInt)
    val windows = (0 until nWindows).map(w =>
      (first + w * windowFiles) until (first + (w + 1) * windowFiles))
    val jobs = new JobCollector
    val progress = new ProgressCollector
    if (opt.trace) {
      Thread.sleep(math.max(0L, feeder.due(windows(1).start) - 100 - System.currentTimeMillis()))
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    val last = windows.last.end
    Thread.sleep(math.max(0L, feeder.due(last) - System.currentTimeMillis()))
    await(0 until last, feeder.due(last) + 45000)
    feeder.stopped = true
    feeder.join()
    query.stop()
    if (opt.trace) {
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }

    // --- check every answer against the reference for this batch composition
    val commits = logTimes(ckpt.resolve("commits"))
    val offsets = logTimes(ckpt.resolve("offsets"))
    val committed = commits.keys.toSeq.sorted
    val (dataBatch, trigBatch) = consumedBy(ckpt, committed)
    val filesIn = dataBatch.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    /** max id of partition p's rows in file f, -1 if none */
    val maxIdIn = Array.tabulate(nFiles, Partitions) { (_, _) => -1L }
    rows.indices.foreach { i => val f = i / RowsPerFile; maxIdIn(f)(pid(i)) = i.toLong }

    def expected(k: Int): Option[Int] = trigBatch.get(k).flatMap { bq =>
      val n = (k + 1).toLong * RowsPerFile - 1
      def maxThrough(p: Int, b: Long): Long = dataBatch.iterator
        .collect { case (f, fb) if fb <= b => maxIdIn(f)(p) }.foldLeft(-1L)(math.max)
      // a partition fires once it has seen an id >= N (or at once if it has
      // seen nothing), and answers with everything it consumed by then
      val fire = (0 until Partitions).map { p =>
        if (maxThrough(p, bq) == -1L) Some(bq)
        else committed.filter(_ >= bq).find(b => maxThrough(p, b) >= n)
      }
      if (fire.exists(_.isEmpty)) None
      else {
        val idx = dataBatch.iterator.flatMap { case (f, fb) =>
          (f * RowsPerFile until (f + 1) * RowsPerFile).filter(i => fb <= fire(pid(i)).get)
        }.toArray
        Some(skyline2dSize(xs, ys, idx))
      }
    }

    val csvRows = if (Files.exists(csv))
      Files.readAllLines(csv).asScala.drop(1).groupBy(_.takeWhile(_ != ',')).view
        .mapValues(_.size).toMap
    else Map.empty[String, Int]
    final case class Answer(visibleMs: Double, records: Long, size: Int, optimality: Double)
    def answer(k: Int): Option[Answer] = {
      val f = outDir.resolve(s"query_$k.json")
      if (!Files.exists(f)) None
      else ResultRe.findFirstMatchIn(Files.readString(f)).map(m =>
        Answer(epochMs(f), m.group(1).toLong, m.group(2).toInt, m.group(3).toDouble))
    }
    val checked = (0 until last).map { k =>
      val a = answer(k)
      val want = expected(k)
      val ok = a.isDefined && csvRows.getOrElse(k.toString, 0) == 1 &&
        a.get.records == (k + 1).toLong * RowsPerFile - 1 && want.contains(a.get.size)
      if (!ok) Main.log(s"trigger $k: answer $a, expected $want, " +
        s"results ${csvRows.getOrElse(k.toString, 0)}")
      out.check(ok)
      k -> (ok, a)
    }.toMap

    def latencies(w: Range): Seq[Double] = {
      val l = w.flatMap(k => checked(k) match {
        case (true, Some(a)) => Some((a.visibleMs - feeder.due(k)) / 1e3)
        case _ => None
      })
      if (l.isEmpty) Seq(Double.NaN) else l
    }
    /** committed batches whose newest data file lies in window w */
    def batchesOf(w: Range): Seq[Long] =
      committed.filter(b => filesIn.get(b).exists(fs => w.contains(fs.last)))
    val w0 = windows.head
    val lat = latencies(w0)
    val tail = Stats.tail(lat)
    val lags = batchesOf(w0).map(b => (commits(b) - feeder.due(filesIn(b).last)) / 1e3)
    val busy = batchesOf(w0).filter(offsets.contains)
    val drained = busy.map(filesIn(_).size.toLong * RowsPerFile).sum
    val busyS = busy.map(b => commits(b) - offsets(b)).sum / 1e3
    val late = windows.flatten.map(feeder.lateMs(_)).filter(_ >= 0)
    out.detail ++= Seq("triggers" -> w0.size, "tail_percentile" -> tail.percentile,
      "tail_samples_beyond" -> tail.beyond, "session_s" -> sessionS, "gen_s" -> genS,
      "stream_start_s" -> startS, "warm_s" -> (warmEnd - feeder.t0) / 1e3,
      "batches" -> batchesOf(w0).size, "batch_lag_s" -> lags,
      "offered_rows_per_s" -> RowsPerFile * 1000.0 / PeriodMs,
      "feeder_late_max_s" -> (if (late.isEmpty) 0.0 else late.max / 1e3))

    if (!opt.trace) {
      out.metrics("latency_p50_s") = Stats.median(lat)
      out.metrics("latency_tail_s") = tail.value
      out.metrics("points_per_s") = if (busyS > 0) drained / busyS else Double.NaN
      out.metrics("ingest_lag_s") = if (lags.isEmpty) Double.NaN else Stats.median(lags)
      out.metrics("setup_s") =
        sessionS + Stats.median(genS) + startS + (warmEnd - feeder.t0) / 1e3
      out.metrics("peak_rss_mb") = Host.peakRssMb()
    } else {
      val w1 = windows(1)
      val m = out.metrics
      m("trace.overhead_s") = Stats.median(latencies(w1)) - Stats.median(lat)
      m("gen.s") = Stats.median(genS)
      m("gen.late_s") = if (late.isEmpty) 0.0 else late.max / 1e3
      val traced = w1.flatMap(k => checked(k)._2)
      if (traced.nonEmpty) {
        m("local.optimality") = Stats.median(traced.map(_.optimality))
        m("result.rows") = Stats.median(traced.map(_.size.toDouble))
      }
      layers(batchesOf(w1).toSet, progress, jobs, m)
      shapes(xs, ys, pid, rows, m)
    }
  }

  /** Per-batch phases, state-operator and task metrics of the traced window,
    * as medians over its micro-batches. */
  private def layers(batches: Set[Long], progress: ProgressCollector, jobs: JobCollector,
                     m: mutable.Map[String, Double]): Unit = {
    val ps = progress.progress.asScala.filter(p => batches.contains(p.batchId)).toSeq
    if (ps.isEmpty) return
    def med(f: StreamingQueryProgress => Double): Double = Stats.median(ps.map(f))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    m("source.offset_s") = med(p => dur(p, "latestOffset") + dur(p, "getBatch"))
    m("source.rows_per_batch") = med(_.numInputRows.toDouble)
    m("batch.trigger_s") = med(dur(_, "triggerExecution"))
    m("batch.add_s") = med(dur(_, "addBatch"))
    m("batch.wal_commit_s") = med(dur(_, "walCommit"))
    m("batch.commit_offsets_s") = med(dur(_, "commitOffsets"))
    m("batch.planning_s") = med(dur(_, "queryPlanning"))
    // stateOperators lists operators from the sink down: the global merge
    // first, the local (per-partition) stage second
    for ((name, i) <- Seq("global" -> 0, "local" -> 1)) {
      def op(p: StreamingQueryProgress) = p.stateOperators(i)
      m(s"state.$name.update_s") = med(op(_).allUpdatesTimeMs / 1e3)
      m(s"state.$name.commit_s") = med(op(_).commitTimeMs / 1e3)
      m(s"state.$name.fsync_s") = med(p => Option(op(p).customMetrics.get(
        "rocksdbCommitFileSyncLatencyMs")).map(_.doubleValue / 1e3).getOrElse(0.0))
      m(s"state.$name.rows") = med(op(_).numRowsTotal.toDouble)
      m(s"state.$name.memory_bytes") = med(op(_).memoryUsedBytes.toDouble)
    }
    def agg(p: StreamingQueryProgress) = jobs.agg(s"batch/${p.batchId}")
    m("spark.cpu_s") = med(agg(_).cpuNs / 1e9)
    m("spark.effective_parallelism") = med(p =>
      agg(p).runMs / 1e3 / math.max(1e-3, dur(p, "triggerExecution") * Main.cores))
    m("spark.shuffle_bytes") = med(agg(_).shuffleWriteBytes.toDouble)
    m("spark.spill_bytes") = med(agg(_).spillBytes.toDouble)
    m("spark.gc_s") = med(agg(_).gcMs / 1e3)
    m("spark.result_bytes") = med(agg(_).resultBytes.toDouble)

    // spans keyed by batch id: the trigger, and the Spark jobs it ran
    val spans = new Spans
    val selfS = ps.map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val id = spans.add(Span("batch", start * 1000000L,
        (start + p.durationMs.get("triggerExecution").longValue) * 1000000L, -1,
        s"batch/${p.batchId}"))
      jobs.jobsOf(s"batch/${p.batchId}").foreach(j =>
        spans.add(Span("job", j.startMs * 1000000L, j.endMs * 1000000L, id, s"batch/${p.batchId}")))
      spans.selfTime(id) / 1e9
    }
    m("trace.self_s") = Stats.median(selfS)
    Files.createDirectories(opt.traces)
    Files.write(opt.traces.resolve(s"${opt.workload}-seed${opt.seed}.spans.jsonl"),
      spans.toJsonLines.toSeq.asJava)
  }

  /** Input shape over the fixed stream prefix, and the single-threaded kernel. */
  private def shapes(xs: Array[Double], ys: Array[Double], pid: Array[Int], rows: Array[Point],
                     m: mutable.Map[String, Double]): Unit = {
    val n = math.min(ShapeRows, rows.length)
    val byPart = (0 until n).groupBy(pid(_))
    val parts = (0 until Partitions).map(p => byPart.getOrElse(p, IndexedSeq.empty))
    val local = parts.map(ix => SkylineBuffer.of(ix.iterator.map(rows(_))).result)
    m("part.points_max_over_mean") = Stats.maxOverMean(parts.map(_.size.toDouble))
    m("part.antichain_max_over_mean") = Stats.maxOverMean(local.map(_.size.toDouble))
    val union = local.flatten
    m("local.union_points") = union.size
    m("merge.union_distinct_points") = union.map(_.values.toSeq).distinct.size
    m("merge.survivors") = skyline2dSize(xs, ys, (0 until n).toArray)
    val biggest = parts.maxBy(_.size).map(rows(_)).toArray
    val perPoint = (1 to 3).map(_ => Main.timeS(SkylineBuffer.of(biggest.iterator).size)._2)
    m("kernel.ns_per_point") = Stats.median(perPoint) * 1e9 / biggest.length
    m("kernel.single_thread_s") = Main.timeS(SkylineBuffer.of(rows.iterator.take(n)).size)._2
  }
}
