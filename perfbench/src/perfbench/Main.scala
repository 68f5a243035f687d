package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options of one benchmark run; see perfbench/run.py for how they are set. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, cache: Path, traces: Path, stamp: String)

/** What one run reports: counts of attempted and failed queries, the metrics
  * by name, and free-form details printed next to them. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()

  def check(ok: Boolean): Boolean = { attempted += 1; if (!ok) failed += 1; ok }

  def json: String = Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
    "failed" -> failed, "metrics" -> metrics, "detail" -> detail)
}

object Main {
  /** Set-up (generate and cache the input) is repeated this many times per
    * run and its median reported, so one slow repetition does not move
    * setup_s. */
  val SetupReps = 5

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("out")),
      Paths.get(kv("cache")), Paths.get(kv("traces")), kv("stamp"))
    Files.createDirectories(opts.work)
    val out = new Outcome
    val steal0 = Host.stealS()
    val wall0 = System.nanoTime()
    try opts.workload match {
      case "batch_anti4d_dups" => new BatchBench(BatchBench.Anti4dDups, opts).run(out)
      case "stream_anti2d" => new StreamBench(opts).run(out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        // exit now: Spark's non-daemon threads would keep the JVM alive
        e.printStackTrace()
        sys.exit(1)
    }
    val steal = Host.stealS() - steal0
    out.detail("wall_s") = (System.nanoTime() - wall0) / 1e9
    out.detail("host_steal_s") = steal
    out.detail("process_cpu_s") = Host.processCpuS()
    out.detail("failed_frac") = out.failed.toDouble / math.max(1, out.attempted)
    if (opts.trace) out.metrics("host.steal_s") = steal
    Files.writeString(opts.out, out.json + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }
}
