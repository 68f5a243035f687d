package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Dominance
import graft.operators.SparkTestSession

/** File-mode end-to-end of the deployment entrypoint: StreamMain.run drives
  * the distributed chained-transformWithState topology from text files with
  * Trigger.AvailableNow (the reference lifecycle `FlinkSkyline.java:61-186`
  * minus Kafka, which is absent from this offline classpath), writes the
  * per-query result JSON, and appends the G5 metrics-collector CSV row. */
class StreamMainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("StreamMain file mode end-to-end with AvailableNow: JSON + metrics CSV") {
    val rng = new scala.util.Random(7)
    val pts = Seq.tabulate(400)(i =>
      (i.toLong, rng.nextInt(100).toDouble, rng.nextInt(100).toDouble))
    val vs = pts.map { case (_, a, b) => Array(a, b) }
    val expectedSize = vs.count(t => !vs.exists(u => Dominance.dominates(u, t)))

    val dataDir = java.nio.file.Files.createTempDirectory("sm_data")
    val trigDir = java.nio.file.Files.createTempDirectory("sm_trig")
    val outDir = java.nio.file.Files.createTempDirectory("sm_out")
    val csv = outDir.resolve("metrics.csv")
    java.nio.file.Files.writeString(dataDir.resolve("data.txt"),
      pts.map { case (id, a, b) => s"$id,$a,$b" }.mkString("", "\n", "\n"))
    // payload "<queryId>,<barrier>": barrier 0 fires once any data is seen
    // (data is ordered before triggers within a batch); the barrier value is
    // also echoed back as record_count, reference-style
    java.nio.file.Files.writeString(trigDir.resolve("trig.txt"), "7,0\n")

    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val priorStore =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      val q = StreamMain.run(spark, Map(
        "mode" -> "file",
        "data-dir" -> dataDir.toString,
        "trigger-dir" -> trigDir.toString,
        "out" -> outDir.toString,
        "metrics-csv" -> csv.toString,
        "trigger" -> "available-now",
        "algo" -> "mr-grid",
        "domain" -> "100.0",
        "parallelism" -> "2"))
      q.awaitTermination(120000L)
      assert(!q.isActive, "AvailableNow query should have finished")

      val json = java.nio.file.Files.readString(outDir.resolve("query_7.json"))
      assert(json.contains(""""query_id": "7""""))
      assert(json.contains(s""""skyline_size": $expectedSize"""))
      assert(json.contains(""""record_count": 0"""))

      val lines = scala.jdk.CollectionConverters
        .CollectionHasAsScala(java.nio.file.Files.readAllLines(csv)).asScala.toIndexedSeq
      assert(lines.head == MetricsCollector.Header)
      assert(lines.size == 2)
      val cells = lines(1).split(",", -1)
      assert(cells.length == 10, s"row: ${lines(1)}")
      assert(cells(0) == "7" && cells(1) == "0" &&
        cells(2) == expectedSize.toString)
      assert(cells(8) == "0" && cells(9).isEmpty) // latency default, points off
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
      priorStore match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("StreamMain restart from checkpoint: barrier state survives AvailableNow runs") {
    val rng = new scala.util.Random(11)
    val batch1 = Seq.tabulate(200)(i =>
      (i.toLong, rng.nextInt(80).toDouble, rng.nextInt(80).toDouble))
    val batch2 = Seq.tabulate(200)(i =>
      ((i + 200).toLong, rng.nextInt(80).toDouble, rng.nextInt(80).toDouble))
    val all = batch1 ++ batch2
    val vs = all.map { case (_, a, b) => Array(a, b) }
    val expectedSize = vs.count(t => !vs.exists(u => Dominance.dominates(u, t)))

    val dataDir = java.nio.file.Files.createTempDirectory("smr_data")
    val trigDir = java.nio.file.Files.createTempDirectory("smr_trig")
    val outDir = java.nio.file.Files.createTempDirectory("smr_out")
    val ckpt = java.nio.file.Files.createTempDirectory("smr_ckpt")
    def opts = Map(
      "mode" -> "file", "data-dir" -> dataDir.toString,
      "trigger-dir" -> trigDir.toString, "out" -> outDir.toString,
      "trigger" -> "available-now", "algo" -> "mr-dim",
      "domain" -> "80.0", "parallelism" -> "2",
      "checkpoint" -> ckpt.toString)

    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val priorStore =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      // run 1: first half of the data, no trigger yet
      java.nio.file.Files.writeString(dataDir.resolve("d1.txt"),
        batch1.map { case (id, a, b) => s"$id,$a,$b" }.mkString("", "\n", "\n"))
      val q1 = StreamMain.run(spark, opts)
      q1.awaitTermination(120000L)
      assert(!q1.isActive)
      // run 2 (fresh query, same checkpoint): second half + the trigger.
      // The local skylines and barrier counters from run 1 must come back
      // from RocksDB state for the emitted skyline to cover BOTH batches.
      java.nio.file.Files.writeString(dataDir.resolve("d2.txt"),
        batch2.map { case (id, a, b) => s"$id,$a,$b" }.mkString("", "\n", "\n"))
      java.nio.file.Files.writeString(trigDir.resolve("t1.txt"), "9,0\n")
      val q2 = StreamMain.run(spark, opts)
      q2.awaitTermination(120000L)
      assert(!q2.isActive)

      val json = java.nio.file.Files.readString(outDir.resolve("query_9.json"))
      assert(json.contains(s""""skyline_size": $expectedSize"""), json)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
      priorStore match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("a query id cannot steer the --out result file outside its directory") {
    val dir = java.nio.file.Files.createTempDirectory("sm_ids")
    for (id <- Seq("a/../../x", "..", "a\\b", "../" * 3 + "etc")) {
      val f = StreamMain.resultFile(dir.toString, id)
      assert(f.getParent == dir, id)
      assert(f.getFileName.toString.startsWith("query_"), id)
      assert(f.normalize.getParent == dir, id)
    }
    // plain ids keep the name the metrics tooling reads
    assert(StreamMain.resultFile(dir.toString, "7") == dir.resolve("query_7.json"))
  }
}
