package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Dominance
import graft.core.Barrier.QueryResult
import graft.operators.SparkTestSession

/** End-to-end protocol tests (reference A1/A2/A3 + B1 + C1): barrier
  * parking/firing across micro-batches, empty-partition immediate answers,
  * duplicate survival, the metrics JSON, and agreement of the batch run
  * ([[SkylineStream.runBatch]]) with brute force and with the streaming
  * topology ([[SkylineStreamTWS.topology]]). */
class SkylineStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 4
  private val DOMAIN = 100.0

  private def mkLines(pts: Seq[(Long, Double, Double)]): Seq[String] =
    pts.map { case (id, a, b) => s"$id,$a,$b" }

  /** Skyline size with every duplicate of a skyline point counted. */
  private def bruteSize(pts: Seq[(Long, Double, Double)]): Int = {
    val vs = pts.map { case (_, a, b) => Array(a, b) }
    vs.count(t => !vs.exists(u => Dominance.dominates(u, t)))
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `feed` against the streaming topology over MemoryStreams fed by
    * the data and trigger callbacks; the memory sink is `name`. */
  private def withTopology(name: String, strategy: String, domain: Double)
      (feed: (Seq[String] => Unit, String => Unit,
              org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    val ckpt = java.nio.file.Files.createTempDirectory(name).toString
    val dataIn = MemoryStream[String]
    val trigIn = MemoryStream[String]
    val n = N   // local copy: closures must not capture the spec
    val pidOf = graft.operators.SkylineOps.pidFunction(strategy, domain, n)
    val env = dataIn.toDS().flatMap(l => SkylineStream.parseData(l, pidOf))
      .unionAll(trigIn.toDS().flatMap(p =>
        SkylineStream.broadcastTrigger(p, n, 1L)))
    val q = SkylineStreamTWS.topology(env, n).writeStream.format("memory")
      .queryName(name).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try feed(ls => dataIn.addData(ls), t => trigIn.addData(t), q)
    finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  private def results(name: String): Array[QueryResult] = {
    import spark.implicits._
    spark.table(name).as[QueryResult].collect()
  }

  test("batch pipeline: trigger after data computes the global skyline + metrics") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val pts = Seq.tabulate(500)(i =>
      (i.toLong, rng.nextInt(100).toDouble, rng.nextInt(100).toDouble))
    // barrier 400: with seeded data every mr-dim slice holds an id >= 400
    // (per-partition maxSeenId semantics — a barrier only one partition can
    // reach parks forever, exactly like the reference protocol)
    val res = SkylineStream.runBatch(spark,
      spark.createDataset(mkLines(pts)), Seq("1,400"), "mr-dim", DOMAIN, N)
    assert(res.length == 1)
    val r = res.head
    assert(r.queryId == "1" && r.recordCount == "400")
    assert(r.skylineSize == bruteSize(pts))
    assert(r.optimality >= 0.0 && r.optimality <= 1.0)
    assert(r.toJson.contains("\"skyline_size\""))
  }

  test("malformed lines are dropped, duplicates survive") {
    import spark.implicits._
    val lines = Seq("0,5.0,5.0", "1,0.0,0.0", "2,0.0,0.0", "garbage", "3", "4,1.0,xx",
      "5,0.0,0.0")
    val res = SkylineStream.runBatch(spark,
      spark.createDataset(lines), Seq("7,5"), "mr-grid", DOMAIN, N)
    assert(res.length == 1)
    // three duplicates of (0,0) survive; (5,5) dominated
    assert(res.head.skylineSize == 3)
  }

  test("streaming: trigger parks until the barrier is reached in a later batch") {
    withTopology("park_out", "mr-dim", DOMAIN) { (data, trigger, q) =>
      // batch 1: ids up to 9 in mr-dim bands 0 and 2, a trigger needing
      // id >= 20: bands 0 and 2 park it, the empty bands 1 and 3 answer
      data(mkLines(Seq((0L, 50.0, 50.0), (9L, 10.0, 90.0))))
      trigger("1,20")
      q.processAllAvailable()
      assert(results("park_out").isEmpty)
      // batch 2: data crosses the barrier in both parked bands → the latch
      // fills. Band 3 answered empty in batch 1, so its new point (90, 1),
      // which nothing dominates, is not part of the answer.
      data(mkLines(Seq((20L, 5.0, 5.0), (21L, 90.0, 1.0), (22L, 60.0, 20.0))))
      q.processAllAvailable()
      val rs = results("park_out")
      assert(rs.length == 1)
      assert(rs.head.queryId == "1" && rs.head.recordCount == "20")
      assert(rs.head.skylineSize == 1)   // (5,5) dominates every other answer
      // band 0 keeps its 1 local point, band 2 none of its 2, bands 1/3 are empty
      assert(rs.head.optimality == 0.25)
    }
  }

  test("bare trigger payload (no comma) fires immediately; empty partitions answer") {
    withTopology("bare_out", "mr-dim", DOMAIN) { (_, trigger, q) =>
      trigger("9")
      q.processAllAvailable()
      val rs = results("bare_out")
      // all N partitions answered at once (the latch filled) with nothing
      assert(rs.length == 1)
      assert(rs.head.queryId == "9" && rs.head.recordCount == "unknown")
      assert(rs.head.skylineSize == 0 && rs.head.optimality == 0.0)
    }
  }

  test("streaming result equals batch skyline across strategies") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val pts = Seq.tabulate(800)(i =>
      (i.toLong, rng.nextInt(80).toDouble, rng.nextInt(80).toDouble))
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val res = SkylineStream.runBatch(spark, spark.createDataset(mkLines(pts)),
        Seq("q,700"), strategy, 80.0, N)
      assert(res.length == 1, strategy)
      assert(res.head.skylineSize == bruteSize(pts), strategy)
    }
  }

  test("batch run and streaming topology agree on size and optimality") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val base = Seq.tabulate(300)(i =>
      (i.toLong, rng.nextInt(40).toDouble, rng.nextInt(40).toDouble))
    // every skyline point and every fifth point again under new ids:
    // duplicates of skyline points all survive, in both shells
    val sky = base.filter(t =>
      !base.exists(u => Dominance.dominates(Array(u._2, u._3), Array(t._2, t._3))))
    val pts = base ++ (sky ++ base.filter(_._1 % 5 == 0)).zipWithIndex
      .map { case ((_, a, b), i) => (1000L + i, a, b) }
    assert(bruteSize(pts) >= 2 * sky.size)
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val batch = SkylineStream.runBatch(spark, spark.createDataset(mkLines(pts)),
        Seq("d,0"), strategy, 40.0, N)
      assert(batch.length == 1, strategy)
      withTopology(s"diff_${strategy.replace('-', '_')}", strategy, 40.0) {
        (data, trigger, q) =>
          data(mkLines(pts))
          trigger("d,0")
          q.processAllAvailable()
          val rs = results(s"diff_${strategy.replace('-', '_')}")
          assert(rs.length == 1, strategy)
          assert(rs.head.skylineSize == batch.head.skylineSize, strategy)
          assert(rs.head.skylineSize == bruteSize(pts), strategy)
          assert(rs.head.optimality == batch.head.optimality, strategy)
      }
    }
  }

  test("metrics JSON escapes the payload's query id and record count") {
    def json(queryId: String, count: String) =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(QueryResult(queryId, count, 0, 0.0, 0L, 0L, 0L, 0L).toJson)
    val node = json("q\"1\\x\t", "5\"")
    assert(node.get("query_id").asText == "q\"1\\x\t")
    assert(node.get("record_count").asText == "5\"")
    // a numeric count stays a bare JSON number
    assert(json("7", "42").get("record_count").isInt)
  }
}
