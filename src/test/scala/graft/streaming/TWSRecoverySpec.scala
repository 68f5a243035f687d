package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** Fault tolerance of the CHAINED transformWithState topology: both stages'
  * RocksDB state (local antichain + barrier, global merge + latch) must
  * survive a restart from the checkpoint, and a query parked before the
  * stop must complete after it, with run-1 points in its answer. */
class TWSRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("chained TWS query completes a parked query after restart") {
    import spark.implicits._
    val n = 2
    val dataDir = Files.createTempDirectory("tws-data").toString
    val trigDir = Files.createTempDirectory("tws-trig").toString
    val ckpt = Files.createTempDirectory("tws-state").toString
    val outDir = Files.createTempDirectory("tws-out").toString
    val pidOf = graft.operators.SkylineOps.pidFunction("mr-dim", 100.0, n)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def startQuery() = {
      val env = Sources.fileLines(spark, dataDir)
        .flatMap(l => SkylineStream.parseData(l, pidOf))
        .unionAll(Sources.fileLines(spark, trigDir)
          .flatMap(p => SkylineStream.broadcastTrigger(p, n, 1L)))
      SkylineStreamTWS.topology(env, n)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    }

    try {
      // run 1: two points in each slice (ids 0-3), a trigger needing
      // id >= 5 parks locally
      Files.writeString(java.nio.file.Paths.get(dataDir, "d1.csv"),
        "0,10.0,10.0\n1,40.0,4.0\n2,70.0,3.0\n3,95.0,1.0\n")
      val q1 = startQuery()
      q1.processAllAvailable()
      Files.writeString(java.nio.file.Paths.get(trigDir, "t1.txt"), "7,5\n")
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 0)   // parked in stage 1
      q1.stop()

      // run 2 (fresh query, same checkpoint): barrier-crossing data releases
      // the parked trigger; stage 2's latch fills across both partitions
      val q2 = startQuery()
      Files.writeString(java.nio.file.Paths.get(dataDir, "d2.csv"),
        "5,20.0,20.0\n6,60.0,2.0\n")
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir).collect()
      q2.stop()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[String]("queryId") == "7")
      // the answer needs both restored antichains: in slice 0 run 1's
      // (10,10) evicts run 2's (20,20); in slice 1 run 2's (60,2) evicts
      // run 1's (70,3). Global skyline {(10,10), (40,4), (60,2), (95,1)};
      // losing either slice's run-1 antichain would give 3.
      assert(r.getAs[Int]("skylineSize") == 4)
      assert(r.getAs[Double]("optimality") == 1.0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
