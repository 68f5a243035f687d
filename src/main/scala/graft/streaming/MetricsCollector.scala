package graft.streaming

import java.nio.file.{Files, Path, StandardOpenOption}

import graft.core.Barrier.QueryResult

/** G5: metrics-collector sink parity — one CSV row per completed query,
  * appended to a single file with the reference collector's 10-column header
  * (`python/metrics_collector.py:56-123`, FIXTURES.md §4).
  *
  * Column notes mirroring the reference:
  *  - `Latency(ms)` is computed but never emitted by the engine
  *    (`FlinkSkyline.java:588`), so the collector defaults it to 0
  *    (`metrics_collector.py:101`).
  *  - `SkylinePoints` is optional and disabled by default
  *    (`FlinkSkyline.java:610-623`); disabled → empty cell. */
object MetricsCollector {

  val Header: String =
    "QueryID,Records,SkylineSize,Optimality,IngestTime(ms)," +
      "LocalTime(ms),GlobalTime(ms),TotalTime(ms),Latency(ms),SkylinePoints"

  /** The CSV row for one completed query (10 columns, header order).
    * Locale.ROOT: a comma-decimal default locale would turn the optimality
    * cell into two cells and break the 10-column format. */
  def row(r: QueryResult, latencyMs: Long = 0L, skylinePoints: String = ""): String =
    s"${r.queryId},${r.recordCount},${r.skylineSize}," +
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(r.optimality)) +
      s",${r.ingestionTimeMs},${r.localProcessingTimeMs}," +
      s"${r.globalProcessingTimeMs},${r.totalProcessingTimeMs}," +
      s"$latencyMs,$skylinePoints"

  /** Append one query's row, writing the header first when the file is new.
    * Synchronized: foreachBatch sinks may append from concurrent batches. */
  def append(path: Path, r: QueryResult, latencyMs: Long = 0L,
             skylinePoints: String = ""): Unit = synchronized {
    if (path.getParent != null) Files.createDirectories(path.getParent)
    if (!Files.exists(path))
      Files.writeString(path, Header + "\n", StandardOpenOption.CREATE)
    Files.writeString(path, row(r, latencyMs, skylinePoints) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
