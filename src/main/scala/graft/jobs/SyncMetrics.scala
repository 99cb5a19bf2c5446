package graft.jobs

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap

/** In-process metrics registry (G11/T7), mirroring the reference's metric
  * surface (`metrics/LakeViewExtractorMetrics.java:63-117`): counters keyed
  * by name + optional failure-reason tag, the two per-round gauges, and the
  * duration of the last completed table discovery. An exporter
  * (Prometheus, StatsD) would read [[snapshot]]; specs read it directly.
  */
final class SyncMetrics {
  private val counters = TrieMap.empty[(String, String), LongAdder]
  val tablesDiscoveredGauge = new AtomicLong(0)
  val tablesProcessedGauge = new AtomicLong(0)
  val discoveryDurationMsGauge = new AtomicLong(0)

  private def gauges: Seq[(String, Long)] = Seq(
    SyncMetrics.TablesDiscoveredGauge -> tablesDiscoveredGauge.get(),
    SyncMetrics.TablesProcessedGauge -> tablesProcessedGauge.get(),
    SyncMetrics.TableDiscoveryDurationMs -> discoveryDurationMsGauge.get())

  def inc(name: String, reasonTag: String = ""): Unit =
    counters.getOrElseUpdate((name, reasonTag), new LongAdder).increment()

  def count(name: String, reasonTag: String = ""): Long =
    counters.get((name, reasonTag)).map(_.sum()).getOrElse(0L)

  /** Counter totals keyed `name` or `name{reason=tag}`, plus the gauges. */
  def snapshot: Map[String, Long] =
    counters.readOnlySnapshot().map { case ((n, t), v) =>
      (if (t.isEmpty) n else s"$n{reason=$t}") -> v.sum()
    }.toMap ++ gauges

  /** Prometheus text exposition (format 0.0.4) of the registry — the
    * reference serves the same surface over HTTP
    * (`lakeview/src/main/java/ai/onehouse/metrics/Metrics.java:39-71`).
    * One `# TYPE` line per metric family, samples sorted for determinism,
    * reason tags as a quoted `reason` label.
    */
  def prometheus: String = {
    val counterLines = counters.readOnlySnapshot().toSeq
      .groupBy { case ((n, _), _) => n }
      .toSeq.sortBy(_._1)
      .flatMap { case (name, samples) =>
        s"# TYPE $name counter" +: samples
          .map { case ((_, tag), v) =>
            val lbl = if (tag.isEmpty) "" else s"""{reason="$tag"}"""
            s"$name$lbl ${v.sum()}"
          }.sorted
      }
    val gaugeLines = gauges.sortBy(_._1)
      .flatMap { case (n, v) => Seq(s"# TYPE $n gauge", s"$n $v") }
    (counterLines ++ gaugeLines).mkString("", "\n", "\n")
  }

  /** Serve [[prometheus]] at `http://localhost:<port>/metrics` on the JDK's
    * built-in HTTP server (the reference binds an HTTPServer the same way).
    * Pass port 0 for an ephemeral port; caller owns `stop()`. Returns the
    * started server (its address carries the bound port).
    */
  def serve(port: Int): com.sun.net.httpserver.HttpServer = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    srv.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = prometheus.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    srv
  }
}

object SyncMetrics {
  private val Prefix = "lakeView_"
  val TableDiscoverySuccess = Prefix + "table_discovery_success"
  val TableDiscoveryFailure = Prefix + "table_discovery_failure"
  val TableSyncSuccess = Prefix + "table_sync_success"
  val TableSyncFailure = Prefix + "table_sync_failure"
  val MetadataUploadSuccess = Prefix + "metadata_upload"
  val FailedOverrideConfig = Prefix + "failed_override_config"
  val TableMetadataProcessingFailure = Prefix + "table_metadata_processing_failure"
  val TablesDiscoveredGauge = Prefix + "tables_discovered"
  val TablesProcessedGauge = Prefix + "tables_processed"
  val TableDiscoveryDurationMs = Prefix + "table_discovery_duration_ms"

  /** Default registry used when callers don't supply one. */
  val global = new SyncMetrics
}
