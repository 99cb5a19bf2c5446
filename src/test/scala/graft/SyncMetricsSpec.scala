package graft

import graft.jobs.SyncMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Prometheus text exposition of the metrics registry: format shape, label
  * rendering, and a counter round-trip through the HTTP endpoint.
  */
class SyncMetricsSpec extends AnyFunSuite {

  test("exposition renders typed families, labeled counters, and gauges") {
    val m = new SyncMetrics
    m.inc(SyncMetrics.TableSyncSuccess)
    m.inc(SyncMetrics.TableSyncSuccess)
    m.inc(SyncMetrics.TableMetadataProcessingFailure, "NO_SUCH_KEY")
    m.inc(SyncMetrics.TableMetadataProcessingFailure, "RATE_LIMITING")
    m.tablesDiscoveredGauge.set(7)
    m.discoveryDurationMsGauge.set(42)
    val text = m.prometheus
    val lines = text.split("\n").toSeq
    // each family has exactly one TYPE line, before its samples
    assert(lines.contains(s"# TYPE ${SyncMetrics.TableSyncSuccess} counter"))
    assert(lines.contains(s"${SyncMetrics.TableSyncSuccess} 2"))
    assert(lines.contains(
      s"# TYPE ${SyncMetrics.TableMetadataProcessingFailure} counter"))
    assert(lines.contains(
      s"""${SyncMetrics.TableMetadataProcessingFailure}{reason="NO_SUCH_KEY"} 1"""))
    assert(lines.contains(
      s"""${SyncMetrics.TableMetadataProcessingFailure}{reason="RATE_LIMITING"} 1"""))
    assert(lines.count(_ == s"# TYPE ${SyncMetrics.TableMetadataProcessingFailure} counter") == 1)
    assert(lines.contains(s"# TYPE ${SyncMetrics.TablesDiscoveredGauge} gauge"))
    assert(lines.contains(s"${SyncMetrics.TablesDiscoveredGauge} 7"))
    assert(lines.contains(s"${SyncMetrics.TablesProcessedGauge} 0"))
    assert(lines.contains(s"# TYPE ${SyncMetrics.TableDiscoveryDurationMs} gauge"))
    assert(lines.contains(s"${SyncMetrics.TableDiscoveryDurationMs} 42"))
    assert(m.snapshot(SyncMetrics.TableDiscoveryDurationMs) == 42)
    // every sample line parses as "name{labels}? value"
    lines.filterNot(_.startsWith("#")).filter(_.nonEmpty).foreach { l =>
      assert(l.matches("""[A-Za-z_][A-Za-z0-9_]*(\{reason="[A-Z_]+"\})? \d+"""), l)
    }
  }

  test("counter round-trips through the /metrics HTTP endpoint") {
    val m = new SyncMetrics
    m.inc(SyncMetrics.MetadataUploadSuccess)
    val srv = m.serve(0)
    try {
      val port = srv.getAddress.getPort
      val url = java.net.URI.create(s"http://127.0.0.1:$port/metrics").toURL
      def fetch(): String = {
        val in = url.openStream()
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      assert(fetch().contains(s"${SyncMetrics.MetadataUploadSuccess} 1"))
      // the endpoint reads live state: a later increment is visible
      m.inc(SyncMetrics.MetadataUploadSuccess)
      assert(fetch().contains(s"${SyncMetrics.MetadataUploadSuccess} 2"))
    } finally srv.stop(0)
  }
}
