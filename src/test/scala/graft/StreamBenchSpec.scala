package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamBench

class StreamBenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fan-out throughput bench: 3 sinks complete, drop ratio bounded by the late ratio") {
    // one file per micro-batch forces watermark advancement between
    // batches — the arrival pattern under which late events can
    // actually be dropped
    val r = StreamBench.run(spark, totalEvents = 6000, chunks = 6)
    assert(r.bronzeRows + r.quarantineRows == r.nEvents,
      s"every event lands in bronze or quarantine: ${r.bronzeRows}+${r.quarantineRows} != ${r.nEvents}")
    assert(r.quarantineRows > 0, "invalid_burst scenario rows must be quarantined")
    assert(r.goldRows > 0, "gold MERGE must produce windowed rows")
    // only generated-late rows can be beyond-watermark: the observed
    // drop ratio can never exceed the configured late ratio
    assert(r.dropRatio <= r.lateRatioConfigured,
      s"drop ratio ${r.dropRatio} exceeds configured late ratio ${r.lateRatioConfigured}")
    // the engine must comfortably beat the reference generator's
    // 120 ev/s SLO rate even in chunked (watermark-advancing) mode
    assert(r.eventsPerSec > 120.0, s"throughput ${r.eventsPerSec} ev/s below the SLO rate")
    assert(r.nBatches >= 6, s"per-chunk processing must yield >= 6 micro-batches, got ${r.nBatches}")
  }

  test("state-scale leg: watermark eviction BOUNDS state across 3+ horizons at 10x keys") {
    // 12,000 events over ~1000s of event time at 200 distinct videos
    // (≈ 10x the throughput leg's 5-video registry and ~40x its key
    // cardinality at the (video, window) state grain). The watermark
    // horizon is ~3 min (2-min watermark + 1-min window), so the
    // stream spans 5+ horizons; per-file batching advances the
    // watermark chunk by chunk. If eviction works, state-store rows
    // PLATEAU at horizon content; if state leaked, the final third of
    // batches would carry ~3x the middle third (cumulative growth).
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val jsons = (0 until 12000).map { i =>
      val ts = base.plusMillis(i.toLong * 1000L / 12L) // 12 ev/s of event time
      val vid = s"vid_${i % 200}"
      s"""{"event_id":"ev_$i","event_timestamp":"$ts","video_id":"$vid","user_id":"u_${i % 50}","event_type":"view","schema_version":"m1_v1","payload_json":"{\\"watch_time_ms\\":100,\\"scenario_id\\":\\"scale\\"}"}"""
    }
    val r = graft.streaming.StreamBench.runRaw(TestSpark.spark, jsons, chunks = 12,
      totalEvents = 12000, lateRatioConfigured = 0.0)
    assert(r.bronzeRows == 12000 && r.quarantineRows == 0, s"clean stream: $r")
    val rows = r.stateRowsPerBatch.filter(_ > 0)
    info(s"state rows per stateful batch: ${rows.mkString(", ")}")
    assert(rows.length >= 9, s"need enough stateful batches to see the plateau: $rows")
    val n = rows.length
    val mid = rows.slice(n / 3, 2 * n / 3).max
    val last = rows.slice(2 * n / 3, n).max
    assert(last <= mid * 13 / 10 + 16,
      s"state keeps growing after the horizon filled (mid=$mid last=$last): $rows")
    // cumulative (no-eviction) state would be ~all 12k dedup keys
    assert(rows.max < 12000, s"state must never hold the whole history: max=${rows.max}")
    // memory metric is reported and tracks the same bound
    assert(r.stateMemPerBatch.nonEmpty && r.stateMemPerBatch.max > 0)
  }
}
