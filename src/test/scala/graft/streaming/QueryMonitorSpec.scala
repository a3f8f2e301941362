package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class QueryMonitorSpec extends SparkSpec {
  import spark.implicits._

  test("monitor observes batch progress, rows, and staleness") {
    val monitor = new QueryMonitor().attach(spark)
    try {
      val input = MemoryStream[Int](spark)
      input.addData(1 to 100: _*)
      val q = input.toDS().writeStream
        .format("memory").queryName("monitored")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      // listener events are async; give the bus a moment
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && monitor.totalRows < 100)
        Thread.sleep(100)
      assert(monitor.totalRows === 100L)
      assert(monitor.batches.nonEmpty)
      assert(monitor.batches.forall(_.queryName == "monitored"))
      assert(monitor.stalenessMs < 60000)
    } finally monitor.detach(spark)
  }

  test("ring keeps the last Capacity batches; totals count every batch") {
    val monitor = new QueryMonitor
    val n = QueryMonitor.Capacity + 300
    (0 until n).foreach { i =>
      monitor.record(monitor.BatchProgress("ring", i.toLong, numInputRows = 2,
        processedRowsPerSecond = 1.0, durationMs = 5, timestamp = i.toLong,
        droppedByWatermark = i % 2))
    }
    assert(monitor.batches.size === QueryMonitor.Capacity)
    assert(monitor.batches.map(_.batchId) ===
      (n - QueryMonitor.Capacity until n).map(_.toLong))
    assert(monitor.totalRows === 2L * n)
    assert(monitor.totalDroppedByWatermark === (0 until n).map(_ % 2).sum.toLong)
  }
}
