package graft

import java.nio.file.{Files, Paths}

import graft.queries.Pipeline
import graft.tools.StreamBench

/** StreamBench's warm drains stand in for the streaming gates' steady state
  * (tools/bench_oracle.py reads them so): they must time the gates' own
  * queries, and each warm drain must read the redelivered input.
  */
class StreamBenchSpec extends SparkSpec {

  test("StreamBench drains the gates' own shapes, cold and warm, over real rows") {
    val py = Files.readString(Paths.get("tools/bench_oracle.py"))
    val start = py.indexOf("STREAMING_GATES = {")
    val block = py.substring(start, py.indexOf("}", start))
    val pairs = "\"(q\\d+\\w*)\":\\s*\"(\\w+)\"".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2)).toSeq
    assert(pairs.size == 19, pairs)
    val shapes = Pipeline.shapes.map(s => s.name -> s).toMap
    for ((gate, shape) <- pairs) {
      assert(SparkEntry.queries.contains(gate), gate)
      assert(shapes.get(shape).exists(_.gates.contains(gate)),
        s"$gate is not built from the $shape shape StreamBench runs")
    }
    assert(pairs.map(_._2).toSet == shapes.keySet,
      "a shape StreamBench times has no gate in STREAMING_GATES")

    // one stateful shape (under both providers) and one admission shape
    val r = StreamBench.run(spark, "/root/testdata/sf0.001",
      Seq(Pipeline.ingestDedup, Pipeline.censusAdmission))
    val expected = for {
      k <- Seq("ingest_dedup/hdfs", "ingest_dedup/rocksdb",
        "census_admission/rocksdb")
      pass <- Seq("cold", "warm")
    } yield s"$k/$pass"
    assert(r.timings.keys.toSeq == expected)
    assert(r.rows.keys.toSeq == expected)
    for (k <- expected) assert(r.rows(k) > 0, k)
  }
}
