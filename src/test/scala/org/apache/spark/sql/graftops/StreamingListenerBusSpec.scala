package org.apache.spark.sql.graftops

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.StreamRunner
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** A replay starts its query from a session clone, and Spark runs the
  * batches in a clone of that; each clone's StreamingQueryManager registers
  * a listener bus on the SparkContext that Spark never removes. The replay
  * must detach both, or every replay grows the context's listener list.
  * (Lives in Spark's package to read the private[spark] listener bus.)
  */
class StreamingListenerBusSpec extends SparkSpec {

  import spark.implicits._

  test("replays leave no streaming listener bus registered") {
    def buses = spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus].size
    val in = (1 to 20).map(i => (new Timestamp(1700000000000L + i * 1000L), i.toLong % 4))
      .toDF("ts", "k")
    val before = buses
    for (_ <- 1 to 3) {
      val out = StreamRunner.replayFiles(spark, in, "ts", "append")(
        _.withWatermark("ts", "1 hour").dropDuplicates("k"))
      assert(out.count() === 4L)
    }
    assert(buses === before)
  }
}
