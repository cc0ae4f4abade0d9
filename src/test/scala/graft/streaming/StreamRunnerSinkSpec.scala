package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins where `StreamRunner.replayFiles` keeps its result and whose conf it
  * runs under: the rows stay in checkpointed executor blocks that only the
  * returned frame references (no temp view, freed once the frame is
  * dropped), the frame carries the emitted row count as its statistics, and
  * the replay's settings live on a session clone, never on the caller's conf.
  */
class StreamRunnerSinkSpec extends SparkSpec {

  import spark.implicits._

  private def events(n: Int): DataFrame =
    (1 to n).map(i => (new Timestamp(1700000000000L + i * 1000L), i.toLong % 5, i.toLong))
      .toDF("ts", "k", "v")

  private def dedup(df: DataFrame): DataFrame =
    df.withWatermark("ts", "1 hour").dropDuplicates("k")

  test("a replay registers no temp view in the caller's catalog") {
    val out = StreamRunner.replayFiles(spark, events(20), "ts", "append")(dedup)
    assert(out.count() === 5L)
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_freplay_"))
    assert(views.isEmpty, s"replay left views behind: ${views.mkString(", ")}")
  }

  test("the result frame's row-count statistic is the number of emitted rows") {
    val out = StreamRunner.replayFiles(spark, events(30), "ts", "update") { df =>
      df.withWatermark("ts", "1 hour").groupBy($"k").agg(count(lit(1)).as("n"))
    }
    val emitted = out.count()
    assert(emitted >= 5L)
    assert(out.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(emitted)))
  }

  /** Ids of the persisted RDDs, copied out: a key set of `getPersistentRDDs`
    * is a view over the map and would itself keep the RDDs reachable.
    */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Runs a replay, reads its result, and returns only the ids of the RDDs
    * the replay persisted — no reference to the frame escapes.
    */
  private def replayAndDrop(): Set[Int] = {
    val before = persistedIds
    val out = StreamRunner.replayFiles(spark, events(40), "ts", "append")(dedup)
    assert(out.collect().length === 5)
    persistedIds -- before
  }

  test("a dropped result frame's checkpoint blocks are freed") {
    val ids = replayAndDrop()
    assert(ids.nonEmpty, "the replay persisted no RDD — where do its rows live?")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def live = persistedIds.intersect(ids)
    while (live.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(live.isEmpty, s"RDDs ${live.mkString(", ")} still persisted after the frame was dropped")
  }

  test("complete output mode is rejected") {
    val e = intercept[IllegalArgumentException] {
      StreamRunner.replayFiles(spark, events(10), "ts", "complete") { df =>
        df.groupBy($"k").count()
      }
    }
    assert(e.getMessage.contains("complete"))
  }

  test("a replay leaves the caller's conf as the transform left it") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      val out = StreamRunner.replayFiles(spark, events(20), "ts", "append") { df =>
        spark.conf.set(key, "7")
        dedup(df)
      }
      assert(out.count() === 5L)
      assert(spark.conf.get(key) === "7", "the replay overwrote the caller's conf")
    } finally spark.conf.set(key, prev)
  }
}
