package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: run named STREAMING gate queries and print every micro-batch's
  * durationMs breakdown (triggerExecution / addBatch / getBatch / commitOffsets
  * / walCommit / queryPlanning / latestOffset) from the progress events — the
  * instrument for deciding whether replay time is compute (addBatch) or
  * per-batch machinery (planning, WAL, state commit). r19 optimization round.
  *
  * Usage: sbt "runMain graft.StreamPhaseProbe q94_stream_left_join ..."
  */
object StreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // a SparkListener, not spark.streams.addListener: replays run their
    // queries in session clones, whose progress events reach only the
    // context-wide listener bus
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent =>
          val p = e.progress
          val d = p.durationMs
          val states = Option(p.stateOperators).map(_.map(s =>
            s"commit=${s.allUpdatesTimeMs}/${s.commitTimeMs}ms rows=${s.numRowsTotal}")
            .mkString(" | ")).getOrElse("")
          System.err.println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=$d state: $states")
        case _ =>
      }
    })
    Bench.streamWarmup(spark)
    for (name <- args) {
      SparkEntry.queries.get(name).foreach { fn =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        System.err.println(f"[probe] $name total=${(System.nanoTime() - t0) / 1e9}%.2fs")
        pipeline.KeyedStore.clear()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
