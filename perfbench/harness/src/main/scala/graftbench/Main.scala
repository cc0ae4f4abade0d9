package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark harness for one workload: set up a session [[Main.Setups]] times,
  * run a cold pass (results written as parquet for the correctness check),
  * then at least [[Main.WarmPasses]] warm passes (noop sink) and more until
  * the measuring time is spent, each pass in a seed-shuffled order. Writes
  * `result.json`; with tracing on, also the spans file `spans.jsonl`.
  *
  * Everything is timed from outside the engine: around calls into
  * `GraftSession.local`, `Tables.registerAll` and `SparkEntry.queries`, plus
  * Spark's public listeners (see [[Tracer]]).
  *
  * Usage: `graftbench.Main --workload <name> --queries q1,q2 --modules q1=m1,...
  *   --seed <n> --seconds <s> --trace <0|1> --slots <n> --fixtures <dir> --out <dir>`,
  * or `graftbench.Main --dump-oracles <file>`.
  */
object Main {

  /** Set-ups per run. Only the first is cold (timed from JVM start); the
    * later ones stop the session and start a new one in the same JVM.
    */
  val Setups = 3
  /** Fewest warm passes per run; a traced run has at least four (see `run`). */
  val WarmPasses = 2

  final case class Opts(workload: String, queries: Seq[String], modules: Map[String, String],
                        seed: Long, seconds: Double, trace: Boolean, slots: Int,
                        fixtures: String, out: String)

  final case class QueryRun(name: String, buildS: Double, executeS: Double, wallS: Double,
                            error: Option[String])

  final case class PassRun(index: Int, kind: String, traced: Boolean, wallS: Double,
                           gcS: Double, queries: Seq[QueryRun])

  final case class Setup(totalS: Double, createS: Double, registerS: Double)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracles") match {
      case Some(file) =>
        val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n")
        Files.write(Paths.get(file), body.getBytes(StandardCharsets.UTF_8))
      case None => run(parse(kv))
    }
  }

  private def parse(kv: Map[String, String]): Opts = Opts(
    workload = kv("workload"),
    queries = kv("queries").split(",").toSeq.filter(_.nonEmpty),
    modules = kv.getOrElse("modules", "").split(",").toSeq.filter(_.contains("="))
      .map { p => val Array(q, m) = p.split("=", 2); q -> m }.toMap,
    seed = kv("seed").toLong,
    seconds = kv("seconds").toDouble,
    trace = kv.getOrElse("trace", "0") == "1",
    slots = kv("slots").toInt,
    fixtures = kv("fixtures"),
    out = kv("out"))

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def run(o: Opts): Unit = {
    val unknown = o.queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(o.out, "results"))
    val tracer = new Tracer
    val runSpan = tracer.open("run", "bench", None, Clock.nowUs())

    // ---- set-up, repeated: the first is timed from JVM start ----
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val setups = ArrayBuffer.empty[Setup]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val t0 = Clock.nowUs()
      val startUs = if (i == 0) jvmStartUs else t0
      val span = tracer.open("session.setup", "session", Some(runSpan), startUs)
      if (i == 0) tracer.close(tracer.open("jvm.start", "jvm", Some(span), jvmStartUs), t0)
      spark = graft.GraftSession.local(o.slots.toString, "perfbench")
      val t1 = Clock.nowUs()
      graft.Tables.registerAll(spark, o.fixtures)
      val t2 = Clock.nowUs()
      tracer.close(tracer.open("session.create", "session", Some(span), t0), t1)
      tracer.close(tracer.open("session.register", "session", Some(span), t1), t2)
      tracer.close(span, t2)
      setups += Setup((t2 - startUs) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
      if (i < Setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val sc = spark.sparkContext
    val builders = graft.SparkEntry.queries
    val rnd = new Random(o.seed)

    def runQuery(pass: Int, passSpan: Long, q: String, sink: Option[String]): QueryRun = {
      val qid = s"$pass/$q"
      sc.setJobGroup(qid, s"perfbench $qid", interruptOnCancel = false)
      sc.setLocalProperty(Tracer.QidKey, qid)
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = Clock.nowUs()
      var t1 = -1L
      val error =
        try {
          val df = builders(q)(spark, o.fixtures)
          t1 = Clock.nowUs()
          sc.setLocalProperty(Tracer.PhaseKey, "execute")
          sink match {
            case Some(dir) => df.write.mode("overwrite").parquet(dir)
            case None => df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch {
          case e: Exception =>
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val t2 = Clock.nowUs()
      if (t1 < 0) t1 = t2
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.QidKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      val qs = tracer.open("query", "bench", Some(passSpan), t0, qid = qid, module = o.modules.get(q))
      tracer.close(tracer.open("queries.build", "queries", Some(qs), t0, qid = qid), t1)
      tracer.close(tracer.open("queries.execute", "spark", Some(qs), t1, qid = qid), t2)
      tracer.close(qs, t2)
      error.foreach(e => System.err.println(s"[perfbench] FAILED $qid: $e"))
      QueryRun(q, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t2 - t0) / 1e6, error)
    }

    def runPass(index: Int, kind: String, traced: Boolean): PassRun = {
      val cold = kind == "cold"
      if (traced) tracer.attach(spark)
      val gc0 = gcMillis()
      val t0 = Clock.nowUs()
      val span = tracer.open("pass", "bench", Some(runSpan), t0, pass = Some(index))
      val order = rnd.shuffle(o.queries)
      val runs = order.map { q =>
        runQuery(index, span, q, if (cold) Some(Paths.get(o.out, "results", q).toString) else None)
      }
      val t1 = Clock.nowUs()
      tracer.close(span, t1)
      val gcS = (gcMillis() - gc0) / 1e3
      if (traced) tracer.detach(spark)
      System.err.println(f"[perfbench] pass $index $kind${if (traced) " traced" else ""} " +
        f"${(t1 - t0) / 1e6}%.3f s")
      PassRun(index, kind, traced, (t1 - t0) / 1e6, gcS, runs)
    }

    // ---- cold pass, then warm passes until both the fewest passes have run
    // and the measuring time is spent; every warm pass counts in the metrics.
    // With tracing on, warm passes run untraced/traced in the order U T T U,
    // so the tracing overhead is a paired difference inside one JVM that
    // later (warmer) passes do not favour. ----
    val codegen0 = Codegen.snapshot()
    val passes = ArrayBuffer(runPass(0, "cold", o.trace))
    val codegenCold = Codegen.snapshot().minus(codegen0)
    val measureStart = System.nanoTime()
    val fewest = if (o.trace) 4 else WarmPasses
    def spent: Boolean = (System.nanoTime() - measureStart) / 1e9 >= o.seconds
    while (passes.size - 1 < fewest || !spent) {
      val traced = o.trace && Seq(1, 2).contains((passes.size - 1) % 4)
      passes += runPass(passes.size, "warm", traced)
    }
    val measuredS = (System.nanoTime() - measureStart) / 1e9

    // ---- live heap after full GCs, with the session and its caches alive.
    // Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    // thread, only after a GC has cleared their driver-side references; the
    // pauses let it run, so the reading does not depend on its timing. ----
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    tracer.close(runSpan, Clock.nowUs())
    spark.stop()

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Json.obj(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "slots" -> o.slots.toString,
      "trace" -> o.trace.toString,
      "measured_s" -> Json.num(measuredS),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "jvm" -> Json.str(s"${rt.getVmName} ${rt.getVmVersion}"),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "heap_after_gc_mb" -> Json.num(heapMb),
      "codegen_cold" -> codegenCold.json,
      "setups" -> Json.arr(setups.map(s => Json.obj(
        "total_s" -> Json.num(s.totalS), "create_s" -> Json.num(s.createS),
        "register_s" -> Json.num(s.registerS)))),
      "passes" -> Json.arr(passes.map(p => Json.obj(
        "index" -> p.index.toString, "kind" -> Json.str(p.kind), "traced" -> p.traced.toString,
        "wall_s" -> Json.num(p.wallS), "gc_s" -> Json.num(p.gcS),
        "queries" -> Json.arr(p.queries.map(r => Json.obj(
          "name" -> Json.str(r.name), "build_s" -> Json.num(r.buildS),
          "execute_s" -> Json.num(r.executeS), "wall_s" -> Json.num(r.wallS),
          "error" -> r.error.map(Json.str).getOrElse("null"))))))))
    Files.write(Paths.get(o.out, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    if (o.trace) tracer.write(Paths.get(o.out, "spans.jsonl"))
  }
}

/** Wall clock in epoch microseconds, read through `nanoTime` so spans taken by
  * the harness have sub-millisecond resolution and never step backwards.
  */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Deltas of Spark's whole-stage codegen compile histogram. The histogram's
  * reservoir keeps every sample until it holds 1028, so the sum of its values
  * is exact below that; `exact` says whether it was.
  */
final case class Codegen(count: Long, sumMs: Double) {
  def minus(o: Codegen): Codegen = Codegen(count - o.count, sumMs - o.sumMs)
  def json: String = Json.obj("compiles" -> count.toString, "sum_ms" -> Json.num(sumMs),
    "exact" -> (count <= 1028).toString)
}

object Codegen {
  def snapshot(): Codegen = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Codegen(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
}

/** Minimal JSON writer: values are passed pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
