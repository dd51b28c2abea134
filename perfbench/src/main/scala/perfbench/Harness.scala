package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.PerfbenchHooks

/** One finished op: a call into a public graft function plus the action
  * that forces its result. `kind` is read, write, batch (a micro-batch) or
  * control (stream start-up, cleanup, advisor calls).
  */
final case class OpRec(pass: Int, name: String, kind: String, seconds: Double,
    error: Option[String])

/** What a workload's ops run against. */
final class Ctx(val spark: SparkSession, val data: String, val work: File,
    val tracer: Tracer, val cores: Int) {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  private var seq = 0
  /** Rows handled per functions-kernel span name, for the rows/s metrics. */
  val kernelRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Last-seen values of counters a workload reads from the program. */
  val gauges = mutable.Map.empty[String, Double]
  /** True in the untimed warm-up pass, whose ops also keep their outputs
    * (under `checkDir` or in memory) for the output checks.
    */
  var checking = false
  val checkDir = new File(work, "check")

  /** Runs one op in a closed loop: tagged, timed, and recorded. An op that
    * throws is recorded as failed and the loop goes on.
    */
  def op(name: String, kind: String)(body: => Unit): Unit = {
    seq += 1
    val tag = s"${Tags.Prefix}$seq-$name"
    Tags.set(spark.sparkContext, tag)
    val t0 = System.nanoTime()
    val err =
      try { tracer.forOp(seq, name)(body); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally Tags.set(spark.sparkContext, null)
    val rec = OpRec(pass, name, kind, (System.nanoTime() - t0) / 1e9, err)
    recs += rec
    System.err.println(f"[perfbench] ${Harness.uptime}%.1f pass $pass%d op $name%s ${rec.seconds}%.3f s" +
      err.map(" FAILED " + _).getOrElse(""))
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The job tag of the op now running on the driver thread. */
  def currentTag: String =
    spark.sparkContext.getJobTags().find(_.startsWith(Tags.Prefix)).orNull
}

trait Workload {
  /** Per-session state the ops need (indexes, cached inputs). */
  def setup(ctx: Ctx): Unit = ()
  /** One pass over the workload's fixed op list. */
  def pass(ctx: Ctx): Unit
  /** Failures found by comparing the outputs the checking pass kept with an
    * independent computation. Registry results are compared with the
    * DuckDB oracle by the runner.
    */
  def check(ctx: Ctx): Seq[(String, String)]
  def teardown(ctx: Ctx): Unit = ()
  def registryOps: Seq[String]
  /** Timed passes a run makes even when one pass outlasts `seconds`. */
  def minPasses: Int = 1
}

/** perfbench JVM entry point.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *   <cores> <outJson>
  *
  * Sets up the session and the workload three times (the first from JVM
  * start), runs one untimed warm-up pass that keeps the ops' outputs and
  * then timed passes for `seconds`, checks the outputs, and writes the raw
  * measurements to `outJson`.
  */
object Harness {
  val Setups = 3

  def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] $uptime%.1f $name")

  def session(work: File, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    if (trace) {
      b.config("spark.sql.queryExecutionListeners", classOf[SqlListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[StreamListener].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, data, workDir, secondsArg, traceArg, coresArg, outJson) = args
    val work = new File(workDir)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer
    val wl = Workloads(wlName)

    // Set-up, three times (the first from JVM start): session, workload
    // state, and its first registry op. Then one untimed warm-up pass that
    // also keeps every op's output for the checks.
    val setups = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (k <- 1 to Setups) {
      val t0 = if (k == 1) jvmStartMs * 1e6 else System.currentTimeMillis() * 1e6
      val spark = session(work, cores, trace)
      ctx = new Ctx(spark, data, work, tracer, cores)
      wl.setup(ctx)
      ctx.pass = 0
      Workloads.registryOp(ctx, wl.registryOps.head)
      setups += (System.currentTimeMillis() * 1e6 - t0) / 1e9
      if (k < Setups) {
        wl.teardown(ctx)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    phase("checking pass")
    ctx.checking = true
    wl.pass(ctx)
    ctx.checking = false
    val warmupFailures = ctx.recs.filter(_.error.nonEmpty).map(r => r.name -> r.error.get).toList
    ctx.recs.clear()
    val spark = ctx.spark
    val sc = spark.sparkContext

    val tasks = new TaskListener
    if (trace) sc.addSparkListener(tasks)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcNow: (Long, Long) =
      (gcBeans.map(_.getCollectionCount).sum, gcBeans.map(_.getCollectionTime).sum)
    val mem = ManagementFactory.getMemoryMXBean
    final case class PassRec(traced: Boolean, seconds: Double, heapMb: Double,
        layers: Map[String, Double], conservation: Option[String])
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // A traced run spends its first half untraced, for the overhead figure.
    val tracedFrom = if (trace) seconds / 2 else Double.MaxValue
    System.gc()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var p = 0
    while (p < wl.minPasses || elapsed < seconds || (trace && !passes.exists(_.traced))) {
      p += 1
      val traced = trace && elapsed >= tracedFrom
      tracer.on = traced; tasks.on = traced; Sinks.on = traced
      val spanMark = tracer.lastId
      val before = snapshot(tasks)
      val kernelBefore = ctx.kernelRows.toMap
      val (gc0, gcT0) = gcNow
      ctx.pass = p
      val (tries0, hits0) = (PerfbenchHooks.prefilterAttempts, PerfbenchHooks.prefilterHits)
      val t0 = System.nanoTime()
      wl.pass(ctx)
      val wall = (System.nanoTime() - t0) / 1e9
      val tries = PerfbenchHooks.prefilterAttempts - tries0
      ctx.gauges("operators.prefilter_hit_ratio") =
        if (tries > 0) (PerfbenchHooks.prefilterHits - hits0).toDouble / tries else 0.0
      val (gc1, gcT1) = gcNow
      PerfbenchBus.drain(sc)
      tracer.on = false; tasks.on = false; Sinks.on = false
      val layers = if (traced) {
        val after = snapshot(tasks)
        Layers.forPass(ctx, wall, tracer.selfSeconds(spanMark), before, after,
          ctx.kernelRows.toMap.map { case (k, v) => k -> (v - kernelBefore.getOrElse(k, 0L)) })
      } else Map.empty[String, Double]
      val cons = if (traced) Layers.conservation(before, snapshot(tasks)) else None
      // Live heap: what a full GC after the pass leaves. Every timed pass
      // starts after one, the first included.
      System.gc()
      passes += PassRec(traced, wall, mem.getHeapMemoryUsage.getUsed / 1048576.0,
        layers ++ Map("jvm.gc_s" -> (gcT1 - gcT0) / 1000.0,
          "jvm.gc_count" -> (gc1 - gc0).toDouble),
        cons)
    }
    phase("timed passes done")
    val timedRecs = ctx.recs.toList
    ctx.recs.clear()

    val checkFailures =
      try wl.check(ctx)
      catch { case e: Throwable => Seq("check" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    wl.teardown(ctx)
    val checkDir = ctx.checkDir
    val oracle = graft.SparkEntry.oracleSql
    checkDir.mkdirs()
    Files.write(new File(checkDir, "oracle_sql.json").toPath,
      Json.obj(wl.registryOps.filter(oracle.contains)
        .map(n => n -> Json.str(oracle(n))): _*).getBytes("UTF-8"))

    val streamPhases = Sinks.synchronized(Sinks.batchPhases.toList)
    val json = Json.obj(
      "workload" -> Json.str(wlName),
      "cores" -> Json.num(cores),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "registry_ops" -> Json.arr(wl.registryOps.map(Json.str)),
      "ops" -> Json.arr(timedRecs.map(r => Json.obj(
        "pass" -> Json.num(r.pass), "name" -> Json.str(r.name),
        "kind" -> Json.str(r.kind), "s" -> Json.num(r.seconds),
        "error" -> r.error.map(Json.str).getOrElse("null")))),
      "warmup_failures" -> failuresJson(warmupFailures),
      "check_failures" -> failuresJson(checkFailures),
      "passes" -> Json.arr(passes.map(r => Json.obj(
        "traced" -> r.traced.toString, "s" -> Json.num(r.seconds),
        "heap_mb" -> Json.num(r.heapMb),
        "conservation" -> r.conservation.map(Json.str).getOrElse("null"),
        "layers" -> Json.obj(r.layers.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Json.num(v) }: _*)))),
      "stream_batches" -> Json.arr(streamPhases.map(m =>
        Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))),
      "spans" -> Json.num(tracer.spans.size))
    Files.write(Paths.get(outJson), json.getBytes("UTF-8"))
    if (trace) writeSpans(tracer, new File(work, "spans.jsonl"))
    phase("results written")
    spark.stop()
    phase("session stopped")
  }

  private def failuresJson(fs: Seq[(String, String)]): String =
    Json.arr(fs.map { case (op, why) =>
      Json.obj("op" -> Json.str(op), "reason" -> Json.str(why)) })

  private def writeSpans(t: Tracer, f: File): Unit = {
    val lines = t.spans.map(s => Json.obj("id" -> Json.num(s.id),
      "name" -> Json.str(s.name), "op" -> Json.num(s.opId),
      "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.startNs),
      "end_ns" -> Json.num(s.endNs)))
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Copies of the task listener's totals at a pass boundary. */
  final case class Snap(tagged: TaskTotals, untagged: TaskTotals,
      stage: TaskTotals, jobs: Long, stages: Long, retries: Long,
      failures: Long, catalystMs: Long, scanBytes: Long, scanRows: Long,
      scanMs: Long)

  def snapshot(l: TaskListener): Snap = l.synchronized {
    Sinks.synchronized {
      Snap(l.tagged, l.untagged, l.stageTotals.plus(new TaskTotals), l.jobs,
        l.stages, l.stageRetries, l.taskFailures, Sinks.catalystMs,
        Sinks.scanBytes, Sinks.scanRows, Sinks.scanMs)
    }
  }
}

/** Minimal JSON writer for the harness output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
