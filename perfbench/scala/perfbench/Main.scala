package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** One timed operation of a pass. */
final case class OpRecord(name: String, kind: String, layer: String, pass: Int,
    s: Double, ok: Boolean, traced: Boolean)

/** Times operations, records failures, and opens a span per operation. */
final class Recorder(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val errors = mutable.LinkedHashMap.empty[String, String]
  /** Per-pass samples a workload measures itself (listings, compactions). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var pass = 0
  var traced = false

  /** Run one operation under span `span` (`<layer>.<what>`). */
  def op[T](name: String, span: String, kind: String)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(span)(f)) catch {
      case NonFatal(e) =>
        errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
    ops += OpRecord(name, kind, span.takeWhile(_ != '.'), pass, (System.nanoTime() - t0) / 1e9, r.isDefined, traced)
    r
  }

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(s"$pass/$metric", mutable.ArrayBuffer.empty) += v
}

/** A workload: what set-up, one pass, and the post-run result dump do. */
trait Workload {
  def warmup(spark: SparkSession): Unit
  /** Extra set-up after warm-up (the trickle base load); `rep` numbers it. */
  def prepare(spark: SparkSession, rep: Int): Unit = ()
  /** Untimed reset before each pass. */
  def beforePass(): Unit = ()
  def pass(spark: SparkSession, rec: Recorder, rng: scala.util.Random): Unit
  /** Outside the timed window: write what the checker compares. */
  def dump(spark: SparkSession, outDir: String): Map[String, String]
  /** Trace-only measurements made after the timed window. */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = Map.empty
  def records: Long
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** CPU time of the whole JVM (all threads); steal time does not count. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap the engine still holds once the memo caches are cleared. Full
    * collections repeat until the reading settles, so the listener bus and
    * Spark's cleaner thread (which drops broadcasts whose handles died)
    * have finished first.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    clearCaches()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def settle(): Double = {
      System.gc()
      System.runFinalization()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = Double.MaxValue
    var used = settle()
    var rounds = 1
    while (rounds < 8 && math.abs(used - last) > 0.25) {
      last = used
      used = settle()
      rounds += 1
    }
    used
  }

  def rssPeakMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.fold(0.0)(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
  }

  /** Collect a frame's rows and keep them with its schema for the dump. */
  def collect(df: DataFrame): (Array[Row], StructType) = (df.collect(), df.schema)

  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def clearCaches(): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.engine.Bucketing.clearCaches()
    graft.ops.TextAnalysis.clearCaches()
    graft.ops.Similarity.clearCaches()
    graft.ops.Quantization.clearCaches()
    graft.ops.IncrementalIvfPq.clearCaches()
  }

  def readParams(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])

  def workloadOf(params: Map[String, Any]): Workload = params("workload") match {
    case "ooh_extract" => new OohExtract(params)
    case "batch" => new QuerySet(params)
    case "trickle_ingest" => new TrickleIngest(params)
    case other => sys.error(s"unknown workload $other")
  }

  /** `Main <params.json>` runs one measurement. */
  def main(args: Array[String]): Unit = measure(readParams(args(0)))

  def measure(params: Map[String, Any]): Unit = {
    def p(k: String): Any = params.getOrElse(k, sys.error(s"params: missing $k"))
    val trace = p("trace") == true
    val cores = p("cores").toString.toInt
    val setups = p("setups").toString.toInt
    val out = p("out").toString
    val workload = workloadOf(params)

    // ---- set-up, repeated: session create + warm-up (+ base load)
    val setupRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (rep <- 1 to setups) {
      clearCaches()
      val t0 = System.nanoTime()
      spark = GraftSession.create("perfbench", cores)
      val t1 = System.nanoTime()
      workload.warmup(spark)
      val t2 = System.nanoTime()
      workload.prepare(spark, rep)
      val t3 = System.nanoTime()
      setupRecs += Map("create_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "prepare_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9)
      if (rep < setups) spark.stop()
    }

    // ---- timed window: closed loop, one client, whole passes
    val tracer = new Tracer(trace, s"${p("workload")}-${p("seed")}")
    val rec = new Recorder(tracer)
    val rng = new scala.util.Random(p("seed").toString.toLong)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    // a traced run starts with a warm-up pass that no figure uses, then
    // alternates untraced and traced passes as U T T U, so the tracing
    // overhead is measured in one process and drift over the run cancels
    val passCount = p("passes").toString.toInt
    for (n <- 0 until passCount) {
      val warmup = trace && n == 0
      val traced = trace && n > 0 && Set(1, 2).contains((n - 1) % 4)
      clearCaches()
      rec.pass = n
      rec.traced = traced
      workload.beforePass()
      if (traced) { tracer.clear(); tracer.attach(spark.sparkContext) }
      val gc0 = gcSeconds
      val cpu0 = cpuSeconds
      val t0 = System.nanoTime()
      workload.pass(spark, rec, rng)
      val wallNs = System.nanoTime() - t0
      val cpu = cpuSeconds - cpu0
      val gc = gcSeconds - gc0
      if (traced) {
        tracer.detach()
        spans ++= tracer.spans.map(_.toMap(n))
        layerSamples += Layers.ofPass(tracer.spans.toSeq, wallNs, cores) ++
          rec.samples.collect { case (k, v) if k.startsWith(s"$n/") =>
            k.stripPrefix(s"$n/") -> v.sum / v.size }
      }
      passes += Map("pass" -> n, "wall_s" -> wallNs / 1e9, "cpu_s" -> cpu, "traced" -> traced,
        "warmup" -> warmup, "gc_s" -> gc)
    }

    // ---- outside the timed window
    val liveHeap = liveHeapMb(spark)
    val probes = if (trace) workload.probes(spark, tracer) else Map.empty[String, Double]
    val results = s"$out/results"
    val oracles = try workload.dump(spark, results) catch {
      case NonFatal(e) =>
        rec.errors.getOrElseUpdate("dump", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        Map.empty[String, String]
    }
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = layerSamples.flatMap(_.keys).distinct
        val perPass = keys.map(k => k -> median(layerSamples.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val measured = passes.toSeq.filterNot(_("warmup") == true)
        val walls = measured.map(x => (x("traced") == true, x("wall_s").asInstanceOf[Double]))
        perPass ++ probes ++ Map(
          "session.create_s" -> median(setupRecs.map(_("create_s")).toSeq),
          "session.warmup_s" -> median(setupRecs.map(_("warmup_s")).toSeq),
          "jvm.gc_s" -> median(measured.map(_("gc_s").asInstanceOf[Double])),
          "tracing.overhead_s" -> (median(walls.filter(_._1).map(_._2)) -
            median(walls.filterNot(_._1).map(_._2))))
      }
    val result = Map(
      "setups" -> setupRecs.toSeq,
      "passes" -> passes.toSeq,
      "ops" -> rec.ops.toSeq,
      "errors" -> rec.errors.toMap,
      "records_per_pass" -> workload.records,
      "rss_peak_mb" -> rssPeakMb,
      "heap_live_mb" -> liveHeap,
      "layers" -> layers,
      "oracles" -> oracles,
      "results" -> results)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case NonFatal(_) => () }
    spark.stop()
    Files.writeString(Paths.get(s"$out/result.json"), mapper.writeValueAsString(result))
    if (trace) Files.writeString(Paths.get(s"$out/spans.json"), mapper.writeValueAsString(spans))
  }
}

/** Per-layer numbers of one traced pass, from its spans. */
object Layers {
  def ofPass(spans: Seq[Span], wallNs: Long, cores: Int): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def children(s: Span) = kids.getOrElse(s.id, Nil)
    def exclusiveNs(s: Span) = math.max(0L, s.durNs - Tracer.covered(
      children(s).map(c => (c.start, c.end)), s.start, s.end))
    def driverNs(s: Span) = Tracer.selfNs(s, children(s))
    def sec(ns: Double) = ns / 1e9
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def med(xs: Seq[Double]) = Main.median(xs)
    def inLayer(l: String) = spans.filter(_.layer == l)
    // sources are read inside the other layers' calls, so they hold no spans
    val layers = Seq("pipeline", "exprs", "operators", "plans", "engine", "ops", "genstate",
      "streaming")
    val exclusiveTotal = spans.map(exclusiveNs).sum.max(1L).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (l <- layers)
      m(s"$l.self_share") = inLayer(l).map(exclusiveNs).sum / exclusiveTotal
    m("spark.jobs") = spans.map(_.jobs).sum
    m("spark.tasks") = spans.map(_.tasks).sum
    m("spark.task_cpu_s") = sec(spans.map(_.taskCpuNs).sum)
    m("spark.driver_s") = sec(spans.map(driverNs).sum)
    m("spark.cpu_util") = spans.map(_.taskCpuNs).sum / (wallNs.toDouble * cores)

    val readers = spans.filter(_.layer != "pipeline")
    m("sources.input_bytes") = readers.map(_.inputBytes).sum
    m("sources.input_records") = readers.map(_.inputRecords).sum

    val pipe = inLayer("pipeline")
    val pipeOps = pipe.filter(_.parent < 0)
    m("pipeline.extract_s") = med(named("pipeline.extract").map(s => sec(s.durNs)))
    m("pipeline.report_s") = med(named("pipeline.report").map(s => sec(s.durNs)))
    m("pipeline.tasks") = pipe.map(_.tasks).sum
    m("pipeline.cpu_util") = if (pipeOps.isEmpty) 0.0
      else pipe.map(_.taskCpuNs).sum / (pipeOps.map(_.durNs).sum.toDouble * cores)

    m("exprs.signature_s") = sec(named("exprs.").map(_.durNs).sum)

    val opr = inLayer("operators")
    m("operators.query_s") = med(opr.map(s => sec(s.durNs)))
    m("operators.driver_s") = sec(opr.map(driverNs).sum)
    m("operators.jobs") = opr.map(_.jobs).sum
    m("operators.tasks") = opr.map(_.tasks).sum
    m("operators.shuffle_bytes") = opr.map(_.shuffleWrite).sum

    m("plans.topk_s") = med(inLayer("plans").map(s => sec(s.durNs)))
    m("plans.topk_shuffle_bytes") = inLayer("plans").map(_.shuffleWrite).sum

    m("engine.sql_s") = med(named("engine.sql").map(s => sec(s.durNs)))
    m("engine.bucketed_s") = sec(named("engine.bucketed").map(_.durNs).sum)

    val ops = inLayer("ops")
    for (f <- Seq("dedup", "similarity", "text", "corpus"))
      m(s"ops.${f}_s") = sec(named(s"ops.$f.").map(_.durNs).sum)
    m("ops.driver_s") = sec(ops.map(driverNs).sum)
    m("ops.task_cpu_s") = sec(ops.map(_.taskCpuNs).sum)
    m("ops.shuffle_bytes") = ops.map(_.shuffleWrite).sum
    m("ops.spill_bytes") = ops.map(_.spill).sum

    val merges = named("genstate.merge.")
    m("genstate.merge_s") = med(merges.map(s => sec(s.durNs)))
    m("genstate.merge_driver_s") = med(merges.map(s => sec(driverNs(s))))
    m("genstate.jobs_per_merge") =
      if (merges.isEmpty) 0.0 else merges.map(_.jobs).sum.toDouble / merges.size
    m("genstate.delete_s") = med(named("genstate.delete.").map(s => sec(s.durNs)))
    m("genstate.serve_s") = med(named("genstate.serve.").map(s => sec(s.durNs)))
    m("genstate.compact_s") = sec(named("genstate.compact.").map(_.durNs).sum)

    val batches = named("streaming.batch.")
    m("streaming.batch_s") = med(batches.map(s => sec(s.durNs)))
    m("streaming.batches") = batches.size
    m.toMap
  }
}
