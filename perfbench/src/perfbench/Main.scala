package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Probe

/** One timed operation: its kind, its latency, whether it succeeded
  * and how many rows it returned to the caller.
  */
final case class Op(kind: String, ms: Double, ok: Boolean, rows: Long = 0)

/** What a timed phase produced. */
final case class Phase(ops: Seq[Op], wallS: Double)

/** A workload: a batch load that set-up repeats, a timed phase of
  * operations that runs until a deadline, a layer probe for traced
  * runs, and the outputs the checker compares against its own
  * recomputation.
  */
trait Workload {
  /** One batch load from the raw inputs; the last one is the state `timed`
    * uses. `slice` reads one part file of each input: the cold warm-up load.
    */
  def setup(rep: Int, slice: Boolean): Unit
  /** Untimed operations until `deadlineNs`, so the timed phase starts
    * with the JIT and Spark's caches warm.
    */
  def warmUp(deadlineNs: Long): Unit
  /** Operations until `deadlineNs`; the first few are shape-counted when `shapes`. */
  def timed(deadlineNs: Long, shapes: Boolean): Phase
  /** Traced runs only: time each layer's work in isolation. */
  def layerProbe(): Map[String, Any]
  def checks(): Map[String, Any]
}

object Main {
  /** Reads the requests and writes the result and span files; NaN stays a number. */
  val Mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Run one operation; a failure is logged and counted, never thrown. */
  def timedOp(kind: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    Op(kind, (System.nanoTime() - t0) / 1e6, ok)
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def heapLiveMb(): Double = {
    // the second collection follows the context cleaner's release of
    // the broadcasts and shuffles the first one found unreachable
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def counters(): Map[String, Any] =
    Probe.counterMap.map { case (k, v) => k.toString -> v.toMap }

  private def phaseMap(p: Phase): Map[String, Any] = Map(
    "ops" -> p.ops.map(o => Seq(o.kind, o.ms, o.ok, o.rows)), "wall_s" -> p.wallS)

  /** Inputs are generated while the JVM starts; wait for the marker. */
  private def awaitInputs(runDir: File): Unit = {
    val ready = new File(runDir, "inputs.ready")
    while (!ready.exists()) Thread.sleep(20)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val runDir = new File(a("run-dir"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val reps = a("setup-reps").toInt
    val warmupS = a("warmup-seconds").toDouble
    val work = new File(runDir, "work")
    val inputs = new File(runDir, "inputs").getAbsolutePath
    val spark = session(a("cores").toInt, work)
    Probe.install(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w: Workload = a("workload") match {
      case "api_serve" => new ApiServe(spark, inputs, work.getAbsolutePath, a("cores").toInt)
      case "corpus_curate" => new CorpusCurate(spark, inputs, work.getAbsolutePath)
    }
    awaitInputs(runDir)
    // a cold load over one part file of each input, then untimed operations
    // over it, warm the JIT and the code generator for both the load and the
    // operations; then the full load runs `reps` times
    val sliceS = timeS(w.setup(0, slice = true))
    val warmS = sliceS + timeS(w.warmUp(System.nanoTime() + (warmupS * 1e9).toLong))
    val setupReps = (1 to reps).map { r =>
      timeS(Probe.shaped("load", r == reps) { w.setup(r, slice = false) })
    }
    // a traced run reports no end-to-end metric, so each of its three
    // phases (untraced, traced, untraced) lasts half the run's seconds
    val phaseS = if (trace) seconds / 2 else seconds
    val deadline = () => System.nanoTime() + (phaseS * 1e9).toLong
    Probe.reset()
    val untraced = w.timed(deadline(), shapes = true)
    Probe.drain()
    val heap = heapLiveMb()
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "setup_reps_s" -> setupReps, "warm_s" -> warmS,
      "untraced" -> phaseMap(untraced), "heap_live_mb" -> heap,
      "shapes" -> Probe.shapeMap)
    if (trace) {
      // the traced run repeats one load and the timed phase with spans on
      Probe.reset()
      Probe.tracing = true
      Probe.span("bench.setup", "traced") { w.setup(reps + 1, slice = false) }
      val traced = w.timed(deadline(), shapes = false)
      Probe.tracing = false
      // an untraced phase after the traced one brackets it: the JVM keeps
      // warming, so the overhead is read against both untraced phases
      val after = w.timed(deadline(), shapes = false)
      Probe.tracing = true
      val probe = w.layerProbe()
      Probe.tracing = false
      Probe.drain()
      out ++= Seq("traced" -> phaseMap(traced), "untraced_after" -> phaseMap(after),
        "probe" -> probe, "traced_counters" -> counters())
      val sb = new StringBuilder
      Probe.spanList.sortBy(_.id).foreach { s =>
        sb.append(Mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "tag" -> s.tag, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
          .append('\n')
      }
      Probe.jobSpanList.sortBy(_.jobId).foreach { j =>
        sb.append(Mapper.writeValueAsString(Map("id" -> s"job${j.jobId}", "parent" -> j.span,
          "name" -> "spark.job", "tag" -> "", "start_ns" -> j.startNs, "end_ns" -> j.endNs)))
          .append('\n')
      }
      Files.write(new File(runDir, "spans.jsonl").toPath, sb.toString.getBytes(UTF_8))
    }
    out += "checks" -> w.checks()
    Mapper.writeValue(new File(runDir, "result.json"), out)
    spark.stop()
  }
}
