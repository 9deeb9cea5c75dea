package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by run.py:
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --expected FILE --out FILE
  *
  * Set-up (start a session at local[cores], build the inputs, run one
  * checked warm-up pass) happens `Setups` times; then checked passes run,
  * one query after another, until `--seconds` have passed. With
  * `--trace 1` the passes alternate between traced and untraced, and the
  * per-layer probes run at the end. The raw record — every sample, span
  * and counter — is written to `--out` as JSON; run.py turns it into
  * metrics.
  */
object Main {
  val Setups = 3

  final case class QueryRun(name: String, latencyS: Double, buildS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val rec = if (o.contains("record")) Record.run(o) else run(o)
    Files.writeString(Paths.get(o("out")), Record.json.writeValueAsString(rec))
    sys.exit(0)
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val (expected, inputRows) = Record.load(o("expected"))
    val wl = Workload(o("workload"), seed, o("data"), expected, inputRows)
    val h = new Harness(wl, cores)

    val setups = (1 to Setups).map { k =>
      val t0 = if (k == 1) jvmStartMs else System.currentTimeMillis()
      if (k > 1) h.stop()
      h.start(s"${o("work")}/spark-local")
      wl.prepare(h.spark)
      h.pass(-k, traced = false)
      (System.currentTimeMillis() - t0) / 1000.0
    }

    val tracer = if (trace) Some(h.attachTracer()) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (o("seconds").toDouble * 1e9).toLong
    // at least one pass, and with tracing at least one traced and one untraced
    while (passes.isEmpty || (trace && passes.size < 2) || System.nanoTime() < deadline)
      passes += h.pass(passes.size, traced = trace && passes.size % 2 == 0)

    val probes: Map[String, Any] = if (!trace) Map.empty else {
      val (k, sink) = Layers.kernels(seed)
      k ++ Layers.expressions(h.spark, seed, () => h.cpuNs()) ++ Layers.pip(h.spark, seed) ++
        Map("sources.scan_s" -> Layers.sourceScan(h.spark, o("data")), "kernel_sink" -> sink) ++
        Layers.checkpoint(h.spark, seed, s"${o("work")}/checkpoint-probe")
    }
    val spark = h.spark
    val out = Map(
      "workload" -> o("workload"), "seed" -> seed, "cores" -> cores,
      "master" -> spark.sparkContext.master, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setups_s" -> setups, "passes" -> passes,
      "attempted" -> h.attempted, "failed" -> h.failed, "errors" -> h.errors.take(20),
      "peak_rss_mb" -> peakRssMb(), "probes" -> probes,
      "spans" -> tracer.toSeq.flatMap(_.spans).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    h.stop()
    out
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Runs passes of one workload on one session, counting every query
  * attempted and every one that threw or returned the wrong output.
  */
final class Harness(wl: Workload, cores: Int) {
  import Main.QueryRun
  var spark: SparkSession = _
  private var totals: Totals = _
  private var tracer: Tracer = _
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  def start(localDir: String): Unit = {
    spark = Session.start(cores, localDir)
    totals = new Totals
    spark.sparkContext.addSparkListener(totals)
  }

  /** Executor CPU of every task finished so far, in ns. */
  def cpuNs(): Long = { ListenerDrain(spark.sparkContext); totals.cpuNs }

  def stop(): Unit = if (spark != null) { Session.stop(spark); spark = null; tracer = null }

  def attachTracer(): Tracer = {
    tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    tracer
  }

  private def traced[T](name: String, layer: String, parent: Long)(body: Long => T): T =
    if (tracer == null || !tracer.enabled) body(-1L) else {
      val id = tracer.begin(name, layer, parent)
      try body(id) finally tracer.end(id)
    }

  /** One pass over the workload's queries. Negative pass numbers are the
    * warm-up passes of the set-ups.
    */
  def pass(n: Int, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    // every pass starts from the same collected heap, so a pass does not pay
    // for garbage an earlier one left
    System.gc()
    ListenerDrain(sc)
    if (tracer != null) { tracer.enabled = traced; tracer.takeCounts() }
    val before = totals.snapshot
    totals.resetPeak()
    val t0 = System.nanoTime()
    var passSpan = -1L
    val runs = this.traced(s"pass $n", "workload", -1L) { id =>
      passSpan = id
      wl.order(n).map(q => query(q, id))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(sc)
    val d = totals.snapshot.map { case (k, v) => k -> (v - before(k)) }
    val counts = if (tracer != null) tracer.takeCounts() else Map.empty[String, Double]
    if (tracer != null) tracer.enabled = false
    val cpu = d("cpu_ns") / 1e9
    val layer = if (!traced) Map.empty[String, Double] else Map(
      "operators.build_s" -> runs.map(_.buildS).sum,
      "operators.eager_jobs" -> counts.getOrElse("eager_jobs", 0.0),
      "driver.analysis_ms" -> counts.getOrElse("analysis_ms", 0.0),
      "driver.optimizer_ms" -> counts.getOrElse("optimizer_ms", 0.0),
      "driver.planning_ms" -> counts.getOrElse("planning_ms", 0.0),
      "sched.jobs" -> d("jobs").toDouble, "sched.stages" -> d("stages").toDouble,
      "sched.tasks" -> d("tasks").toDouble, "sched.delay_ms" -> d("sched_delay_ms").toDouble,
      "exec.cpu_s" -> cpu, "exec.gc_s" -> d("gc_ms") / 1e3, "exec.util" -> cpu / (wall * cores),
      "shuffle.write_mb" -> d("shuffle_write_bytes") / 1e6,
      "shuffle.read_mb" -> d("shuffle_read_bytes") / 1e6,
      "shuffle.fetch_wait_ms" -> d("fetch_wait_ms").toDouble,
      "spill.mb" -> d("spill_bytes") / 1e6,
      "cache.peak_mb" -> totals.cachePeakBytes / 1e6)
    Map("pass" -> n, "traced" -> traced, "span" -> passSpan, "wall_s" -> wall, "cpu_s" -> cpu,
      "input_rows" -> runs.map(r => wl.inputRows(r.name)).sum,
      "queries" -> runs.map(r => Map("name" -> r.name, "latency_s" -> r.latencyS,
        "build_s" -> r.buildS, "ok" -> r.ok)),
      "layer" -> layer)
  }

  private def query(q: String, passSpan: Long): QueryRun = {
    wl.reset(spark)
    val sc = spark.sparkContext
    sc.setJobGroup(q, q)
    attempted += 1
    val t0 = System.nanoTime()
    var buildS = 0.0
    try traced(q, "query", passSpan) { qs =>
      val df = traced("operators.build", "operators.build", qs)(_ => wl.build(spark, q))
      buildS = (System.nanoTime() - t0) / 1e9
      val got = traced("action", "action", qs)(_ => Checksum.of(df))
      val lat = (System.nanoTime() - t0) / 1e9
      wl.check(q, got) match {
        case None => QueryRun(q, lat, buildS, ok = true)
        case Some(why) => fail(why); QueryRun(q, lat, buildS, ok = false)
      }
    } catch {
      case e @ (NonFatal(_) | _: StackOverflowError) =>
        fail(s"$q threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        QueryRun(q, (System.nanoTime() - t0) / 1e9, buildS, ok = false)
    } finally sc.clearJobGroup()
  }

  private def fail(why: String): Unit = { failed += 1; errors += why; System.err.println(s"[perfbench] FAILED $why") }
}
