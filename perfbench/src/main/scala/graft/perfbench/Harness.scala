package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, out: String, expected: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), kv.getOrElse("expected", ""))
  }
}

/** One workload's findings: end-to-end and per-layer metric values,
  * human-readable report lines printed ahead of the result, the operation
  * logs whose attempts and failures the result counts, and the latency
  * samples (ms) behind `latency_ms`. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    report: Seq[String], logs: Seq[OpLog], samples: Seq[Double]) {
  def attempted: Long = logs.map(_.attempted).sum
  def failed: Long = logs.map(_.failed).sum
  def errorFrac: Double = failed.toDouble / math.max(1L, attempted)
}

/** Per-operation view handed to a traced operation's body. */
final class OpScope(val op: Long, val root: Long, tracer: Tracer) {
  /** Frames whose Catalyst phases belong to this operation. */
  val frames: mutable.ArrayBuffer[DataFrame] = mutable.ArrayBuffer()
  /** Span that codegen compile time is charged to (default: the root). */
  var compileHost: Long = root

  def childId[T](layer: String, name: String)(body: Long => T): T =
    tracer.span(op, root, layer, name)(body)
}

/**
 * Shared state of a run: the session, the tracer and Spark probes (trace
 * runs only), and per-operation totals the per-layer metrics are built
 * from.
 */
final class Ctx(val spark: SparkSession, val args: Args) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(args.trace)
  val probes: Option[SparkProbes] = if (args.trace) Some(new SparkProbes(spark)) else None

  private val jobs = new JobTotals
  private var codegen = CodegenSnap(0, 0)
  private val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var tracedOps = 0L
  private var tracedWallNs = 0L

  /**
   * Runs one operation under a root span of `layer`. When tracing, its
   * Spark jobs (by job group), the Catalyst phases of the frames it
   * registers, and its codegen compile time become child spans, and its
   * counters are added to the run's totals. Traced operations run one at
   * a time, so global counter deltas are theirs alone.
   */
  def op[T](layer: String, name: String)(body: OpScope => T): T = {
    val opId = tracer.newOp()
    if (!args.trace) return body(new OpScope(opId, 0L, tracer))
    val cg0 = Probes.codegen()
    val t0 = System.nanoTime()
    var scope: OpScope = null
    try tracer.span(opId, 0L, layer, name) { root =>
      scope = new OpScope(opId, root, tracer)
      probes.get.inGroup(s"op-$opId")(body(scope))
    } finally {
      tracedWallNs += System.nanoTime() - t0
      tracedOps += 1
      val cg = Probes.codegen() - cg0
      codegen = CodegenSnap(codegen.compiles + cg.compiles, codegen.compileNs + cg.compileNs)
      if (scope != null) {
        scope.frames.foreach(df => Probes.phases(df).foreach { case (ph, s, e) =>
          phaseMs(ph) += (e - s).toDouble
          tracer.attach(opId, "catalyst", ph, tracer.fromMillis(s), tracer.fromMillis(e))
        })
        if (cg.compileNs > 0)
          tracer.record(opId, scope.compileHost, "codegen", "compile", 0L, cg.compileNs,
            durationOnly = true)
        val g = probes.get.group(s"op-$opId")
        jobs.add(g)
        // concurrent jobs (adaptive stages) count once for their union
        Trace.merge(g.intervals.toSeq).foreach { case (s, e) =>
          tracer.attach(opId, "spark", "job", tracer.fromMillis(s), tracer.fromMillis(e))
        }
      }
    }
  }

  def traced: Boolean = args.trace

  /** Self time of `layer` over every traced operation, in ms. */
  def selfMs(layer: String): Double = Trace.selfTimes(tracer.all).getOrElse(layer, 0L) / 1e6

  /** Per-layer metrics common to every workload, per traced operation. */
  def commonLayers(): Map[String, Double] = {
    val n = math.max(1L, tracedOps).toDouble
    val self = Trace.selfTimes(tracer.all)
    val wallMs = tracedWallNs / 1e6
    Map(
      "catalyst.analysis_ms" -> phaseMs("analysis") / n,
      "catalyst.optimization_ms" -> phaseMs("optimization") / n,
      "catalyst.planning_ms" -> phaseMs("planning") / n,
      "codegen.compiles" -> codegen.compiles / n,
      "codegen.compile_ms" -> codegen.compileNs / 1e6 / n,
      "spark.jobs" -> jobs.jobs / n,
      "spark.tasks" -> jobs.tasks / n,
      "spark.task_run_ms" -> jobs.runMs / n,
      "spark.task_cpu_ms" -> jobs.cpuNs / 1e6 / n,
      "spark.gc_ms" -> jobs.gcMs / n,
      "spark.shuffle_write_bytes" -> jobs.shuffleWriteBytes / n,
      "spark.spill_bytes" -> jobs.spillBytes / n,
      "spark.core_busy_frac" -> (if (wallMs > 0) jobs.runMs / (wallMs * cores) else 0.0),
      "trace.ops" -> tracedOps.toDouble,
      "self.unattributed_frac" ->
        (if (wallMs > 0) self.getOrElse("unattributed", 0L) / 1e6 / wallMs else 0.0),
    ) ++ Metrics.SelfLayers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0L) / 1e6 / n)
  }

  /** Fresh session sharing this context's SparkContext: the unit of set-up
    * that [[Harness.setup]] repeats. */
  def freshSession(): SparkSession = spark.newSession()
}

/** The metric catalog; run.py checks it against BENCHMARK.json. */
object Metrics {
  /** Layers that self time is reported for. `unattributed` is driver time
    * inside an execution span that no probe explains. */
  val SelfLayers: Seq[String] = Seq("server", "ql", "engine", "sources", "catalyst",
    "codegen", "spark", "operators", "storage", "streaming", "unattributed")

  /** The batch set, trimmed from the ensure*-free operator queries so that
    * a 10 s run holds a cold pass, a warm-up pass and two timed passes:
    * MinHash LSH banding (q24) and brute-force vector similarity (q26). */
  val BatchQueries: Seq[String] = Seq("q24_minhash_lsh", "q26_sim_bruteforce")
}

object Harness {

  /** Repeats a workload's set-up `times` times and returns every duration
    * (seconds) with the last set-up's value, which the run goes on to use. */
  def setup[T](times: Int)(make: () => T)(dispose: T => Unit): (Seq[Double], T) = {
    var last: Option[T] = None
    val secs = (1 to times).map { _ =>
      last.foreach(dispose)
      val t0 = System.nanoTime()
      last = Some(make())
      (System.nanoTime() - t0) / 1e9
    }
    (secs, last.get)
  }

  /** Whole units of measured work for a run asked to last `seconds`, when
    * one unit took `unitSeconds` on the 4-core box the benchmark was sized
    * on: at least one. The count depends on the arguments alone, never on
    * how fast the program runs, so a faster program finishes the same work
    * sooner and is measured on the same mix. */
  def units(seconds: Double, unitSeconds: Double): Int =
    math.max(1, math.ceil(seconds / unitSeconds).toInt)

  /** Time spent in `body`, in seconds, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Bench-style isolation between batch queries: drop cached blocks the
    * last query left and collect garbage, off the clock. */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
