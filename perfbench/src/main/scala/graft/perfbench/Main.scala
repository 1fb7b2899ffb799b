package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/**
 * Benchmark JVM. `run.py` builds it, generates the inputs and launches
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --data <input dir> --out <scratch dir> [--expected <digest file>]
 *
 * The last stdout line is the result object; a failed output check makes
 * `correct` false and the exit code 1.
 */
object Main {

  /** The engine's own session settings (those of `graft.Bench`), on at
    * most 4 local cores. */
  def session(): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultLine(o: Outcome, metrics: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = metrics.map { case (name, unit) =>
      s""""$name": {"value": ${num(values.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {$ms}}"""
  }

  /** `name=unit` pairs, comma separated, as run.py passes them from
    * BENCHMARK.json. */
  private def catalog(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val Array(k, u) = kv.split("=", 2); k -> u }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session()
    val code = try {
      val ctx = new Ctx(spark, args)
      args.workload match {
        case "validate-batch" => validateBatch(ctx); 0
        case w =>
          val o = w match {
            case "wire-query" => WireQuery.run(ctx)
            case "batch-pipeline" => BatchPipeline.run(ctx)
            case "ingest-read" => IngestRead.run(ctx)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          // the peak is read before the collection that measures the live heap
          val nativeMb = Probes.nativePeakMb()
          val e2e = o.e2e ++
            Map("native_peak_mb" -> nativeMb, "heap_live_mb" -> Probes.liveHeapMb())
          // a traced run's own end-to-end figures: minus the untraced run's,
          // they are the tracing overhead
          val tail = Stats.tail(o.samples)
          val values = if (!args.trace) e2e else o.layers ++
            e2e.map { case (k, v) => s"trace.$k" -> v } ++ Map(
              "loop.tail_ms" -> tail.fold(0.0)(_._2),
              "loop.tail_pct" -> tail.fold(0.0)(_._1),
              "loop.samples" -> o.samples.length.toDouble)
          println(tail.fold(s"$w: ${o.samples.length} latency samples, too few for a tail")(t =>
            f"$w: p${t._1}%.1f ${t._2}%.1f ms over ${o.samples.length} latency samples"))
          if (args.trace)
            ctx.tracer.write(Paths.get(args.out).resolveSibling(s"spans-$w-${args.seed}.jsonl"))
          o.report.foreach(println)
          o.logs.flatMap(_.failureMessages).take(20).foreach(m => println(s"FAILED $m"))
          println(f"$w: attempted ${o.attempted}, failed ${o.failed}, " +
            f"error_frac ${o.errorFrac}%.4f")
          val metrics = catalog(sys.props.getOrElse(
            if (args.trace) "perfbench.perLayer" else "perfbench.endToEnd", ""))
          // a per-layer metric a workload does not produce is a layer it
          // does not exercise (0); an end-to-end metric must always be there
          if (!args.trace) metrics.map(_._1).filterNot(values.contains).foreach(m =>
            throw new IllegalStateException(s"$w produced no value for $m"))
          println(resultLine(o, metrics, values))
          if (o.failed == 0) 0 else 1
      }
    } finally spark.stop()
    System.exit(code)
  }

  /** One-off: run every candidate batch query, dump its result for the
    * DuckDB oracle compare (tools/check_oracle.py) and print its digest. */
  private def validateBatch(ctx: Ctx): Unit = {
    val dir = s"${ctx.args.data}/x10"
    val out = Paths.get(ctx.args.out, "validate")
    Files.createDirectories(out)
    val names = Metrics.BatchQueries
    val log = new OpLog
    val digests = names.map { q =>
      BatchPipeline.execute(ctx, ctx.spark, dir, q, log).fold(s"$q FAILED") {
        case (id, (cols, rows)) =>
          SparkEntry.queries(q)(ctx.spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(q).toString)
          Harness.isolate(ctx.spark)
          f"$q ${Digest.of(cols, rows)} ${log.latencyMs(id).get}%.0fms"
      }
    }
    val oracle = names.map(q => graft.server.Json.render(q) + ": " +
      graft.server.Json.render(SparkEntry.oracleSql(q))).mkString("{", ", ", "}")
    Files.writeString(out.resolve("oracle_sql.json"), oracle)
    digests.foreach(d => println(s"DIGEST $d"))
    log.failureMessages.foreach(m => println(s"FAILED $m"))
  }
}
