package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Catalog
import org.apache.spark.sql.SparkSession

/**
 * `batch-pipeline`: dedup / similarity operator queries of
 * [[SparkEntry.queries]] over the 10x documents/embeddings replica, in an
 * order drawn from the seed. Pass 0 runs in the fresh JVM (cold); later
 * passes run warm. Every result must match the digest recorded once it had
 * been checked against the DuckDB oracle.
 */
object BatchPipeline {

  /** Measured time of one warm pass on the 4-core box. */
  private val PassSeconds = 6.5

  /** `query → digest` lines of the expected-digest file. */
  def readDigests(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\\s+", 2); q -> d }.toMap
    finally src.close()
  }

  /** Runs one query to completion on the driver, as a caller would
    * consume it: (columns, rows). */
  def execute(ctx: Ctx, s: SparkSession, dir: String, q: String, log: OpLog)
      : Option[(Long, (Seq[String], Array[org.apache.spark.sql.Row]))] =
    ctx.op("operators", q) { sc =>
      log.run(q) {
        val df = SparkEntry.queries(q)(s, dir)
        sc.frames += df
        (df.columns.toSeq, df.collect())
      }
    }

  def run(ctx: Ctx): Outcome = {
    val dir = s"${ctx.args.data}/x10"
    val want = readDigests(ctx.args.expected)
    val queries = Metrics.BatchQueries
    val (setupS, s) = Harness.setup(3) { () =>
      val s = ctx.freshSession()
      Seq("documents", "embeddings").foreach(t => Catalog.load(s, dir, t).schema)
      s
    }(_ => ())
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[Double]()

    /** One pass: seconds of the queries that passed their checks. */
    def pass(p: Int, log: OpLog): Double =
      Inputs.batchOrder(ctx.args.seed, p, queries).map { q =>
        val out = execute(ctx, s, dir, q, log)
        Harness.isolate(s)
        out.fold(0.0) { case (id, (cols, rows)) =>
          val got = Digest.of(cols, rows)
          if (log.check(id, want.get(q).contains(got),
              s"$q: digest $got, expected ${want.getOrElse(q, "none recorded")}")) {
            val ms = log.latencyMs(id).get
            if (p > 0) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += ms
            ms / 1e3
          } else 0.0
        }
      }.sum

    val coldLog = new OpLog
    val coldS = pass(0, coldLog)
    // the JIT is still settling after the cold pass: one untimed pass
    val warmLog = new OpLog
    pass(1, warmLog)
    perQuery.clear()
    val log = new OpLog
    // at least two timed passes; with two, the faster is the pass figure
    (2 until 2 + math.max(2, Harness.units(ctx.args.seconds, PassSeconds)))
      .foreach(p => passes += pass(p, log))
    val passMedian = Stats.median(passes.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "ops_per_s" -> queries.length / passMedian,
      "latency_ms" -> passMedian * 1e3,
      "cold_s" -> coldS)
    val layers = if (!ctx.traced) Map.empty[String, Double] else ctx.commonLayers() ++
      queries.map(q => s"operators.${q}_s" ->
        perQuery.get(q).filter(_.nonEmpty).fold(0.0)(xs => Stats.median(xs.toSeq) / 1e3))
    val report = Seq(
      f"batch-pipeline: ${passes.length} warm passes of ${queries.length} queries, " +
        f"median pass $passMedian%.3f s (${passes.map(p => f"$p%.2f").mkString(", ")}), " +
        f"cold pass $coldS%.3f s") ++
      queries.map(q => f"  $q%-28s warm median " +
        perQuery.get(q).filter(_.nonEmpty).fold("-")(xs => f"${Stats.median(xs.toSeq)}%.0f ms"))
    Outcome(e2e, layers, report, Seq(coldLog, warmLog, log), passes.map(_ * 1e3).toSeq)
  }
}
