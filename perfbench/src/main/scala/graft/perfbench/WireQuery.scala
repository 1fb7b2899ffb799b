package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.ql.{BydbQL, QlSchema, QlSelect, QlShowTopN, Transformer}
import graft.server.{BydbQLHttp, Json}
import graft.sources.{Catalog, TableDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `wire-query`: a closed loop of clients POSTs the seeded BydbQL mix to an
 * in-process [[BydbQLHttp]] server over the sf0.1-shaped tables. Every
 * response must equal, byte for byte, the in-process result of the same
 * statement rendered through the server's own encoder.
 */
object WireQuery {

  /** Relative times never move: every request pins `now`. */
  val Now: Instant = Instant.parse("2024-02-01T00:00:00Z")
  val Clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Statements decomposed layer by layer in a traced run. */
  private val DecomposeMax = 16
  /** Measured time of one round of the mix on the 4-core box. */
  private val RoundSeconds = 3.6

  /** A reply, with the log and id of the operation that received it. */
  final case class Served(log: OpLog, id: Long, stmt: Statement, body: String)

  /** The served resources, all views of one events table. */
  def resources(s: SparkSession, dir: String): Map[String, BydbQL.Resource] = {
    val ev = Catalog.load(s, dir, "events")
    val evDef = Catalog.defs("events")
    Map(
      "events" -> BydbQL.Resource(ev, evDef, fields = Set("value")),
      "events_stream" -> BydbQL.Resource(
        ev.withColumn("element_id",
          concat(col("user_id").cast("string"), lit("-"), col("event_type"))),
        evDef, elementIdCol = Some("element_id")),
      "traces" -> BydbQL.Resource(ev.withColumn("trace_id", pmod(col("event_id"), lit(97L))),
        TableDef("traces", tsCol = Some("ts_ns")), traceIdCol = Some("trace_id"),
        spanStruct = Seq("event_id")),
      "user_props" -> BydbQL.Resource(
        ev.select(col("user_id").cast("string").as("id"), col("event_id").as("rev"),
          (col("event_type") === "error").as("deleted"), col("event_type"), col("value")),
        TableDef("user_props"), propertyIdCol = Some("id"), propertyRevCol = Some("rev"),
        propertyDeletedCol = Some("deleted")),
      "events_topn" -> BydbQL.Resource(ev, TableDef("events_topn"),
        topNRule = Some(BydbQL.TopNRule(tsNanosCol = "ts_ns", entityCol = "user_id",
          valueExpr = floor(col("value")).cast("long"), intervalMs = 3600000L,
          countersNumber = 1000))))
  }

  def requestBody(st: Statement): String =
    "{\"query\": " + Json.render(st.ql) +
      (if (st.params.isEmpty) "" else ", \"params\": " + Json.render(st.params.toList)) +
      ", \"now\": " + Json.render(Now.toString) + "}"

  def post(url: String, st: Statement): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(requestBody(st).getBytes(StandardCharsets.UTF_8))
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, new String(in.readAllBytes(), StandardCharsets.UTF_8))
    } finally c.disconnect()
  }

  /** One wire round trip: a non-200 answer is a failed operation. */
  private def serve(url: String, st: Statement): String = post(url, st) match {
    case (200, body) => body
    case (code, body) => throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
  }

  /** Closed loop: each client sends its next statement only after its
    * previous reply arrives, until `rounds` whole rounds of the mix have
    * been sent. */
  private def closedLoop(url: String, stmts: Iterator[Statement], rounds: Int,
      log: OpLog, served: ConcurrentLinkedQueue[Served]): Unit = {
    var sent = 0L
    def next(): Option[Statement] = stmts.synchronized {
      if (sent == rounds.toLong * Inputs.RoundLength) None
      else { sent += 1; Some(stmts.next()) }
    }
    val clients = (1 to Clients).map { _ =>
      new Thread(() => {
        Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach { st =>
          log.run(st.shape)(serve(url, st)).foreach { case (id, body) =>
            served.add(Served(log, id, st, body))
          }
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  /** The in-process answer: what the server must have sent. */
  private def expected(res: Map[String, BydbQL.Resource], st: Statement): String =
    BydbQLHttp.resultJson(BydbQL.run(st.ql, res, st.params, Now), None)

  /** In-process answers by statement key, computed on `Clients` threads;
    * Left holds the error of a statement that failed in-process too. */
  private def expectedAll(res: Map[String, BydbQL.Resource],
      stmts: Seq[Statement]): Map[String, Either[String, String]] = {
    val pool = Executors.newFixedThreadPool(Clients)
    try stmts.map(st => st.key -> pool.submit(new Callable[Try[String]] {
        def call(): Try[String] = Try(expected(res, st))
      })).map { case (k, f) => k -> f.get.toEither.left.map(_.toString) }.toMap
    finally pool.shutdownNow()
  }

  /** Same columns and the same rows in any order. */
  private def sameRows(a: String, b: String): Boolean = a == b || {
    def norm(s: String) = Json.parse(s) match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        (mm.get("columns"), mm.get("rows").map(_.asInstanceOf[List[Any]].map(Json.render).sorted))
      case other => (Some(other), None)
    }
    norm(a) == norm(b)
  }

  private def tableOf(st: Statement): String = BydbQL.parse(st.ql) match {
    case s: QlSelect => s.from.name
    case t: QlShowTopN => t.from.name
  }

  /**
   * Layer decomposition of one statement, run alone: the HTTP round trip,
   * then the same statement in-process — parse, bind and transform timed on
   * their own, `BydbQL.run` (plan building), then collect + encode with its
   * Catalyst phases, Spark jobs and codegen attached. Returns the wire body,
   * the in-process body and the round trip minus the in-process time.
   */
  private def decompose(ctx: Ctx, url: String, session: SparkSession, dir: String,
      res: Map[String, BydbQL.Resource], st: Statement): (String, String, Double) = {
    val (body, rS) = Harness.timed(serve(url, st))
    // the table resolution a per-request server would make
    val (again, loadS) = Harness.timed(Catalog.load(session, dir, "events"))
    layerSums("sources.calls") += 1
    layerSums("sources.hits") += (if (again eq res("events").df) 1 else 0)
    layerSums("sources.load_ms") += loadS * 1e3
    val r = res(tableOf(st))
    val (parsed, parseS) = Harness.timed(BydbQL.parse(st.ql))
    val (bound, bindS) = Harness.timed(Transformer.bind(parsed, st.params))
    val (_, transformS) = Harness.timed(Transformer.transform(bound,
      QlSchema(r.df.schema, r.fields, flexible = r.propertyTagsCol.isDefined), Now))
    val (exp, pS) = Harness.timed(ctx.op("wire", st.shape) { sc =>
      val df: DataFrame = sc.childId("engine", "BydbQL.run") { run =>
        val t = System.nanoTime()
        for ((name, secs) <- Seq("parse" -> parseS, "bind" -> bindS, "transform" -> transformS))
          ctx.tracer.record(sc.op, run, "ql", name, t, t + (secs * 1e9).toLong,
            durationOnly = true)
        BydbQL.run(st.ql, res, st.params, Now)
      }
      sc.frames += df
      sc.childId("unattributed", "collect+encode") { exec =>
        sc.compileHost = exec
        BydbQLHttp.resultJson(df, None)
      }
    })
    layerSums("ql.parse_ms") += parseS * 1e3
    layerSums("ql.bind_ms") += bindS * 1e3
    layerSums("ql.transform_ms") += transformS * 1e3
    (body, exp, (rS - pS) * 1e3)
  }

  private val layerSums = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def run(ctx: Ctx): Outcome = {
    val base = s"${ctx.args.data}/base"
    var loadMs = Seq.empty[Double]
    val (setupS, (session, res, server)) = Harness.setup(3) { () =>
      val s = ctx.freshSession()
      val (res, loadS) = Harness.timed(resources(s, base))
      loadMs :+= loadS * 1e3
      val server = BydbQLHttp.start(res, defaultNow = () => Now)
      serve(server.url, Statement("probe", "SELECT event_id FROM MEASURE events IN testdata " +
        "TIME BETWEEN '2024-01-02T00:00:00Z' AND '2024-01-02T01:00:00Z' LIMIT 1"))
      (s, res, server)
    } { case (_, _, srv) => srv.stop() }
    val served = new ConcurrentLinkedQueue[Served]()
    val stmts = Inputs.wireStatements(ctx.args.seed)
    try {
      // cold: the first round in the fresh JVM, which is also the JIT warm-up
      val coldLog = new OpLog
      val (_, coldS) = Harness.timed(closedLoop(server.url, stmts, 1, coldLog, served))
      val log = new OpLog
      val (_, loopS) = Harness.timed(closedLoop(server.url, stmts,
        Harness.units(ctx.args.seconds, RoundSeconds), log, served))

      // checks: every reply against the in-process result of its statement
      val all = served.asScala.toSeq
      val distinct = all.map(_.stmt).distinctBy(_.key).sortBy(_.key)
      val traceLog = new OpLog
      val decomposed = if (!ctx.traced) Map.empty[String, String] else
        distinct.take(DecomposeMax).flatMap { st =>
          traceLog.run(st.shape)(decompose(ctx, server.url, session, base, res, st)).map {
            case (id, (body, exp, overMs)) =>
              layerSums("server.overhead_ms") += overMs
              layerSums("n") += 1
              traceLog.check(id, sameRows(body, exp), s"${st.shape}: wire != in-process")
              st.key -> exp
          }
        }.toMap
      val (computed, checkS) = Harness.timed(
        expectedAll(res, distinct.filterNot(st => decomposed.contains(st.key))))
      val want = computed ++ decomposed.map { case (k, exp) => k -> Right(exp) }
      val logs = Seq(coldLog, log, traceLog)
      all.foreach { sv =>
        want(sv.stmt.key) match {
          case Right(exp) if sameRows(sv.body, exp) =>
          case Right(_) =>
            sv.log.fail(sv.id, s"${sv.stmt.shape}: wire reply differs from in-process result")
          case Left(e) => sv.log.fail(sv.id, s"${sv.stmt.shape}: in-process run failed: $e")
        }
      }

      val lat = log.latencies
      val byShape = all.filter(_.log eq log)
        .flatMap(sv => log.latencyMs(sv.id).map(sv.stmt.shape -> _))
        .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      // shapes differ several-fold in cost, so a pooled median falls between
      // shape clusters and jumps; the mean of per-shape medians does not
      val shapeMedians = byShape.map { case (_, xs) => Stats.median(xs) }
      val e2e = Map(
        "setup_s" -> Stats.median(setupS),
        "ops_per_s" -> lat.length / loopS,
        "latency_ms" -> (if (shapeMedians.isEmpty) 0.0 else shapeMedians.sum / shapeMedians.length),
        "cold_s" -> coldS)
      val n = math.max(1.0, layerSums("n"))
      val layers = if (!ctx.traced) Map.empty[String, Double] else ctx.commonLayers() ++ Map(
        "server.overhead_ms" -> layerSums("server.overhead_ms") / n,
        "ql.parse_ms" -> layerSums("ql.parse_ms") / n,
        "ql.bind_ms" -> layerSums("ql.bind_ms") / n,
        "ql.transform_ms" -> layerSums("ql.transform_ms") / n,
        "engine.plan_build_ms" -> ctx.selfMs("engine") / n,
        "sources.load_ms" -> (loadMs.sum + layerSums("sources.load_ms")) /
          (loadMs.length + layerSums("sources.calls")),
        "sources.cache_hit_frac" -> layerSums("sources.hits") /
          (loadMs.length + layerSums("sources.calls")),
        "self.server_ms" -> layerSums("server.overhead_ms") / n)
      val report = Seq(f"wire-query: ${lat.length} statements in $loopS%.2f s from $Clients " +
        f"clients; ${distinct.length} distinct of ${all.length} sent; cold round $coldS%.2f s, " +
        f"checks $checkS%.2f s")
      val shapeLines = byShape.map { case (sh, xs) =>
        f"  $sh%-22s ${xs.length}%3d x, median ${Stats.median(xs)}%.0f ms" }
      Outcome(e2e, layers, report ++ shapeLines, logs, lat)
    } finally server.stop()
  }
}
