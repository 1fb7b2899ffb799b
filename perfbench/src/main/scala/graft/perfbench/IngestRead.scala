package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import graft.ql.BydbQL
import graft.sources.{Catalog, TableDef}
import graft.storage.{Layout, LayoutSpec, Write}
import graft.streaming.{TopNStream, TopNStreamConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `ingest-read`: one thread steps through consecutive time-ordered ~50k-row
 * batches of the 10x events replica. Each step appends the batch to the
 * storage layout, feeds it to the streaming TopN pre-aggregation (one
 * AvailableNow micro-batch on one checkpoint), then serves seeded reads:
 * entity scans, a time-range BydbQL MEASURE over the layout, and SHOW TOP N
 * over the streamed snapshot. Every few steps it compacts the layout
 * between reads — never during one, as compactSegments' single-maintainer
 * contract requires.
 */
object IngestRead {

  val Spec: LayoutSpec = LayoutSpec("bench", "events", entity = Seq("user_id"), tsCol = "ts_ns")
  /** Counters above the per-hour distinct-user count keep the streamed
    * TopN exact, so it must equal the raw-table fallback. */
  val TopN: TopNStreamConfig = TopNStreamConfig(intervalMs = 3600000L, n = 10,
    countersNumber = 4000)
  private val MaxSteps = 12
  private val RoundsPerStep = 2
  /** Compaction runs after the append of every odd step (the first
    * measured step onwards). */
  private val CompactEvery = 2
  /** Measured time of one compaction cycle on the 4-core box. */
  private val CycleSeconds = 8.5

  /** Ingested rows the checks compare reads against. */
  private final class Ingested {
    val byUser = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long, Double, String)]]()
    var rows = 0L
    var inputBytes = 0L
    var minNs = Long.MaxValue
    var maxNs = Long.MinValue
    def add(df: DataFrame): IndexedSeq[Long] = {
      val rs = df.select("user_id", "ts_ns", "event_id", "value", "event_type").collect()
      rs.foreach { r =>
        val ns = r.getLong(1)
        byUser.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer()) +=
          ((ns, r.getLong(2), r.getDouble(3), r.getString(4)))
        minNs = math.min(minNs, ns); maxNs = math.max(maxNs, ns)
      }
      rows += rs.length
      rs.map(_.getLong(0)).distinct.sorted.toIndexedSeq
    }
    def inRange(k: ReadKey): Seq[(Long, Long, Double, String)] = {
      val (b, e) = (nanos(k.begin), nanos(k.end))
      byUser.getOrElse(k.userId, Nil).filter(x => x._1 >= b && x._1 < e).toSeq
    }
    def sumsByType(b: Long, e: Long): Map[String, Double] =
      byUser.values.flatten.filter(x => x._1 >= b && x._1 < e).toSeq
        .groupMapReduce(_._4)(_._3)(_ + _)
  }

  private def nanos(i: Instant): Long = i.getEpochSecond * 1000000000L + i.getNano

  /** Live data files of a layout: parquet files outside hidden or
    * underscore (staging, commit) directories. */
  private def dataFiles(root: File): Seq[File] =
    if (!root.exists) Nil
    else Files.walk(root.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter { p =>
        val rel = root.toPath.relativize(p)
        p.toString.endsWith(".parquet") && Files.isRegularFile(p) &&
          (0 until rel.getNameCount).forall { i =>
            val n = rel.getName(i).toString
            !n.startsWith(".") && !n.startsWith("_")
          }
      }.map(_.toFile)

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
    ()
  }

  private def showTopN(from: String, k: ReadKey) =
    s"SHOW TOP 10 FROM MEASURE $from IN bench TIME BETWEEN '${k.begin}' AND '${k.end}' " +
      "AGGREGATE BY SUM ORDER BY DESC"

  def run(ctx: Ctx): Outcome = {
    val batchDirs = new File(s"${ctx.args.data}/batches").listFiles.filter(_.isDirectory)
      .map(_.getPath).sorted.toIndexedSeq
    val work = new File(s"${ctx.args.out}/ingest")
    val root = s"$work/layout"
    val srcDir = new File(work, "stream-src")
    val result = s"$work/topn/result"
    val ckpt = s"$work/topn/ckpt"
    val (setupS, s) = Harness.setup(3) { () =>
      rm(work)
      srcDir.mkdirs()
      val s = ctx.freshSession()
      Catalog.readParquet(s, batchDirs.head, "events").schema
      s
    }(_ => ())
    val schema = s.read.parquet(s"${batchDirs.head}/events.parquet").schema
    val points = s.readStream.schema(schema).parquet(srcDir.getPath).select(
      timestamp_micros((Catalog.tsNanosExpr(schema("ts").dataType) / 1000L).cast("long"))
        .as("ts"),
      col("user_id").cast("string").as("entity"),
      floor(col("value")).cast("long").as("value"))
    val evDef = Catalog.defs("events")
    val ingested = new Ingested
    val first = Inputs.firstBatch(ctx.args.seed, batchDirs.length, MaxSteps)

    val writeLog, readLog = new OpLog
    val appendMs, compactMs, streamMs = mutable.ArrayBuffer[Double]()
    var stateRows = 0.0
    var filesWritten = 0L
    var bytesWritten = 0L
    val scanFiles = mutable.ArrayBuffer[Double]()
    // per read round: the three reads' total time, when all three passed
    val readRounds = mutable.ArrayBuffer[Double]()
    var step = 0
    // time spent staging inputs and checking outputs inside a step
    var unmeasured = 0.0
    def offClock[T](body: => T): T = { val (v, t) = Harness.timed(body); unmeasured += t; v }

    def layoutCount(id: Long, log: OpLog, what: String): Unit = {
      val n = Layout.read(s, root, Spec).count()
      log.check(id, n == ingested.rows, s"$what: layout holds $n rows, ${ingested.rows} ingested")
      ()
    }

    def doStep(): Unit = {
      val bDir = batchDirs(first + step)
      val batch = Catalog.readParquet(s, bDir, "events")
      val before = offClock(dataFiles(new File(root)).map(f => f.getPath -> f.length).toMap)
      writeLog.run("append")(ctx.op("storage", "Write.append")(_ => Write.append(batch, root, Spec)))
        .foreach { case (id, _) =>
          appendMs += writeLog.latencyMs(id).get
          val rows0 = ingested.rows
          val users = offClock {
            ingested.inputBytes += new File(s"$bDir/events.parquet").length
            val users = ingested.add(batch)
            layoutCount(id, writeLog, "append")
            val after = dataFiles(new File(root))
            val fresh = after.filterNot(f => before.contains(f.getPath))
            filesWritten += fresh.length
            bytesWritten += fresh.map(_.length).sum
            users
          }
          // the same batch arrives on the stream
          offClock(Files.copy(new File(s"$bDir/events.parquet").toPath,
            new File(srcDir, f"b$step%03d.parquet").toPath, StandardCopyOption.REPLACE_EXISTING))
          writeLog.run("stream")(ctx.op("streaming", "topNAggregate")(_ => {
            val q = TopNStream.sinkToResultTable(TopNStream.topNAggregate(points, TopN), result, ckpt)
            q.awaitTermination()
            q.exception.foreach(e => throw e)
            q.lastProgress
          })).foreach { case (sid, prog) =>
            streamMs += writeLog.latencyMs(sid).get
            stateRows = prog.stateOperators.map(_.numRowsTotal.toDouble).sum
            writeLog.check(sid, prog.numInputRows == ingested.rows - rows0,
              s"stream: ${prog.numInputRows} rows in the micro-batch")
          }
          if (step % CompactEvery == CompactEvery - 1)
            writeLog.run("compact")(ctx.op("storage", "Layout.compactSegments")(_ =>
              Layout.compactSegments(s, root, Spec))).foreach { case (cid, _) =>
              compactMs += writeLog.latencyMs(cid).get
              offClock(layoutCount(cid, writeLog, "compact"))
            }
          reads(users)
        }
      step += 1
    }

    def reads(users: IndexedSeq[Long]): Unit = {
      val from = Instant.ofEpochSecond(0, ingested.minNs)
      val to = Instant.ofEpochSecond(0, ingested.maxNs + 1)
      Inputs.readKeys(ctx.args.seed, step, users, from, to, 3 * RoundsPerStep)
        .grouped(3).foreach { case Seq(k, mk, tk) => readRound(k, mk, tk) }
    }

    /** One read of each kind; its total is one read-round sample. */
    def readRound(k: ReadKey, mk: ReadKey, tk: ReadKey): Unit = {
      val lastId = readLog.labelled.lastOption.fold(0L)(_._1)
      readLog.run("entityScan")(ctx.op("storage", "Layout.entityScan") { sc =>
        val df = Layout.entityScan(s, root, Spec, Seq(k.userId), Some((k.begin, k.end)))
          .select("event_id")
        sc.frames += df
        val rows = df.collect().map(_.getLong(0)).sorted.toSeq
        if (ctx.traced) scanFiles += Probes.filesRead(df).toDouble
        rows
      }).foreach { case (id, got) =>
        val want = ingested.inRange(k).map(_._2).sorted
        readLog.check(id, got == want, s"entityScan user ${k.userId}: ${got.length} rows, " +
          s"${want.length} ingested")
      }
      val layoutRes = BydbQL.Resource(Layout.read(s, root, Spec), evDef, fields = Set("value"))
      val measureQl = "SELECT event_type, SUM(value) FROM MEASURE ingest IN bench " +
        s"TIME BETWEEN '${mk.begin}' AND '${mk.end}' GROUP BY event_type, value"
      readLog.run("measure")(ctx.op("engine", "BydbQL.run") { sc =>
        val df = BydbQL.run(measureQl, Map("ingest" -> layoutRes), Nil, WireQuery.Now)
        sc.frames += df
        df.collect().map(r => r.getString(0) -> r.get(1).toString.toDouble).toMap
      }).foreach { case (id, got) =>
        val want = ingested.sumsByType(nanos(mk.begin), nanos(mk.end))
        readLog.check(id, got.keySet == want.keySet &&
          want.forall { case (t, v) => math.abs(got(t) - v) <= 1e-6 * math.max(1.0, v) },
          s"measure sums $got, expected $want")
      }
      readLog.run("showTopN")(ctx.op("streaming", "latestSnapshot") { sc =>
        val snap = TopNStream.latestSnapshot(s.read.parquet(result))
          .withColumnRenamed("bucket_ms", "bucket_start").drop("rank")
        val df = BydbQL.run(showTopN("ingest_topn", tk),
          Map("ingest_topn" -> BydbQL.Resource(snap, TableDef("ingest_topn"))), Nil, WireQuery.Now)
        sc.frames += df
        df.collect().map(_.toSeq).toSeq
      }).foreach { case (id, got) =>
        // the raw fallback ranks the same string entity and keeps the same
        // top n per bucket as the streamed snapshot
        val raw = BydbQL.Resource(
          Layout.read(s, root, Spec).withColumn("entity_s", col("user_id").cast("string")),
          TableDef("ingest_topn_raw"), topNRule = Some(BydbQL.TopNRule("ts_ns", "entity_s",
            floor(col("value")).cast("long"), TopN.intervalMs, TopN.n)))
        val want = offClock(BydbQL.run(showTopN("ingest_topn_raw", tk),
          Map("ingest_topn_raw" -> raw), Nil, WireQuery.Now).collect().map(_.toSeq).toSeq)
        readLog.check(id, got.map(_.map(String.valueOf)) == want.map(_.map(String.valueOf)),
          s"SHOW TOP N streamed $got, raw fallback $want")
      }
      val round = readLog.labelled.filter(_._1 > lastId)
      if (round.length == 3) readRounds += round.map(_._3).sum
    }

    // cold: the first step in the fresh JVM, checks excluded
    val (_, firstS) = Harness.timed(doStep())
    val coldS = firstS - unmeasured
    appendMs.clear(); streamMs.clear(); compactMs.clear(); readRounds.clear()
    val coldReads = readLog.labelled.lastOption.fold(0L)(_._1)
    val rows0 = ingested.rows
    // every step grows the layout that reads, compaction and stored state
    // scale with, so the number of steps is fixed by --seconds alone
    val cycles = math.min((MaxSteps - 1) / CompactEvery,
      Harness.units(ctx.args.seconds, CycleSeconds))
    var measured = 0.0
    var checks = 0.0
    while (step <= cycles * CompactEvery) {
      unmeasured = 0.0
      val (_, t) = Harness.timed(doStep())
      measured += t - unmeasured
      checks += unmeasured
    }
    val measuredReads = readLog.labelled.filter(_._1 > coldReads)
    val readLat = measuredReads.map(_._3)
    val writeSecs = (appendMs.sum + streamMs.sum + compactMs.sum) / 1e3
    def med(xs: mutable.ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "ops_per_s" -> (ingested.rows - rows0) / writeSecs,
      // rounds after compacted and uncompacted steps come in equal numbers;
      // their mean weighs both states alike
      "latency_ms" -> (if (readRounds.isEmpty) 0.0 else readRounds.sum / readRounds.length),
      "cold_s" -> coldS)
    val stored = dataFiles(new File(root))
    val dirs = stored.map(_.getParent).distinct.length
    val layers = if (!ctx.traced) Map.empty[String, Double] else ctx.commonLayers() ++ Map(
      "storage.append_ms" -> med(appendMs),
      "storage.files_written" -> filesWritten.toDouble / step,
      "storage.bytes_written" -> bytesWritten.toDouble / step,
      "storage.compact_ms" -> med(compactMs),
      "storage.scan_files_read" -> med(scanFiles),
      "storage.files_per_dir" -> stored.length.toDouble / math.max(1, dirs),
      "storage.bytes_per_input_byte" -> stored.map(_.length).sum.toDouble / ingested.inputBytes,
      "streaming.batch_ms" -> med(streamMs),
      "streaming.state_rows" -> stateRows)
    val report = Seq(
      f"ingest-read: $step steps from batch $first (${ingested.rows} rows), " +
        f"${readLat.length} timed reads; measured $measured%.2f s (write path $writeSecs%.2f s), " +
        f"checks $checks%.2f s, cold step $coldS%.2f s")
    val byKind = measuredReads.groupMap(_._2)(_._3).toSeq.sortBy(_._1).map { case (k, xs) =>
      f"  $k%-12s ${xs.length}%3d x, median ${Stats.median(xs)}%.0f ms" }
    Outcome(e2e, layers, report ++ byKind, Seq(writeLog, readLog), readLat)
  }
}
