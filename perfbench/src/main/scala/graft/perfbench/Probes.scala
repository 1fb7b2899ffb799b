package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Task-level totals of the jobs of one job group. */
final class JobTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (start, end) wall-clock ms of each finished job. */
  val intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()

  def add(o: JobTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    intervals ++= o.intervals
  }
}

/**
 * Spark's own public counters, read from outside the engine: a listener
 * that keys job and task metrics by job group (the benchmark sets one group
 * per traced operation), the codegen compile counters, and each executed
 * query's Catalyst phase times.
 */
final class SparkProbes(spark: SparkSession) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, JobTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def totals(g: String) = byGroup.computeIfAbsent(g, _ => new JobTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
    val t = totals(g)
    t.synchronized(t.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, start) =>
      val t = totals(g)
      t.synchronized(t.intervals += ((start, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val t = totals(Option(stageGroup.get(e.stageId)).getOrElse(""))
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  spark.sparkContext.addSparkListener(this)

  /** Runs `body` with every Spark job it starts tagged with `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Totals of `group`, once the listener bus has delivered its events. */
  def group(g: String): JobTotals = {
    PerfbenchBus.drain(spark.sparkContext)
    Option(byGroup.get(g)).getOrElse(new JobTotals)
  }
}

/** Process-wide codegen counters; a delta over an interval in which only
  * one operation compiles belongs to that operation. */
final case class CodegenSnap(compiles: Long, compileNs: Long) {
  def -(o: CodegenSnap): CodegenSnap = CodegenSnap(compiles - o.compiles, compileNs - o.compileNs)
}

object Probes {

  def codegen(): CodegenSnap =
    CodegenSnap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Catalyst phase intervals (wall-clock ms) of an executed frame. */
  def phases(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      .map { case (name, p) => (name, p.startTimeMs, p.endTimeMs) }

  /** The executed plan, with adaptive wrappers opened. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case o => o.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  /** Sum of the file scans' "number of files read" SQL metric. */
  def filesRead(df: DataFrame): Long =
    executedNodes(df).flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage

  /** Peak memory outside the Java heap, in MiB: the peak resident set
    * minus the committed heap. The JVM runs with -Xms = -Xmx and
    * AlwaysPreTouch, so the whole heap is resident from the start and the
    * rest (metaspace, code cache, threads, direct and parquet buffers) is
    * what the program adds. */
  def nativePeakMb(): Double = peakRssMb() - heap.getCommitted / 1048576.0

  /** Heap still reachable, in MiB: full collections half a second apart
    * until two agree within 1 MiB (at most ten). The pause lets Spark's
    * ContextCleaner drop the broadcast and shuffle blocks that a collection
    * released; one collection alone read up to six times too high. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); heap.getUsed / 1048576.0 }
    Iterator.iterate(used()) { _ => Thread.sleep(500); used() }.take(10).sliding(2)
      .find(w => math.abs(w(0) - w(1)) < 1.0).map(_.last)
      .getOrElse(used())
  }
}
