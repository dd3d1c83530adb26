package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation, recorded on the driver thread. Times: `*Ns` from
  * `System.nanoTime`, `*Ms` wall-clock milliseconds (the clock Spark's
  * listener events use). */
final class OpRec(val id: Int, val name: String, val key: String, val round: Int,
    val traced: Boolean) {
  var startNs, endNs, startMs, endMs = 0L
  /** (phase, startNs, endNs): build = DataFrame construction including the
    * operators' eager barrier jobs; sink = the action on the result;
    * mutate = an index call that writes. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  var fs = Array(0L, 0L, 0L, 0L) // driver read calls, driver write calls, bytes read, bytes written
  var compileNs, wscgFallbacks, cachedBytes, outputRows, items = 0L
  val timers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Int)]
  val outputs = ArrayBuffer.empty[(String, Checksum)]
  var error: Option[String] = None
  def wallS: Double = (endNs - startNs) / 1e9
  def msAt(ns: Long): Double = startMs + (ns - startNs) / 1e6
}

/** What an operation body uses to mark its phases and sink its outputs. */
final class OpCtx(val rec: OpRec, spark: SparkSession) {
  private val sc = spark.sparkContext

  private def phase[T](p: String)(f: => T): T = {
    sc.setLocalProperty(Trace.PhaseProp, p)
    val t0 = System.nanoTime()
    try f finally {
      rec.phases += ((p, t0, System.nanoTime()))
      sc.setLocalProperty(Trace.PhaseProp, null)
    }
  }

  def build[T](f: => T): T = phase("build")(f)
  def mutate[T](f: => T): T = phase("mutate")(f)

  /** Forces `df` through the checksum sink; `channels` output values per row. */
  def sink(label: String, df: DataFrame, channels: Int = 1,
      extra: Seq[(String, org.apache.spark.sql.Column)] = Nil): Checksum = phase("sink") {
    val cs = Sink.checksum(df, extra)
    rec.outputs += label -> cs
    rec.outputRows += cs.rows
    rec.items += cs.rows * channels
    cs
  }

  /** Accumulates the wall time of `f` under `name` (e.g. precompute). */
  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val (s, n) = rec.timers.getOrElse(name, (0.0, 0))
      rec.timers(name) = (s + (System.nanoTime() - t0) / 1e9, n + 1)
    }
  }
}

final class JobRec(val id: Int, val op: Int, val phase: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

final class StageRec(val id: Int, val job: JobRec) {
  var submitMs, completeMs = -1L
  var completed = false
  var tasks = 0
  var runMs, cpuNs, gcMs, shReadBytes, shReadRecs, shWriteBytes, spillBytes, inBytes, outBytes = 0L
  val taskRunMs = ArrayBuffer.empty[Long]
}

/** One SQL execution as the QueryExecutionListener saw it. `atMs` (the end
  * of its planning) attributes it to the operation running then. */
final class QeRec(val atMs: Long, val analysisMs: Long, val optimizerMs: Long,
    val planningMs: Long, val scanFiles: Long, val scanPresent: Long, val writeFiles: Long)

/** Outside-in tracer: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (planning phases, scan and write plan metrics),
  * `CodeGenerator.compileTime`, Hadoop FileSystem statistics, and a log
  * appender counting whole-stage-codegen fallbacks. Jobs are parented to
  * their operation through local properties set on the driver thread, which
  * Spark copies into every job (eager barrier jobs included). Records stay in
  * memory until the run ends. Listeners are attached only while `enabled`. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val wscg = new AtomicLong()
  private var on = false
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Trace.OpProp))).foreach { op =>
        val j = new JobRec(e.jobId, op.toInt,
          props.flatMap(p => Option(p.getProperty(Trace.PhaseProp))).getOrElse("none"), e.time)
        jobs.put(e.jobId, j)
        // a stage a later job reuses (and skips) stays with the job that ran it
        e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageRec(si.stageId, j)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.completed = true
        s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
        s.completeMs = e.stageInfo.completionTime.getOrElse(-1L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.taskRunMs += m.executorRunTime
          s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shReadRecs += m.shuffleReadMetrics.recordsRead
          s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    val plan = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val writes = plan.collect { case w: DataWritingCommandExec => w }
    qes.add(new QeRec(at, ms("analysis"), ms("optimization"), ms("planning"),
      scans.map(metric(_, "numFiles")).sum,
      scans.map(s => s.relation.location.inputFiles.length.toLong).sum,
      writes.map(w => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum))
  }

  locally {
    // the whole-stage-codegen fallback is logged, not exposed as a metric
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender("perfbench-wscg", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("disabled")) wscg.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getLogger("org.apache.spark.sql.execution.WholeStageCodegenExec")
      .asInstanceOf[org.apache.logging.log4j.core.Logger].addAppender(appender)
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener); spark.listenerManager.register(qel); on = true
  }

  def disable(): Unit = if (on) {
    drain(); sc.removeSparkListener(listener); spark.listenerManager.unregister(qel); on = false
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** driver file-system calls (read, write), then Hadoop's byte counts */
  private def fsStats(): Array[Long] = {
    val a = Array(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, 0L, 0L)
    FileSystem.getGlobalStorageStatistics.iterator.asScala.foreach { s =>
      def stat(k: String) = Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
      a(2) += stat("bytesRead"); a(3) += stat("bytesWritten")
    }
    a
  }

  /** Runs one operation. An exception is recorded on the returned OpRec,
    * never thrown: a failed operation counts and the run continues. */
  def run(name: String, key: String, round: Int)(body: OpCtx => Unit): OpRec = {
    val rec = new OpRec(nextId, name, key, round, on)
    nextId += 1
    sc.setLocalProperty(Trace.OpProp, rec.id.toString)
    val fs0 = fsStats(); val cg0 = CodeGenerator.compileTime; val w0 = wscg.get()
    rec.startMs = System.currentTimeMillis(); rec.startNs = System.nanoTime()
    try body(new OpCtx(rec, spark)) catch {
      case e: Throwable => rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    rec.endNs = System.nanoTime(); rec.endMs = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpProp, null)
    val fs1 = fsStats()
    rec.fs = Array.tabulate(4)(i => fs1(i) - fs0(i))
    rec.compileNs = CodeGenerator.compileTime - cg0
    rec.wscgFallbacks = wscg.get() - w0
    rec.cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    rec
  }
}

object Trace {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
