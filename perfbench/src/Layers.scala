package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Per-layer numbers from the traced operations. Additive quantities are
  * means per operation; ratios are taken over the totals. */
object Layers {
  final case class OpLayers(rec: OpRec, jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec]) {
    def phaseS(p: String): Double = rec.phases.filter(_._1 == p).map(x => (x._3 - x._2) / 1e9).sum
    def jobIv: Seq[(Double, Double)] = jobs.map(j => (j.startMs.toDouble, (if (j.endMs < 0) rec.endMs else j.endMs).toDouble))
    def jobActiveS: Double = Trace.union(jobIv, rec.startMs.toDouble, rec.msAt(rec.endNs)) / 1e3
    def idleS: Double = math.max(0.0, rec.wallS - jobActiveS)
    def planS: Double = qes.map(q => q.analysisMs + q.optimizerMs + q.planningMs).sum / 1e3
    def runS: Double = stages.map(_.runMs).sum / 1e3
    /** max / median task time in the stage with the most task time */
    def skew: Option[Double] = stages.filter(_.taskRunMs.length >= 2).sortBy(-_.runMs).headOption.map { s =>
      val t = s.taskRunMs.sorted
      val med = (t((t.length - 1) / 2) + t(t.length / 2)) / 2.0
      t.last / math.max(med, 1.0)
    }
  }

  def collect(trace: Trace, recs: Seq[OpRec]): Seq[OpLayers] = {
    trace.drain()
    val jobs = trace.jobs.values.asScala.toSeq
    val stages = trace.stages.values.asScala.toSeq.filter(_.completed)
    val qes = trace.qes.asScala.toSeq
    recs.map { r =>
      val end = r.msAt(r.endNs)
      OpLayers(r, jobs.filter(_.op == r.id), stages.filter(_.job.op == r.id),
        qes.filter(q => q.atMs >= r.startMs && q.atMs <= end + 1))
    }
  }

  def summarize(trace: Trace, recs: Seq[OpRec]): Seq[(String, (Double, String))] = {
    val ls = collect(trace, recs)
    val n = math.max(1, ls.length).toDouble
    def mean(f: OpLayers => Double) = ls.map(f).sum / n
    def st(f: StageRec => Long) = mean(l => l.stages.map(f).sum.toDouble)
    val run = ls.map(_.runS).sum
    val active = ls.map(_.jobActiveS).sum
    val shRecs = ls.map(_.stages.map(_.shReadRecs).sum).sum.toDouble
    val present = ls.map(_.qes.map(_.scanPresent).sum).sum.toDouble
    val skews = ls.flatMap(_.skew).sorted
    Seq(
      "operators.build_s" -> (mean(_.phaseS("build")), "s"),
      "operators.barrier_jobs" -> (mean(_.jobs.count(_.phase == "build").toDouble), "count"),
      "sql.analysis_s" -> (mean(_.qes.map(_.analysisMs).sum / 1e3), "s"),
      "sql.optimizer_s" -> (mean(_.qes.map(_.optimizerMs).sum / 1e3), "s"),
      "sql.planning_s" -> (mean(_.qes.map(_.planningMs).sum / 1e3), "s"),
      "sql.executions" -> (mean(_.qes.length.toDouble), "count"),
      "codegen.compile_s" -> (mean(_.rec.compileNs / 1e9), "s"),
      "codegen.wscg_fallbacks" -> (mean(_.rec.wscgFallbacks.toDouble), "count"),
      "driver.idle_s" -> (mean(_.idleS), "s"),
      "fs.read_ops" -> (mean(_.rec.fs(0).toDouble), "count"),
      "fs.write_ops" -> (mean(_.rec.fs(1).toDouble), "count"),
      "fs.bytes_read" -> (mean(_.rec.fs(2).toDouble), "bytes"),
      "fs.bytes_written" -> (mean(_.rec.fs(3).toDouble), "bytes"),
      "sched.jobs" -> (mean(_.jobs.length.toDouble), "count"),
      "sched.stages" -> (mean(_.stages.length.toDouble), "count"),
      "sched.tasks" -> (st(_.tasks.toLong), "count"),
      "exec.run_s" -> (mean(_.runS), "s"),
      "exec.cpu_s" -> (mean(_.stages.map(_.cpuNs).sum / 1e9), "s"),
      "exec.gc_s" -> (mean(_.stages.map(_.gcMs).sum / 1e3), "s"),
      "exec.busy_cores" -> (if (active > 0) run / active else 0.0, "cores"),
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.length / 2), "ratio"),
      "exec.useful_ratio" -> (ls.map(_.rec.outputRows).sum / math.max(1.0, shRecs), "ratio"),
      "shuffle.write_bytes" -> (st(_.shWriteBytes), "bytes"),
      "shuffle.read_bytes" -> (st(_.shReadBytes), "bytes"),
      "shuffle.records" -> (st(_.shReadRecs), "count"),
      "spill.bytes" -> (st(_.spillBytes), "bytes"),
      "scan.bytes" -> (st(_.inBytes), "bytes"),
      "scan.files" -> (mean(_.qes.map(_.scanFiles).sum.toDouble), "count"),
      "scan.file_fraction" -> (if (present > 0) ls.map(_.qes.map(_.scanFiles).sum).sum / present else 0.0, "ratio"),
      "write.bytes" -> (st(_.outBytes), "bytes"),
      "write.files" -> (mean(_.qes.map(_.writeFiles).sum.toDouble), "count"),
      "mem.cached_bytes" -> (ls.map(_.rec.cachedBytes).maxOption.getOrElse(0L).toDouble, "bytes"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Mean seconds per call of each named sub-timer (e.g. precompute). */
  def timerMeans(recs: Seq[OpRec]): Seq[(String, Double)] =
    recs.flatMap(_.timers.keys).distinct.map { t =>
      val (s, n) = recs.flatMap(_.timers.get(t)).foldLeft((0.0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      s"$t.mean_s" -> s / math.max(1, n)
    }

  /** Per operation type: medians of the per-operation splits. */
  def perOp(trace: Trace, recs: Seq[OpRec]): ObjectNode = {
    val o = Json.obj()
    collect(trace, recs).groupBy(_.rec.name).toSeq.sortBy(_._1).foreach { case (name, ls) =>
      val e = o.putObject(name)
      e.put("samples", ls.length)
      e.put("wall_s", median(ls.map(_.rec.wallS)))
      e.put("build_s", median(ls.map(_.phaseS("build"))))
      e.put("plan_s", median(ls.map(_.planS)))
      e.put("driver_idle_s", median(ls.map(_.idleS)))
      e.put("jobs", median(ls.map(_.jobs.length.toDouble)))
      e.put("exec_run_s", median(ls.map(_.runS)))
      timerMeans(ls.map(_.rec)).foreach { case (k, v) => e.put(k, v) }
    }
    o
  }

  /** Spans of the given operations: operation -> phase -> job -> stage,
    * each with its self time (duration minus the part its children cover). */
  def spans(trace: Trace, recs: Seq[OpRec]): ArrayNode = {
    val arr = Json.mapper.createArrayNode()
    def span(id: String, parent: String, kind: String, name: String, a: Double, b: Double,
        children: Seq[(Double, Double)]): Unit = {
      val s = arr.addObject()
      s.put("id", id); s.put("parent", parent); s.put("kind", kind); s.put("name", name)
      s.put("start_ms", a); s.put("end_ms", b)
      s.put("self_ms", (b - a) - Trace.union(children, a, b))
    }
    collect(trace, recs).foreach { l =>
      val r = l.rec
      val opId = s"op${r.id}"
      val phaseIv = r.phases.map(p => (r.msAt(p._2), r.msAt(p._3)))
      span(opId, "", "op", s"${r.name} ${r.key}", r.startMs.toDouble, r.msAt(r.endNs), phaseIv.toSeq)
      r.phases.zipWithIndex.foreach { case ((p, s0, s1), i) =>
        val (a, b) = (r.msAt(s0), r.msAt(s1))
        val inPhase = l.jobs.filter(j => j.phase == p && j.startMs >= a - 1 && j.startMs <= b + 1)
        span(s"$opId.p$i", opId, "phase", p, a, b, inPhase.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
        inPhase.foreach { j =>
          val st = l.stages.filter(_.job eq j)
          span(s"job${j.id}", s"$opId.p$i", "job", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble,
            st.map(s => (s.submitMs.toDouble, s.completeMs.toDouble)))
          st.foreach(s => span(s"stage${s.id}", s"job${j.id}", "stage", s"stage ${s.id} (${s.tasks} tasks)",
            s.submitMs.toDouble, s.completeMs.toDouble, Nil))
        }
      }
    }
    arr
  }
}
