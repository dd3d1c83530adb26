package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(f: File): JsonNode = mapper.readTree(f)
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(f: File, n: JsonNode): Unit = {
    f.getParentFile.mkdirs(); mapper.writerWithDefaultPrettyPrinter().writeValue(f, n)
  }
  def line(n: JsonNode): String = mapper.writeValueAsString(n)
}

/** Closed loop, one client: the driver thread issues one operation at a
  * time and starts the next only after the previous one (and its checks)
  * finished. Set-up (input generation and index build) runs `setup_reps`
  * times, then one warm-up operation of each type runs; the timed loop then
  * runs whole rounds of the workload's operation mix until `--seconds` have
  * passed.
  * With `--trace 1` operations alternate untraced/traced and the per-layer
  * metrics come from the traced ones. */
object Main {
  private val Tol = 1e-9

  final case class Args(root: String, cpus: Int, workload: Option[String], seed: Long,
      seconds: Int, trace: Boolean, selftest: Boolean, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      a(i) match {
        case f @ ("--selftest" | "--record") => m(f) = "1"; i += 1
        case f if f.startsWith("--") && i + 1 < a.length => m(f) = a(i + 1); i += 2
        case f => throw new IllegalArgumentException(s"unexpected argument $f")
      }
    }
    Args(m("--root"), m("--cpus").toInt, m.get("--workload"), m.getOrElse("--seed", "7").toLong,
      m.getOrElse("--seconds", "10").toInt, m.getOrElse("--trace", "0") == "1",
      m.contains("--selftest"), m.contains("--record"))
  }

  def session(root: String, cpus: Int): SparkSession = {
    val work = s"$root/.bench_build/spark"
    val spark = graft.functions.GraftExtensions.install(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try {
      if (a.selftest) SelfTest.run(a) else if (a.record) record(a) else bench(a)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace(System.err)
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** Runs operations and their checks, and keeps the run's tallies. */
  final class Runner(spark: SparkSession, val trace: Trace, expected: Option[JsonNode]) {
    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]
    private val firstSeen = scala.collection.mutable.Map.empty[String, Checksum]
    val recorded = Json.obj()

    def apply(spec: OpSpec, round: Int): OpRec = {
      val rec = trace.run(spec.name, spec.key, round)(spec.body)
      // no operation may reuse another's cached blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val err = rec.error
        .orElse(try spec.check(rec) catch { case e: Throwable => Some(s"check threw $e") })
        .orElse(rec.outputs.flatMap { case (label, cs) =>
          val key = s"${spec.key}/$label"
          recorded.set[JsonNode](key, cs.toJson)
          val vsRecorded = expected.flatMap(e => Option(e.get(key))).flatMap(cs.mismatch(_, Tol))
            .map(m => s"$key differs from the recorded output: $m")
          // the same operation on the same inputs must give the same output
          val vsEarlier = firstSeen.get(key) match {
            case Some(first) => cs.mismatch(first.toJson, Tol).map(m => s"$key differs from its first run: $m")
            case None => firstSeen(key) = cs; None
          }
          vsRecorded.orElse(vsEarlier)
        }.headOption)
        .orElse(if (rec.traced) (try spec.traceCheck() catch { case e: Throwable => Some(s"trace check threw $e") })
          else None)
      attempted += 1
      err.foreach { e => failed += 1; errors += s"${spec.key}: $e"; System.err.println(s"perfbench: FAILED ${spec.key}: $e") }
      rec
    }
  }

  private def expectedFor(root: String, seed: Long, workload: String): Option[JsonNode] = {
    val f = new File(s"$root/perfbench/expected.json")
    if (!f.exists()) None
    else Option(Json.read(f).get("seeds")).flatMap(s => Option(s.get(seed.toString)))
      .flatMap(s => Option(s.get(workload)))
  }

  private def bench(a: Args): Int = {
    val name = a.workload.get
    require(Workload.names.contains(name), s"unknown workload '$name' (known: ${Workload.names.mkString(", ")})")
    val params = Json.read(new File(s"${a.root}/perfbench/workloads.json"))
    val work = new File(s"${a.root}/.bench_build/work/$name")
    rmrf(work)

    val t0 = System.nanoTime()
    val spark = session(a.root, a.cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = Workload(name, spark, params, a.seed, a.cpus)
    val trace = new Trace(spark)
    val run = new Runner(spark, trace, expectedFor(a.root, a.seed, name))
    val reps = params.get("setup_reps").asInt
    val repS = (0 until reps).map { rep =>
      val r0 = System.nanoTime()
      wl.setup(s"${work.getPath}/rep$rep")
      val s = (System.nanoTime() - r0) / 1e9
      if (rep > 0) rmrf(new File(s"${work.getPath}/rep${rep - 1}"))
      s
    }
    // warming JIT, codegen and file caches can happen only once per JVM
    val w0 = System.nanoTime()
    wl.warmup.foreach(run(_, -1))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Layers.median(repS) + warmS

    // timed loop
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val rounds = ArrayBuffer.empty[Seq[OpRec]]
    val indexStates = ArrayBuffer.empty[Map[String, Double]]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var r = 0
    var more = true
    while (more && (elapsed < a.seconds || (a.trace && r < 2))) {
      wl.round(r) match {
        case None => more = false
        case Some(specs) =>
          rounds += specs.zipWithIndex.map { case (spec, i) =>
            // traced operations alternate with untraced ones, and each
            // position flips between rounds, so every operation type runs
            // both ways and round-to-round drift hits both sides alike
            val traced = a.trace && (r + i) % 2 == 1
            if (traced) trace.enable() else trace.disable()
            val rec = run(spec, r)
            if (traced) indexStates += wl.indexState()
            rec
          }
          r += 1
      }
    }
    trace.disable()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val all = rounds.flatten.toSeq
    val timed = all.filterNot(_.traced)
    val index = wl.indexState()
    require(timed.nonEmpty, "no timed operation ran")

    val out = Json.obj()
    out.put("correct", run.failed == 0)
    out.put("attempted", run.attempted)
    out.put("failed", run.failed)
    val metrics = out.putObject("metrics")
    def metric(n: String, v: Double, unit: String): Unit = {
      val m = metrics.putObject(n); m.put("value", v); m.put("unit", unit)
    }
    val detail = Json.obj()
    detail.put("workload", name); detail.put("seed", a.seed); detail.put("seconds", a.seconds)
    detail.put("session_s", sessionS)
    detail.put("warmup_s", warmS)
    val reps_ = detail.putArray("setup_rep_s"); repS.foreach(x => reps_.add(x))
    val byOp = timed.groupBy(_.name)
    val perOp = detail.putObject("op_wall_s")
    byOp.toSeq.sortBy(_._1).foreach { case (n, recs) =>
      val o = perOp.putObject(n)
      o.put("p50", Layers.median(recs.map(_.wallS))); o.put("p90", percentile(recs.map(_.wallS), 0.9))
      o.put("samples", recs.length)
      Layers.timerMeans(recs).foreach { case (k, v) => o.put(k, v) }
    }
    index.foreach { case (k, v) => detail.put(k, v) }
    val itemsPerS = timed.map(_.items).sum / timed.map(_.wallS).sum
    detail.put("items", timed.map(_.items).sum)
    detail.put("items_per_s", itemsPerS)
    run.errors.take(20).foreach(e => detail.withArray("errors").add(e))

    if (!a.trace) {
      metric("setup_s", setupS, "s")
      metric("items_per_s", itemsPerS, "1/s")
      // the median within each round of the operation mix, then over rounds,
      // so the number of rounds a run fits does not change the statistic
      metric("op_p50_s", Layers.median(rounds.toSeq.map(r => Layers.median(r.map(_.wallS)))), "s")
    } else {
      val traced = all.filter(_.traced)
      // per operation type: mean traced wall against mean untraced wall
      val paired = all.groupBy(_.name).values.map(_.partition(_.traced))
        .filter { case (t, u) => t.nonEmpty && u.nonEmpty }
      def meanWall(rs: Seq[OpRec]) = rs.map(_.wallS).sum / rs.length
      val overhead = paired.map(p => meanWall(p._1)).sum / paired.map(p => meanWall(p._2)).sum - 1
      val layers = Layers.summarize(trace, traced)
      layers.foreach { case (n, (v, u)) => metric(n, v, u) }
      // the persisted layer as it stood after each traced operation
      Seq("index.bytes_on_disk", "index.files", "index.tombstone_rows").foreach(k =>
        metric(k, indexStates.map(_.getOrElse(k, 0.0)).sum / indexStates.length,
          if (k.endsWith("bytes_on_disk")) "bytes" else "count"))
      metric("mem.heap_peak_mb", heapPeakMb, "MB")
      metric("trace_overhead", overhead, "ratio")
      detail.set[JsonNode]("per_layer", metrics.deepCopy())
      detail.set[JsonNode]("per_op", Layers.perOp(trace, traced))
      detail.set[JsonNode]("spans", Layers.spans(trace, traced))
    }
    Json.write(new File(s"${a.root}/.bench_build/results/$name-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      detail)
    spark.stop()
    System.err.println(s"perfbench: $name seed ${a.seed}: setup ${"%.3f".format(setupS)} s, " +
      s"${timed.length} timed ops in ${rounds.length} rounds, ${run.failed}/${run.attempted} failed")
    println(Json.line(out))
    0
  }

  /** Re-records the expected outputs of one or all workloads for `--seed`
    * into perfbench/expected.json. */
  private def record(a: Args): Int = {
    val params = Json.read(new File(s"${a.root}/perfbench/workloads.json"))
    val f = new File(s"${a.root}/perfbench/expected.json")
    val doc = if (f.exists()) Json.read(f).asInstanceOf[ObjectNode] else Json.obj()
    doc.put("tolerance_rel", Tol)
    val seeds = Option(doc.get("seeds")).map(_.asInstanceOf[ObjectNode]).getOrElse(doc.putObject("seeds"))
    val forSeed = Option(seeds.get(a.seed.toString)).map(_.asInstanceOf[ObjectNode])
      .getOrElse(seeds.putObject(a.seed.toString))
    val spark = session(a.root, a.cpus)
    for (name <- a.workload.map(Seq(_)).getOrElse(Workload.names)) {
      val work = new File(s"${a.root}/.bench_build/work/$name")
      rmrf(work)
      val wl = Workload(name, spark, params, a.seed, a.cpus)
      val run = new Runner(spark, new Trace(spark), None)
      wl.setup(s"${work.getPath}/rep0")
      wl.warmup.foreach(run(_, -1))
      // enough rounds to cover every operation a run of 3x --seconds reaches
      val t0 = System.nanoTime()
      var r = 0
      var more = true
      while (more && (System.nanoTime() - t0) / 1e9 < 3 * a.seconds) {
        wl.round(r) match {
          case None => more = false
          case Some(specs) => specs.foreach(run(_, r)); r += 1
        }
      }
      require(run.failed == 0, s"$name: ${run.failed} operations failed while recording: ${run.errors.mkString("; ")}")
      forSeed.set[JsonNode](name, run.recorded)
      System.err.println(s"perfbench: recorded $name seed ${a.seed}: ${run.recorded.size} outputs, $r rounds")
    }
    spark.stop()
    Json.write(f, doc)
    0
  }
}
