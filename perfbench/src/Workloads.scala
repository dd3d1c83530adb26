package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.core.{AreaDef, Crs}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a workload: its type (`name`), the identity of its
  * inputs (`key`, which names its recorded outputs), the body, an invariant
  * check that holds for every seed, and a deeper check run after the
  * operation in traced rounds. Checks run outside the operation's timing. */
final case class OpSpec(name: String, key: String, body: OpCtx => Unit,
    check: OpRec => Option[String] = _ => None,
    traceCheck: () => Option[String] = () => None)

trait Workload {
  /** Writes one set-up rep's inputs under `dir` (and builds its index). */
  def setup(dir: String): Unit
  /** One operation of each type, run at the end of every set-up rep. */
  def warmup: Seq[OpSpec]
  /** Round `r` of the timed loop; None once the planned inputs run out. */
  def round(r: Int): Option[Seq[OpSpec]]
  /** State of the persisted layer after the last operation. */
  def indexState(): Map[String, Double] = Map.empty
}

object Workload {
  val names = Seq("resample_granule", "dedup_corpus", "index_churn")

  def apply(name: String, spark: SparkSession, params: JsonNode, seed: Long, cpus: Int): Workload =
    name match {
      case "resample_granule" => new ResampleGranule(spark, params.get(name), seed, cpus)
      case "dedup_corpus" => new DedupCorpus(spark, params.get(name), seed, cpus)
      case "index_churn" => new IndexChurn(spark, params.get(name), seed, cpus)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  def area(p: JsonNode): AreaDef = {
    val e = p.get("extent")
    AreaDef(p.get("id").asText, Crs.fromProj4(p.get("proj4").asText),
      p.get("width").asInt, p.get("height").asInt,
      e.get(0).asDouble, e.get(1).asDouble, e.get(2).asDouble, e.get(3).asDouble)
  }

  def fail(cond: Boolean, msg: => String): Option[String] = if (cond) Some(msg) else None
}

/** Six resampling families over G swath granules of C channels onto the
  * kd-tree golden stere area. The kd-tree families go through the
  * precompute/compute lifecycle: one precompute, then one compute per
  * channel. */
final class ResampleGranule(spark: SparkSession, p: JsonNode, seed: Long, cpus: Int)
    extends Workload {
  import Workload.fail
  private val granules = p.get("granules").asInt
  private val chans = (0 until p.get("channels").asInt).map(c => s"ch$c")
  private val area = Workload.area(p.get("area"))
  private val srcArea = Workload.area(p.get("gradient_source"))
  private val radius = p.get("radius_m").asDouble
  private val bilinearRadius = p.get("bilinear_radius_m").asDouble
  private val (vmin, vmax) = Gen.pair(p.get("value_range"))
  private var dir = ""
  val families = Seq("nearest", "gauss", "bilinear", "bucket", "ewa", "gradient")

  def setup(d: String): Unit = {
    dir = d
    for (g <- 0 until granules) {
      Gen.granule(spark, p, seed, g, s"$d/granule_$g", cpus)
      Gen.raster(spark, p, srcArea, seed, g, s"$d/raster_$g", cpus)
    }
  }

  def warmup: Seq[OpSpec] = families.map(op(_, 0))
  def round(r: Int): Option[Seq[OpSpec]] = Some(families.map(op(_, r % granules)))

  private def target() =
    area.grid(spark, withLonLat = true).select(col("cell").as("dst_id"), col("lon"), col("lat"))

  /** precompute once, then compute + sink per channel */
  private def lifecycle(ctx: OpCtx, src: DataFrame, r: Resampler): Unit = {
    ctx.timed("precompute")(ctx.build(r.precompute()))
    chans.foreach { c =>
      ctx.timed("compute")(ctx.sink(c, ctx.build(r.compute(src.select("src_id", c), c))))
    }
  }

  private def op(family: String, g: Int): OpSpec = OpSpec(family, s"g$g/$family", ctx => {
    val gran = ctx.build(spark.read.parquet(s"$dir/granule_$g"))
    family match {
      case "nearest" | "gauss" =>
        val (src, r) = ctx.build {
          val src = DataReduce.reduceToArea(gran, area, radius)
          (src, ResamplerRegistry.get(family)(src.select("src_id", "lon", "lat"), target(), radius))
        }
        lifecycle(ctx, src, r)
      case "bilinear" =>
        val (src, r) = ctx.build {
          val src = DataReduce.reduceToArea(gran, area, bilinearRadius)
          (src, new BilinearResampler(src.select("src_id", "lon", "lat"), area, bilinearRadius))
        }
        lifecycle(ctx, src, r)
      case "bucket" =>
        chans.foreach { c =>
          ctx.sink(c, ctx.build(BucketResampler(area).average(
            DataReduce.reduceToArea(gran, area, 0.0).select("lon", "lat", c), c)))
        }
      case "ewa" =>
        ctx.sink("all", ctx.build(EwaResample.resampleMulti(
          gran.select((Seq("y", "x", "lon", "lat") ++ chans).map(col): _*), area,
          p.get("ewa_rows_per_scan").asInt, chans)), channels = chans.length)
      case "gradient" =>
        val raster = ctx.build(spark.read.parquet(s"$dir/raster_$g"))
        chans.foreach { c =>
          ctx.sink(c, ctx.build(GradientResample.bilinear(raster.select("cell", c), srcArea, area, c)))
        }
    }
  }, check = rec => rec.outputs.flatMap { case (label, cs) =>
    // every family is a convex combination of input values, so each output
    // value lies in the generator's value range
    fail(cs.rows <= 0 || cs.rows > area.size, s"$label: ${cs.rows} rows for a ${area.size}-pixel area")
      .orElse(cs.cols.filter(_.exact.isEmpty).flatMap(s =>
        fail(s.lo < vmin - 1e-6 || s.hi > vmax + 1e-6,
          s"$label.${s.name}: values [${s.lo}, ${s.hi}] outside [$vmin, $vmax]")).headOption)
  }.headOption)
}

/** Exact dedup, then MinHash near-duplicate clustering, then canonical keep,
  * over one seeded corpus; every pass reads the same corpus. */
final class DedupCorpus(spark: SparkSession, p: JsonNode, seed: Long, cpus: Int) extends Workload {
  import Workload.fail
  private var dir = ""
  private var corpus = Gen.Corpus(0, 0)
  private val mh = p.get("minhash")

  def setup(d: String): Unit = { dir = d; corpus = Gen.corpus(spark, p, seed, s"$d/corpus", cpus) }
  def warmup: Seq[OpSpec] = Seq(pass)
  def round(r: Int): Option[Seq[OpSpec]] = Some(Seq(pass))

  private def pass = OpSpec("dedup", "pass", ctx => {
    val out = ctx.build {
      val docs = spark.read.parquet(s"$dir/corpus")
      Dedup.minhashNearDupClusters(Dedup.dropExactDuplicates(docs),
        numHashes = mh.get("num_hashes").asInt, rowsPerBand = mh.get("rows_per_band").asInt,
        threshold = mh.get("threshold").asDouble, shingleN = mh.get("shingle_n").asInt)
        .filter(col("keep")).select("doc_id", "text", "cluster_id")
    }
    ctx.sink("survivors", out,
      extra = Seq("not_canonical" -> sum(when(col("cluster_id") =!= col("doc_id"), 1).otherwise(0))))
    ctx.rec.items = corpus.docs
  }, check = rec => rec.outputs.headOption.flatMap { case (_, cs) =>
    fail(cs.rows <= 0 || cs.rows > corpus.docs - corpus.exactCopies,
      s"${cs.rows} survivors of ${corpus.docs} docs with ${corpus.exactCopies} planted copies")
      .orElse(fail(cs.extra("not_canonical") != 0, "a survivor is not its cluster's canonical doc"))
  })
}

/** A manifest-enabled IVF-PQ index under a fixed, seeded mix of lookups,
  * appends, deletes and periodic compactions. */
final class IndexChurn(spark: SparkSession, p: JsonNode, seed: Long, cpus: Int) extends Workload {
  import Workload.fail
  private val base = p.get("base_vectors").asInt
  private val (k, nProbe) = (p.get("k").asInt, p.get("n_probe").asInt)
  private val appendBatch = p.get("append_batch").asInt
  private val roundLen = Gen.churnRound(p).length
  private var dir = ""
  private var plan: Gen.Churn = _
  private var ctr: Seq[Array[Double]] = Nil
  private var books: Array[Array[Array[Double]]] = Array.empty
  private var lastRun = 0 // the last plan step run
  private def idx = s"$dir/index"
  private def store = spark.read.parquet(s"$dir/store")

  def setup(d: String): Unit = {
    dir = d
    plan = Gen.embeddings(spark, p, seed, d, cpus)
    val baseRows = store.filter(col("cid") < base)
    ctr = Similarity.kmeansCentroids(baseRows, k = p.get("cells").asInt,
      iters = p.get("kmeans_iters").asInt, idCol = "cid")
    books = Similarity.pqCodebooks(baseRows, m = p.get("pq_subspaces").asInt, ksub = p.get("pq_ksub").asInt)
    Similarity.writeIvfPqIndex(baseRows, ctr, books, idx)
    IndexMaintenance.enableManifest(spark, idx)
  }

  def warmup: Seq[OpSpec] = (0 until plan.warmup).map(step)

  def round(r: Int): Option[Seq[OpSpec]] = {
    val from = plan.warmup + r * roundLen
    if (from + roundLen > plan.steps.length) None else Some((from until from + roundLen).map(step))
  }

  /** Ids appended up to and including step `i`. */
  private def nextId(i: Int): Long =
    base + appendBatch.toLong * plan.steps.take(i + 1).count(_.op == "append")

  private def queries(b: Int) =
    spark.read.parquet(s"$dir/queries").filter(col("batch") === b).select("qid", "embedding")

  private def liveRows(i: Int) =
    store.filter(col("cid") < nextId(i) && !col("cid").isin(plan.deleted(i).toSeq: _*))

  private def step(i: Int): OpSpec = {
    val Gen.Step(op, b) = plan.steps(i)
    op match {
      case "lookup" => OpSpec(op, s"s$i/$op", ctx => {
        lastRun = i
        val out = ctx.build(Similarity.ivfPqTopKIndexed(queries(b), idx, store, ctr, books, k, nProbe))
        ctx.sink("topk", out, extra = Seq(
          "deleted_hits" -> sum(when(col("cid").isin(plan.deleted(i).toSeq: _*), 1).otherwise(0)),
          "max_rank" -> max(col("rank"))))
        ctx.rec.items = 1
      }, check = rec => rec.outputs.headOption.flatMap { case (_, cs) =>
        fail(cs.extra("deleted_hits") != 0, s"${cs.extra("deleted_hits")} deleted ids returned")
          .orElse(fail(cs.rows <= 0 || cs.rows > k * p.get("query_batch").asLong ||
            cs.extra("max_rank") > k, s"${cs.rows} rows, max rank ${cs.extra("max_rank")}"))
      }, traceCheck = () => {
        // the persisted index must answer exactly as the in-memory IVF-PQ
        // over the same live rows
        val cols = Seq("qid", "cid", "rank", "sim", "adc").map(col)
        val indexed = Similarity.ivfPqTopKIndexed(queries(b), idx, store, ctr, books, k, nProbe)
          .select(cols: _*).collect().toSet
        val direct = Similarity.ivfPqTopK(queries(b), liveRows(i), ctr, books, k, nProbe)
          .select(cols: _*).collect().toSet
        fail(indexed != direct, s"indexed lookup differs from ivfPqTopK over the live rows " +
          s"(${indexed.size} vs ${direct.size} rows)")
      })
      case _ => OpSpec(op, s"s$i/$op", ctx => {
        lastRun = i
        ctx.mutate(op match {
          case "append" =>
            val lo = base + appendBatch.toLong * b
            Similarity.appendIvfPqIndex(store.filter(col("cid") >= lo && col("cid") < lo + appendBatch),
              ctr, books, idx)
          case "delete" =>
            Similarity.deleteFromIvfPqIndex(spark, idx,
              spark.read.parquet(s"$dir/deletes").filter(col("batch") === b).select("cid"))
          case "compact" => Similarity.compactIvfPqIndex(spark, idx)
        })
        ctx.rec.items = 1
      }, check = rec => {
        // after a mutation the live index holds exactly the planned live ids
        val live = spark.read.parquet(IndexMaintenance.resolveLive(spark, idx))
          .filter(!col("cid").isin(plan.deleted(i).toSeq: _*))
        val cs = Sink.checksum(live)
        rec.outputs += "index" -> cs
        fail(cs.rows != plan.liveAfter(i), s"index holds ${cs.rows} live rows, planned ${plan.liveAfter(i)}")
      })
    }
  }

  override def indexState(): Map[String, Double] = {
    val root = new java.io.File(idx)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(root)
    val data = all.filter(_.getName.endsWith(".parquet"))
    val tomb = new java.io.File(root, "_graft_tombstones")
    val tombRows = if (tomb.exists()) spark.read.parquet(tomb.getPath).count() else 0L
    val liveBytes = plan.liveAfter(lastRun).toDouble * p.get("dim").asInt * 4
    Map("index.bytes_on_disk" -> all.map(_.length).sum.toDouble, "index.files" -> data.length.toDouble,
      "index.tombstone_rows" -> tombRows.toDouble,
      "index.space_amp" -> all.map(_.length).sum / liveBytes)
  }
}
