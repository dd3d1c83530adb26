package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Seeded input generators. Every size and shape parameter comes from
  * `perfbench/workloads.json`; only the seed varies between runs, and the
  * same seed always writes the same rows. The engine sees these inputs only
  * as the parquet written here. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def pair(n: JsonNode): (Double, Double) = (n.get(0).asDouble, n.get(1).asDouble)

  private def uniform(r: SplittableRandom, lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      files: Int): Unit =
    spark.createDataFrame(rows.asJava, schema).repartition(files)
      .write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- swaths

  /** Smooth per-channel field bounded by `valueRange`: the phases depend on
    * the granule, the noise on the pixel. */
  final class Field(r: SplittableRandom, channels: Int, valueRange: (Double, Double)) {
    private val (lo, hi) = valueRange
    private val mid = (lo + hi) / 2
    private val amp = (hi - lo) / 2 - 1.0
    private val phase = Array.fill(channels)(uniform(r, 0, 2 * math.Pi))
    def apply(c: Int, lon: Double, lat: Double, noise: Double): Double =
      mid + amp * math.sin(0.15 * lon * (c + 1) + phase(c)) * math.cos(0.11 * lat + phase(c)) + noise
  }

  /** Granule `g`: a twisted lon/lat swath in the manner of pyresample's
    * `create_test_longitude`/`create_test_latitude` (longitude linear along
    * a row plus a per-row twist, latitude linear down a column plus a
    * per-column twist), with `channels` value columns and a seeded share of
    * NaN fill values. Columns: src_id, y, x, lon, lat, ch0.. */
  def granule(spark: SparkSession, p: JsonNode, seed: Long, g: Int, path: String, files: Int): Unit = {
    val r = rng(seed, 100 + g)
    val rows = p.get("swath_rows").asInt; val cols = p.get("swath_cols").asInt
    val nch = p.get("channels").asInt
    val (lon0, lon1) = pair(p.get("lon_range")); val (lat0, lat1) = pair(p.get("lat_range"))
    val jit = p.get("range_jitter_deg").asDouble; val tw = p.get("twist_max_deg").asDouble
    val fill = p.get("fill_share").asDouble
    val (ls, le) = (lon0 + uniform(r, -jit, jit), lon1 + uniform(r, -jit, jit))
    val (ts, te) = (lat1 + uniform(r, -jit, jit), lat0 + uniform(r, -jit, jit))
    val (twLon, twLat) = (uniform(r, -tw, tw), uniform(r, -tw, tw))
    val field = new Field(r, nch, pair(p.get("value_range")))
    val out = new ArrayBuffer[Row](rows * cols)
    for (i <- 0 until rows; j <- 0 until cols) {
      val lon = ls + (le - ls) * j / (cols - 1) + i * twLon
      val lat = ts + (te - ts) * i / (rows - 1) + j * twLat
      val vals = (0 until nch).map { c =>
        val v = field(c, lon, lat, uniform(r, -1, 1))
        if (r.nextDouble() < fill) Double.NaN else v
      }
      out += Row.fromSeq(Seq[Any](i.toLong * cols + j, i, j, lon, lat) ++ vals)
    }
    val schema = StructType(Seq(
      StructField("src_id", LongType, false), StructField("y", IntegerType, false),
      StructField("x", IntegerType, false), StructField("lon", DoubleType, false),
      StructField("lat", DoubleType, false)) ++
      (0 until nch).map(c => StructField(s"ch$c", DoubleType, false)))
    write(spark, out.toSeq, schema, path, files)
  }

  /** Source raster for gradient search, one per granule: the cells of
    * `area` (a lon/lat grid) with the same kind of field and fill share.
    * Columns: cell, ch0.. */
  def raster(spark: SparkSession, p: JsonNode, area: graft.core.AreaDef, seed: Long, g: Int,
      path: String, files: Int): Unit = {
    val r = rng(seed, 200 + g)
    val nch = p.get("channels").asInt
    val fill = p.get("fill_share").asDouble
    val field = new Field(r, nch, pair(p.get("value_range")))
    val out = new ArrayBuffer[Row](area.size.toInt)
    for (row <- 0 until area.height; c <- 0 until area.width) {
      val lon = area.xLL + (c + 0.5) * area.pixelSizeX
      val lat = area.yUR - (row + 0.5) * area.pixelSizeY
      val vals = (0 until nch).map { ch =>
        val v = field(ch, lon, lat, uniform(r, -1, 1))
        if (r.nextDouble() < fill) Double.NaN else v
      }
      out += Row.fromSeq(Seq[Any](row.toLong * area.width + c) ++ vals)
    }
    val schema = StructType(StructField("cell", LongType, false) +:
      (0 until nch).map(c => StructField(s"ch$c", DoubleType, false)))
    write(spark, out.toSeq, schema, path, files)
  }

  // ---------------------------------------------------------------- corpus

  final case class Corpus(docs: Int, exactCopies: Int)

  /** A text corpus over a Zipf vocabulary with planted exact copies and
    * near-duplicate clusters (seed doc plus word-mutated copies) of
    * geometric size, including a few hot clusters. Columns: doc_id, text. */
  def corpus(spark: SparkSession, p: JsonNode, seed: Long, path: String, files: Int): Corpus = {
    val r = rng(seed, 300)
    val n = p.get("docs").asInt
    val vocab = p.get("vocabulary").asInt
    val s = p.get("zipf_exponent").asDouble
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, s))
      val acc = w.scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
    }
    val (lmin, lmax) = pair(p.get("doc_words"))
    def doc(): Array[String] = Array.fill(lmin.toInt + r.nextInt(lmax.toInt - lmin.toInt + 1))(word())
    val mut = p.get("mutated_word_share").asDouble
    def mutate(d: Array[String]): Array[String] = d.map(w => if (r.nextDouble() < mut) word() else w)

    val texts = ArrayBuffer.empty[String]
    def cluster(size: Int): Unit = {
      val seedDoc = doc()
      texts += seedDoc.mkString(" ")
      for (_ <- 1 until size) texts += mutate(seedDoc).mkString(" ")
    }
    val nExact = math.round(n * p.get("exact_copy_share").asDouble).toInt
    val nNear = math.round(n * p.get("near_dup_cluster_share").asDouble).toInt
    for (_ <- 0 until p.get("hot_clusters").asInt) cluster(p.get("hot_cluster_size").asInt)
    val meanExtra = p.get("mean_cluster_size").asDouble - 2
    while (texts.length < nNear) {
      // size 2 + geometric(mean meanExtra)
      var extra = 0
      while (r.nextDouble() < meanExtra / (meanExtra + 1)) extra += 1
      cluster(math.min(2 + extra, nNear - texts.length + 1).max(2))
    }
    while (texts.length < n - nExact) texts += doc().mkString(" ")
    val originals = texts.length
    for (_ <- 0 until nExact) texts += texts(r.nextInt(originals))
    // Fisher-Yates so copies and clusters are spread over the id range
    val arr = texts.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    write(spark, arr.indices.map(i => Row(i.toLong, arr(i))), schema, path, files)
    Corpus(arr.length, nExact)
  }

  // ------------------------------------------------------------ embeddings

  /** The churn plan: which operation runs at each step, and the input batch
    * it reads. Derived from the seed alone, so every run with the same seed
    * issues the same operations against the same index states. */
  final case class Step(op: String, batch: Int)
  final case class Churn(steps: IndexedSeq[Step], liveAfter: IndexedSeq[Int],
      deleted: IndexedSeq[Set[Long]], warmup: Int)

  def churnRound(p: JsonNode): Seq[String] = {
    val lpm = p.get("lookups_per_mutation").asInt
    (0 until p.get("compact_every_mutations").asInt).flatMap { m =>
      Seq.fill(lpm)("lookup") :+ (if (m % 2 == 0) "append" else "delete")
    } :+ "compact"
  }

  /** Gaussian-mixture embeddings with Zipf-skewed component weights (so the
    * IVF cells are uneven), written as: `store` (cid, embedding) holding the
    * base vectors and every vector a later append adds; `queries` (batch,
    * qid, embedding); `deletes` (batch, cid) drawn from the ids live at that
    * step of the plan. */
  def embeddings(spark: SparkSession, p: JsonNode, seed: Long, dir: String, files: Int): Churn = {
    val r = rng(seed, 400)
    val dim = p.get("dim").asInt
    val comps = p.get("mixture_components").asInt
    val sigma = p.get("component_sigma").asDouble
    val means = Array.fill(comps) {
      val v = Array.fill(dim)(gaussian(r)); val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val wcdf = {
      val w = Array.tabulate(comps)(k => 1.0 / math.pow(k + 1, p.get("mixture_skew").asDouble))
      val acc = w.scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    def vec(): Array[Float] = {
      val i = java.util.Arrays.binarySearch(wcdf, r.nextDouble())
      val m = means(if (i >= 0) i else -i - 1)
      Array.tabulate(dim)(d => (m(d) + sigma * gaussian(r)).toFloat)
    }
    val round = churnRound(p)
    val warm = Seq("lookup", "append", "delete", "compact")
    val ops = warm ++ Seq.fill(p.get("planned_rounds").asInt)(round).flatten
    val base = p.get("base_vectors").asInt
    val (ab, db, qb) = (p.get("append_batch").asInt, p.get("delete_batch").asInt,
      p.get("query_batch").asInt)
    val live = scala.collection.mutable.LinkedHashSet.empty[Long] ++ (0L until base)
    var nextId = base.toLong
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val steps = ArrayBuffer.empty[Step]
    val liveAfter = ArrayBuffer.empty[Int]
    val deleted = ArrayBuffer.empty[Set[Long]]
    val deleteRows = ArrayBuffer.empty[Row]
    var dead = Set.empty[Long]
    for (op <- ops) {
      val b = counts(op); counts(op) = b + 1
      op match {
        case "append" => live ++= (nextId until nextId + ab); nextId += ab
        case "delete" =>
          val ids = live.toIndexedSeq
          val pick = scala.collection.mutable.LinkedHashSet.empty[Long]
          while (pick.size < db) pick += ids(r.nextInt(ids.length))
          pick.foreach(id => deleteRows += Row(b, id))
          live --= pick; dead ++= pick
        case _ =>
      }
      steps += Step(op, b); liveAfter += live.size; deleted += dead
    }
    val vecSchema = StructType(Seq(StructField("cid", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    write(spark, (0L until nextId).map(id => Row(id, vec())), vecSchema, s"$dir/store", files)
    val qSchema = StructType(Seq(StructField("batch", IntegerType, false),
      StructField("qid", LongType, false), StructField("embedding", ArrayType(FloatType, false), false)))
    write(spark, (0 until counts("lookup")).flatMap(b =>
      (0 until qb).map(j => Row(b, b.toLong * qb + j, vec()))), qSchema, s"$dir/queries", 1)
    val dSchema = StructType(Seq(StructField("batch", IntegerType, false),
      StructField("cid", LongType, false)))
    write(spark, deleteRows.toSeq, dSchema, s"$dir/deletes", 1)
    Churn(steps.toIndexedSeq, liveAfter.toIndexedSeq, deleted.toIndexedSeq, warm.length)
  }
}
