package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The single-mutator drift guard on the generation publish that
  * [[IndexMaintenance.rebuild]] shares with manifest compaction: a
  * mutation of the live generation (an append) or of the tombstone set
  * (a delete) while the new generation is being written aborts the
  * publish before the manifest swap, so the racing write is neither
  * lost with the superseded generation nor silently cleared. */
class GenerationPublishSpec extends SparkSpec {

  /** 120 seeded docs; odd doc 2k+1 is doc 2k with its last word changed,
    * so the odd (incoming) docs near-duplicate the even (reference) ones. */
  private def docs = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 60L).flatMap { k =>
      val words = Seq.fill(30)(s"w${rnd.nextInt(500)}")
      Seq((2 * k, words.mkString(" ")), (2 * k + 1, (words.init :+ "changed").mkString(" ")))
    }.toDF("doc_id", "text")
  }

  private def probe(incoming: org.apache.spark.sql.DataFrame, dir: String) =
    Dedup.dedupAgainstMinhashIndex(incoming, dir)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)).map(_.toString), r.getLong(3)))
      .toSet

  private def manifest(dir: String): String = {
    val src = scala.io.Source.fromFile(s"$dir/_graft_manifest", "UTF-8")
    try src.mkString.trim finally src.close()
  }

  test("rebuild aborts on an append into the live generation: manifest and probes unchanged") {
    val refA = docs.filter(col("doc_id") % 4 === 0)
    val refFull = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gen_guard_append").toString
    Dedup.writeMinhashIndex(refA, dir)
    IndexMaintenance.enableManifest(spark, dir)
    val before = probe(incoming, dir)

    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.rebuild(spark, dir) { gen =>
        Dedup.writeMinhashIndex(refFull, gen)
        // a second mutator: re-appends rows the index already holds, so
        // the live tree changes on disk while its probe results do not
        Dedup.appendMinhashIndex(refA.filter(col("doc_id") % 8 === 0), dir)
      }
    }
    assert(e.getMessage.contains("concurrent mutation"), e.getMessage)
    assert(manifest(dir) === "_graft_gen_00000", "an aborted rebuild must not repoint the manifest")
    assert(probe(incoming, dir) === before)

    // the next (uncontended) rebuild publishes normally, past the
    // aborted generation, which its reap then removes
    Dedup.writeMinhashIndex(refFull, dir)
    assert(manifest(dir) === "_graft_gen_00002")
    assert(!new java.io.File(s"$dir/_graft_gen_00001").exists())
    val flat = java.nio.file.Files.createTempDirectory("gen_guard_flat").toString
    Dedup.writeMinhashIndex(refFull, flat)
    assert(probe(incoming, flat) !== before, "fixture must make the rebuild visible")
    assert(probe(incoming, dir) === probe(incoming, flat))
  }

  test("rebuild aborts on a concurrent delete: the tombstone stays pending, not cleared") {
    val s = spark
    import s.implicits._
    val refA = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("gen_guard_delete").toString
    Dedup.writeMinhashIndex(refA, dir)
    IndexMaintenance.enableManifest(spark, dir)
    val victim = refA.agg(min("doc_id")).head().getLong(0)

    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.rebuild(spark, dir) { gen =>
        Dedup.writeMinhashIndex(refA, gen)
        Dedup.deleteFromMinhashIndex(spark, dir, Seq(victim).toDF("doc_id"))
      }
    }
    assert(e.getMessage.contains("concurrent mutation"), e.getMessage)
    assert(manifest(dir) === "_graft_gen_00000")
    assert(IndexMaintenance.tombstones(spark, dir).map(_.count()) === Some(1L),
      "the racing delete must survive the aborted rebuild")
  }
}
