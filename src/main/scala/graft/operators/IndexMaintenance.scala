package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one lifecycle of every persisted on-disk index layout — IVF-PQ
  * code partitions (`Similarity`), MinHash banded signatures (`Dedup`),
  * image/audio fingerprint bands (`Multimodal`) and cluster-label chains
  * (`Dedup.mergeClusterLabels`). This object is the only code that knows
  * the persisted format; a layout declares its schema, its partition
  * column and its parameter string ([[Layout]]) and nothing else.
  *
  * Format: a partitioned parquet tree plus one-line `_graft_*` sidecar
  * files (parameters, model fingerprints, label chains). A layout is
  * either FLAT (the tree at `dir`) or MANIFEST (`<dir>/_graft_manifest`
  * names the live generation `<dir>/_graft_gen_NNNNN`; see
  * [[enableManifest]]). Pending deletes live at `<dir>/_graft_tombstones`
  * in both.
  *
  * Operations, each written once:
  *  - sidecars: [[writeParamsSidecar]], [[readParamsSidecar]],
  *    [[requireParamsMatch]] — every read goes through [[readSmall]]
  *    (bounded checksum retry, counted in [[controlReads]]);
  *  - build/append/probe: [[writeIndex]] (in place on a flat layout, a
  *    published generation on a manifest layout), [[appendIndex]] (into
  *    the live tree), [[readIndex]] (live tree minus tombstones);
  *  - delete: [[tombstone]], honored by [[filterTombstoned]];
  *  - compaction: [[compact]] — one rewrite (read, drop tombstoned rows,
  *    hash-repartition ON the partition column so each value lands in
  *    one task and one file, partitioned write, sidecars carried
  *    byte-verbatim) into a staging dir swapped in by two renames (flat)
  *    or into a new generation (manifest). Index rows are independent
  *    (no global statistics, no ordering — the property that makes
  *    append ≡ rebuild), so compaction ≡ identity on every probe result;
  *  - generation publish: [[rebuild]] and manifest [[compact]] share one
  *    routine — allocate the next generation, write it, check for drift,
  *    repoint the manifest atomically, clear tombstones, reap.
  *
  * Flat-swap crash window: between the two renames the live path is
  * briefly absent; a crash there leaves the complete OLD index at
  * `<dir>__precompact` for manual recovery. On object stores without
  * atomic rename, run with `swap = false` and repoint serving at the
  * returned staging path instead (the blue/green form).
  *
  * SINGLE MUTATOR (contract): exactly one writer — append, tombstone,
  * compact, rebuild or label merge — may mutate an index at a time.
  * Concurrent READS are safe throughout (and with a manifest layout,
  * safe even across a swap). Every compaction and every generation
  * publish enforces the contract loudly: it snapshots what a concurrent
  * mutator could touch (the live tree and the tombstone set), re-lists
  * it before the swap, and aborts with "concurrent mutation" if anything
  * changed — otherwise a racing append would vanish with the superseded
  * tree and a racing tombstone would be cleared as if materialized.
  * Serialize mutators externally (an ingest lock, a single owner job) —
  * the rule every log-structured index (LSM, Lucene, Iceberg without a
  * catalog) imposes. */
object IndexMaintenance {

  private val TombstoneDir = "_graft_tombstones"
  private val ManifestFile = "_graft_manifest"
  private val GenPrefix = "_graft_gen_"

  /** Driver FS control-file reads performed through [[readSmall]]
    * (manifest resolutions + sidecar reads) — test instrumentation for
    * the O(1)-reads-per-resolve contracts (r17: `Dedup.labelChain`'s
    * one-read chain sidecar). Monotonic; specs assert deltas. */
  private[graft] val controlReads = new java.util.concurrent.atomic.AtomicLong

  // ------------------------------------------------- rename atomicity

  /** Filesystems whose single-file rename-overwrite IS atomic — the
    * property [[writeManifest]]'s pointer swap and [[compact]]'s
    * directory swap rely on. abfs/abfss = ADLS Gen2 with hierarchical
    * namespace (atomic rename is the feature); o3fs/ofs = Ozone. */
  private val AtomicRenameSchemes =
    Set("file", "local", "hdfs", "viewfs", "webhdfs", "hopsfs", "o3fs", "ofs", "abfs", "abfss")

  /** Object stores whose "rename" is copy+delete (or eventually
    * consistent): a manifest swap there can be observed TORN or
    * half-applied by a concurrent reader — silently, which is worse
    * than not working at all. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss", "cos", "cosn", "obs")

  /** Escape hatch for stores fronted by a consistency layer that makes
    * rename atomic (e.g. an HDFS-compatible gateway keeping its own
    * scheme name). */
  val AssumeAtomicRenameConf = "spark.graft.manifest.assumeAtomicRename"

  private val warnedSchemes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Loud guard (r17, two-round verdict item — the r16 `.crc` rename
    * race proved the hazard class is real even locally): refuse to run
    * an atomic-swap lifecycle on a filesystem known to lack atomic
    * rename, instead of silently tearing under concurrent readers.
    * Unknown schemes get a one-time stderr warning (fail-open: a
    * denylist can't enumerate every HDFS-compatible FS). */
  private[graft] def requireAtomicRename(
      spark: SparkSession, fs: FileSystem, api: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (NonAtomicRenameSchemes.contains(scheme)) {
      if (!spark.conf.getOption(AssumeAtomicRenameConf).exists(_.trim.equalsIgnoreCase("true")))
        throw new IllegalStateException(
          s"$api: filesystem scheme '$scheme' does not provide atomic rename — the " +
            "manifest pointer swap would be silently torn under concurrent readers. " +
            "Use the blue/green form instead (compact(swap = false) and repoint serving " +
            "at the returned staging path), or set " +
            s"$AssumeAtomicRenameConf=true if this store is fronted by a consistency " +
            "layer that makes rename atomic.")
    } else if (!AtomicRenameSchemes.contains(scheme) &&
        !spark.conf.getOption(AssumeAtomicRenameConf).exists(_.trim.equalsIgnoreCase("true")) &&
        warnedSchemes.add(scheme)) {
      System.err.println(
        s"[graft] $api: unrecognized filesystem scheme '$scheme' — the manifest swap " +
          "assumes atomic single-file rename-overwrite; verify your store provides it " +
          s"(or silence this with $AssumeAtomicRenameConf=true)")
    }
  }

  // ------------------------------------------------- manifest generations

  /** True when `dir` carries the manifest-pointer layout. */
  def hasManifest(spark: SparkSession, dir: String): Boolean =
    fileSystem(spark, dir).exists(new Path(dir, ManifestFile))

  /** The directory probes and appends actually read/write: the
    * GENERATION subdir named by `<dir>/_graft_manifest` when the index
    * uses the manifest-pointer layout ([[enableManifest]]), else `dir`
    * itself (the flat layout every `write*Index` produces). Probe entry
    * points resolve per call — a streaming `foreachBatch` server picks
    * up a compaction swap on its next micro-batch with zero restart.
    * Generation names start with an underscore, so a flat
    * `spark.read.parquet(dir)` of a manifest root never accidentally
    * reads any generation's data. */
  def resolveLive(spark: SparkSession, dir: String): String = {
    val fs = fileSystem(spark, dir)
    val mf = new Path(dir, ManifestFile)
    if (fs.exists(mf)) new Path(dir, readSmall(fs, mf)).toString else dir
  }

  /** Migrate a flat index layout to the manifest-pointer layout: the
    * existing data moves into generation `_graft_gen_00000` and
    * `_graft_manifest` points at it. After this, [[compact]] swaps
    * generations by atomically rewriting the one-line manifest — the
    * live path is NEVER absent, so a concurrent probe (including a
    * mid-stream `annServe`/`dedupServe` micro-batch) always resolves a
    * complete index: the old generation before the swap, the new one
    * after. The previous generation is retained for in-flight readers
    * and deleted by the NEXT compaction.
    *
    * The migration itself is a MUTATION (single-mutator contract): run
    * it once, before serving starts. Root-level `_graft_tombstones`
    * stays at the root — tombstones are generation-independent pending
    * deletes and are materialized+cleared by the next compaction. */
  def enableManifest(spark: SparkSession, dir: String): String = {
    val fs = fileSystem(spark, dir)
    // fail BEFORE any file moves: enabling the pointer layout on a
    // store that can't swap the pointer atomically is a setup error
    requireAtomicRename(spark, fs, "enableManifest")
    val root = fs.makeQualified(new Path(dir))
    require(fs.exists(root), s"enableManifest: no index at $dir")
    require(!fs.exists(new Path(root, ManifestFile)),
      s"enableManifest: $dir already has a manifest")
    val gen0 = new Path(root, f"$GenPrefix${0}%05d")
    fs.mkdirs(gen0)
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName != gen0.getName && p.getName != TombstoneDir)
      .foreach { p =>
        require(fs.rename(p, new Path(gen0, p.getName)),
          s"enableManifest: could not move ${p.getName} into ${gen0.getName}")
      }
    writeManifest(spark, root, gen0.getName)
    gen0.toString
  }

  /** Atomically (re)point `<root>/_graft_manifest` at `genName`: write a
    * temp file, then FileContext rename with OVERWRITE — atomic on HDFS
    * and on posix local filesystems, so a reader sees either the old or
    * the new generation name, never a partial file and never no file.
    * (Local-fs caveat: the checksummed LocalFileSystem renames the
    * `.crc` sidecar as a SECOND step, so a racing read can throw
    * ChecksumException for a few microseconds — [[readSmall]] absorbs
    * that with a bounded retry; the data file itself is never torn.) */
  private def writeManifest(spark: SparkSession, root: Path, genName: String): Unit = {
    val fs = fileSystem(spark, root.toString)
    requireAtomicRename(spark, fs, "manifest swap")
    val tmp = new Path(root, ManifestFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(genName.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(root, ManifestFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read a tiny control file (manifest / sidecar) whole. Retries
    * ChecksumException: on Hadoop's checksummed LOCAL filesystem a
    * rename moves the data file and its `.crc` sidecar in two steps, so
    * a reader racing [[writeManifest]]'s atomic swap can transiently
    * observe new data under the old checksum (r16 — surfaced as a
    * once-per-hundreds flake in ManifestSwapSpec's compaction race).
    * HDFS keeps checksums server-side and has no such window; locally
    * the pair settles within the writer's next instruction, so a short
    * bounded retry restores the "old or new, never torn" contract. */
  private def readSmall(fs: FileSystem, p: Path): String = {
    controlReads.incrementAndGet()
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        try return scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 8) throw e
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------- sidecars

  /** Write a one-line parameter sidecar `<dir>/<name>` (the
    * `_graft_*` convention: leading underscore, carried verbatim by
    * [[compact]], checked loudly by probes/appends). */
  def writeParamsSidecar(
      spark: SparkSession, dir: String, name: String, content: String): Unit = {
    require(name.startsWith("_graft_"), s"sidecar name must be _graft_*: $name")
    val p = new Path(dir, name)
    val fs = fileSystem(spark, dir)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The content of sidecar `<dir>/<name>`, when present. */
  def readParamsSidecar(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = fileSystem(spark, dir)
    if (fs.exists(p)) Some(readSmall(fs, p)) else None
  }

  /** Throws when `dir` carries sidecar `name` with content other than
    * `expected` — the shared guard that keeps probe/append parameters
    * consistent with the build's. `what` names the parameters in the
    * error ("model", "MinHash parameters"). Absent sidecar passes
    * unchecked (externally-written indexes). */
  def requireParamsMatch(
      spark: SparkSession, dir: String, name: String, expected: String, api: String,
      what: String): Unit =
    readParamsSidecar(spark, dir, name).foreach { stored =>
      require(stored == expected,
        s"$api: index at $dir was built under different $what " +
          s"(stored '$stored', supplied '$expected') — rebuild the index")
    }

  // ------------------------------------------------- build / append / probe

  /** What a persisted layout declares about itself: the column its
    * parquet tree is partitioned by, its parameter sidecar's name, and
    * the noun a parameter mismatch names ([[requireParamsMatch]]). */
  final case class Layout(partitionCol: String, sidecar: String, what: String)

  /** Write a complete index of `rows` under `params`: in place on a flat
    * layout, or — on a manifest layout — as a freshly published
    * generation ([[rebuild]]) with zero serving gap. */
  def writeIndex(spark: SparkSession, dir: String, layout: Layout, params: String)(
      rows: => DataFrame): Unit = {
    def writeTo(target: String): Unit = {
      rows.write.mode("overwrite").partitionBy(layout.partitionCol).parquet(target)
      writeParamsSidecar(spark, target, layout.sidecar, params)
    }
    if (hasManifest(spark, dir)) rebuild(spark, dir)(writeTo) else writeTo(dir)
  }

  /** Append `rows` into the live tree (the live generation on a manifest
    * layout) after checking `params` against the build's sidecar. Rows
    * are independent, so append ≡ rebuild. `rows` is built only after
    * the check passes. */
  def appendIndex(spark: SparkSession, dir: String, layout: Layout, params: String,
      api: String)(rows: => DataFrame): Unit = {
    val live = checkedLive(spark, dir, layout, params, api)
    rows.write.mode("append").partitionBy(layout.partitionCol).parquet(live)
  }

  /** The probe-side read: the live tree, resolved per call (a swap is
    * picked up by the next probe or micro-batch), checked against
    * `params`, minus tombstoned `idCol`s. */
  def readIndex(spark: SparkSession, dir: String, layout: Layout, params: String,
      api: String, idCol: String): DataFrame =
    filterTombstoned(spark, dir,
      spark.read.parquet(checkedLive(spark, dir, layout, params, api)), idCol)

  /** The live tree of `dir`, after its sidecar matched `params`. */
  private def checkedLive(
      spark: SparkSession, dir: String, layout: Layout, params: String, api: String): String = {
    val live = resolveLive(spark, dir)
    requireParamsMatch(spark, live, layout.sidecar, params, api, layout.what)
    live
  }

  // ------------------------------------------------- generation publish

  /** Zero-gap REBUILD on a manifest layout: `writeGen` writes a complete
    * fresh index (data + sidecars) into the given generation path; the
    * generation is then published ([[publishGeneration]]). Serving
    * probes resolve per call, so a rebuild — retrained codebooks via
    * `Similarity.pqCodebooksTrained`, a re-sharded corpus, a new MinHash
    * reference set, a label merge — lands between micro-batches with
    * zero restart. Pending tombstones are CLEARED, not carried: a rebuild
    * defines the new reference population outright (exclude deleted
    * content from the rebuild input). `alsoKeep` names generations a
    * layered layout still depends on (the label planes' delta chains);
    * they survive the reap. Mutator op — a concurrent append or
    * tombstone aborts the rebuild before the swap. Returns the new live
    * generation's path. */
  def rebuild(spark: SparkSession, dir: String, alsoKeep: Set[String] = Set.empty)(
      writeGen: String => Unit): String = {
    require(hasManifest(spark, dir),
      s"rebuild: $dir is not a manifest layout — run enableManifest first " +
        "(a flat layout rebuilds with the plain overwrite write)")
    publishGeneration(spark, dir, "rebuild", alsoKeep)((_, next) => writeGen(next.toString))
  }

  /** The one generation publish behind [[rebuild]] and manifest
    * [[compact]]: allocate `_graft_gen_<N+1>`, let `writeGen(liveGen,
    * next)` fill it, abort if a concurrent mutator touched the live
    * generation or the tombstone set meanwhile (single-mutator guard),
    * atomically repoint the manifest, clear the tombstones, and reap
    * every generation except the new one, the superseded one (retained
    * for in-flight readers, removed by the next publish) and `alsoKeep`. */
  private def publishGeneration(
      spark: SparkSession, dir: String, api: String, alsoKeep: Set[String])(
      writeGen: (Path, Path) => Unit): String = {
    val fs = fileSystem(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    val liveGen = new Path(root, readSmall(fs, new Path(root, ManifestFile)))
    val nextN = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix))
      .map(_.stripPrefix(GenPrefix).toInt).max + 1
    val next = new Path(root, f"$GenPrefix$nextN%05d")
    fs.delete(next, true)
    // appends land in the live generation, tombstones at the root
    val snapshot = mutationScope(fs, root, liveGen)
    writeGen(liveGen, next)
    requireNoDrift(api, dir, "the manifest swap", snapshot, mutationScope(fs, root, liveGen))
    writeManifest(spark, root, next.getName)
    fs.delete(new Path(root, TombstoneDir), true)
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(GenPrefix) &&
        p.getName != next.getName && p.getName != liveGen.getName &&
        !alsoKeep.contains(p.getName))
      .foreach(p => fs.delete(p, true))
    next.toString
  }

  // ------------------------------------------------- tombstones

  /** DELETE from a persisted index, tombstone-style: the ids are
    * appended to a slim parquet set under `<dir>/_graft_tombstones`
    * (leading underscore — the index's own parquet reads never see it),
    * every probe anti-joins live rows against the set
    * ([[filterTombstoned]]), and the next [[compact]] drops the rows
    * physically and clears the set. O(|deleted|) per delete, zero index
    * rewriting until compaction — the GDPR-expunge shape.
    *
    * Semantics: a tombstone is id-level and PERMANENT until the
    * compaction that materializes it — appending new rows under a
    * tombstoned id does not resurrect the id (delete means "this id's
    * content is expunged"); re-admit by compacting first, then
    * appending. */
  def tombstone(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    require(fileSystem(spark, dir).exists(new Path(dir)), s"tombstone: no index at $dir")
    // a string id would CAST to null silently and the delete would no-op
    // — same plan-build-time contract as the heap top-k paths
    Similarity.requireIntegralId(ids, idCol, "tombstone")
    ids.select(col(idCol).cast("long").as("_del_id")).distinct()
      .write.mode("append").parquet(new Path(dir, TombstoneDir).toString)
  }

  /** The index's tombstone id set, when any deletes are pending. */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir, TombstoneDir)
    if (fileSystem(spark, dir).exists(p))
      Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** `rows` minus any tombstoned ids — the probe-side read of a
    * [[tombstone]]d index (one anti-join on a slim id set; AQE
    * broadcasts it at realistic delete volumes). */
  def filterTombstoned(
      spark: SparkSession, dir: String, rows: DataFrame, idCol: String): DataFrame =
    tombstones(spark, dir) match {
      case None => rows
      case Some(t) =>
        rows.join(t, rows(idCol).cast("long") === t("_del_id"), "left_anti")
    }

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------- compaction

  /** Compacts the partitioned parquet index at `dir` to one file per
    * `partitionCol` value, materializing any pending [[tombstone]]s
    * (rows dropped physically, the tombstone set cleared — pass
    * `tombstoneIdCol` so the anti-join knows the id column). Returns the
    * path now holding the compacted layout: `dir` itself when `swap`
    * (default), else the staging dir.
    *
    * On a manifest layout ([[enableManifest]]) the rewrite lands in a
    * NEW generation published by the manifest swap instead — the live
    * path is never absent, so serving probes (including mid-stream
    * `annServe`/`dedupServe` micro-batches) are safe across it; `swap`
    * is ignored (the manifest IS the blue/green pointer). Returns the
    * new generation's path. */
  def compact(
      spark: SparkSession,
      dir: String,
      partitionCol: String,
      swap: Boolean = true,
      tombstoneIdCol: Option[String] = None): String = {
    val live = new Path(dir)
    val fs = fileSystem(spark, dir)
    require(fs.exists(live), s"compact: no index at $dir")
    // fail BEFORE the staging rewrite: an in-place swap on a
    // non-atomic-rename store is the documented swap=false case
    if (swap) requireAtomicRename(spark, fs, "compact")
    def rewrite(src: Path, dst: Path): Unit =
      rewriteCompacted(spark, dir, src, dst, partitionCol, tombstoneIdCol)
    if (fs.exists(new Path(live, ManifestFile)))
      return publishGeneration(spark, dir, "compact", Set.empty)(rewrite)
    val staging = new Path(dir + "__compacting")
    val backup = new Path(dir + "__precompact")
    fs.delete(staging, true)
    fs.delete(backup, true)
    // the flat tree holds both the data (appends) and the tombstone set
    val snapshot = listTree(fs, live)
    rewrite(live, staging)
    if (!swap) return staging.toString
    requireNoDrift("compact", dir, "the swap", snapshot, listTree(fs, live))
    require(fs.rename(live, backup), s"compact: could not stage-out $dir")
    require(fs.rename(staging, live), s"compact: could not swap in ${staging.getName}")
    fs.delete(backup, true)
    dir
  }

  /** The one compaction rewrite: `src`'s rows minus `dir`'s pending
    * tombstones, hash-repartitioned ON `partitionCol` (every value's rows
    * land in exactly one task, so each partition directory gets exactly
    * one file), written partitioned to `dst`; then the `_graft_*`
    * sidecar FILES are carried byte-verbatim — the compacted index is
    * the SAME index, so append/probe guards keep matching. The
    * tombstone DIRECTORY is deliberately not carried: its deletes were
    * just materialized. */
  private def rewriteCompacted(
      spark: SparkSession, dir: String, src: Path, dst: Path,
      partitionCol: String, tombstoneIdCol: Option[String]): Unit = {
    val rows = spark.read.parquet(src.toString)
    tombstoneIdCol.fold(rows)(filterTombstoned(spark, dir, rows, _))
      .repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(dst.toString)
    val fs = fileSystem(spark, dir)
    fs.listStatus(src)
      .filter(st => st.isFile && st.getPath.getName.startsWith("_graft_"))
      .foreach(st => FileUtil.copy(fs, st.getPath, fs, new Path(dst, st.getPath.getName),
        false, true, spark.sparkContext.hadoopConfiguration))
  }

  // ------------------------------------------------- single-mutator guard

  /** Recursive (path, length, modtime) listing of every FILE under
    * `root` — the drift fingerprint. A concurrent append adds part files
    * (and rewrites `_SUCCESS`), a concurrent tombstone adds files under
    * `_graft_tombstones` — all visible as set difference. */
  private def listTree(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      buf += ((st.getPath.toUri.getPath, st.getLen, st.getModificationTime))
    }
    buf.toSeq
  }

  /** Everything a concurrent mutator could touch while a generation is
    * written: the live generation's tree (appends) plus the root
    * tombstone set (deletes). */
  private def mutationScope(
      fs: FileSystem, root: Path, liveGen: Path): Seq[(String, Long, Long)] = {
    val t = new Path(root, TombstoneDir)
    listTree(fs, liveGen) ++ (if (fs.exists(t)) listTree(fs, t) else Nil)
  }

  /** Abort `api` before `step` when the mutation scope changed since
    * `before` (single-mutator contract). */
  private def requireNoDrift(api: String, dir: String, step: String,
      before: Seq[(String, Long, Long)], after: Seq[(String, Long, Long)]): Unit = {
    val drift = after.toSet.diff(before.toSet)
    require(drift.isEmpty,
      s"$api: concurrent mutation of $dir detected (single-mutator " +
        s"contract) — aborting before $step; changed: " +
        drift.take(5).map(_._1).mkString(", "))
  }
}
