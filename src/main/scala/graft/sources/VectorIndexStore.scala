package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, pmod, xxhash64}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Similarity

/** Persisted residual-IVFPQ index layout — the 100 TB serving shape for
  * the ANN family (extension track; the reference has no vector ops).
  *
  * Build once, search many: [[writeIvfPq]] materializes the four index
  * relations of [[Similarity.buildIvfPqIndex]], with the one
  * corpus-sized relation — the codes table, m small codes + a list id
  * per vector — written `PARTITIONED BY (cent_id)`, one directory per
  * IVF list. [[ivfPqTopKFromIndex]] then reads back only the lists a
  * query batch actually probes: the probed list ids (index metadata,
  * bounded by the centroid count — the same order as a broadcast
  * threshold) become a static `IN` predicate on the partition column,
  * so the scan's `PartitionFilters` prune to nprobe/C of the table
  * before a single row is read (PlanSpec pins this). At 100 TB that is
  * the difference between re-reading the full code table per query
  * batch and reading only the probed fraction; the three
  * metadata-sized relations (centroids, codebooks, centroid×code cross
  * table) are read whole and broadcast, exactly as the in-query path
  * does.
  *
  * Versioning (format v5): the index is a [[ManifestDir]] store —
  * immutable segment dirs under `<root>/seg/<uid>/`, tiny manifest
  * versions under `vix-NNNNNNNN/`, one atomic commit-marker create
  * publishing every relation's segment list at once. Five relations:
  * `codes` (corpus-sized, each segment partitioned by `cent_id`),
  * `cents`/`codebooks`/`crosst` (metadata-sized), and `tombstones`
  * (deletes-sized, present only between a delete and the next
  * compaction). What the manifest form buys over the previous
  * whole-version SnapshotDir layout:
  *
  *  - EVERY write is a version commit — append, delete, compaction all
  *    publish a new manifest; no operation ever mutates a committed
  *    version in place. A reader pinned at a version observes a frozen
  *    snapshot forever (spec-pinned across later deletes), and a crash
  *    in any writer leaves orphan segments no manifest references plus
  *    the previous version fully intact.
  *  - [[deleteIvfPq]] is a TOMBSTONE SEGMENT in the next version
  *    (deletes-sized — no list rewrite), not an append into the live
  *    version dir: the one prior violation of "committed versions are
  *    immutable" is retired, and probes racing a delete atomically see
  *    pre- or post-delete state, never a torn tombstone file.
  *  - [[compactIvfPq]] carries the metadata relations forward ZERO-COPY
  *    (their segment refs are re-listed in the new manifest; under the
  *    old layout every compaction re-copied them).
  *
  * Single writer per root ([[SnapshotDir.withWriterLock]] — append,
  * delete, compact, rebuild all serialize); any number of concurrent
  * readers, each pinned to the committed manifest it resolved. GC keeps
  * one previous committed version as the in-flight-reader grace window;
  * [[ManifestDir.vacuum]] (run by compaction) sweeps segments no
  * retained version references.
  */
object VectorIndexStore {

  /** Bump when the on-disk layout or the deterministic build recipe
    * changes: [[ensureIvfPq]] markers from older versions stop
    * matching and the index rebuilds instead of serving stale codes. */
  private val FormatVersion = 6 // v6: metadata-relation schemas pinned
  // in the manifest (v5: manifest relations; delete = commit)

  private val Prefix = "vix-"
  private val CodesRel = "codes"
  private val CentsRel = "cents"
  private val CodebooksRel = "codebooks"
  private val CrosstRel = "crosst"
  private val TombstonesRel = "tombstones"
  /** Manifest meta key carrying the codes relation's WRITTEN schema
    * (compact JSON — tab/newline-free by construction). */
  private val SchemaKey = "codes_schema"

  /** The build-recipe marker content — public so observability
    * consumers ([[StoreCatalog]] oracles) can derive the expected
    * string from the same constants the builder stamps. */
  def recipe(ivfCentroidMod: Int, pqCentroidMod: Int, m: Int, dim: Int,
      idCol: String, vecCol: String, saltFilesPerList: Int): String =
    s"""{"v":$FormatVersion,"ivf":$ivfCentroidMod,""" +
      s""""pq":$pqCentroidMod,"m":$m,"dim":$dim,"id":"$idCol",""" +
      s""""vec":"$vecCol","salt":$saltFilesPerList}"""

  private[graft] def currentManifest(spark: SparkSession,
      path: String): ManifestDir.Manifest =
    ManifestDir.require(spark, path, Prefix, "vector index")

  /** Current committed version number, if any — stable pin identity
    * for [[readCodesAt]]. */
  private[graft] def currentVersion(spark: SparkSession,
      path: String): Option[Long] =
    SnapshotDir.committed(spark, path, Prefix).lastOption

  /** Absolute codes segment dirs of the current committed version —
    * layout introspection for specs (file-per-list audits). */
  private[graft] def codesSegmentDirs(spark: SparkSession,
      path: String): Seq[String] =
    ManifestDir.relationDirs(path, currentManifest(spark, path), CodesRel)

  /** Read one codes SEGMENT with the manifest's written schema, not an
    * inferred one. `partitionBy(cent_id)` stores the list id in
    * directory names, and schema inference re-types it from the string
    * values (IntegerType while ids fit an int) — the joins and `isin`
    * pruning would then work only via implicit casts, and a corpus
    * whose ids cross Int.MaxValue would silently flip the inferred
    * type between appends. The manifest pins the exact pre-write
    * schema at commit time; every segment reader declares it. */
  private def readCodesSegment(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** The codes relation AT a manifest: the union of its segment scans
    * (each partition-pruned independently — filters push into every
    * branch), with tombstoned ids shaded out by a deletes-sized
    * broadcast anti-join. Probes and compaction both read this view,
    * so compacting materializes the filtered rows and physically drops
    * them. */
  private def codesAt(spark: SparkSession, path: String,
      m: ManifestDir.Manifest): DataFrame = {
    val schema = DataType.fromJson(m.meta.getOrElse(SchemaKey,
        throw new IllegalStateException(
          s"vector-index manifest at $path carries no $SchemaKey — " +
            "pre-v5 layout; rebuild the index")))
      .asInstanceOf[StructType]
    val codes = ManifestDir.relationDirs(path, m, CodesRel)
      .map(readCodesSegment(spark, _, schema))
      .reduce(_ unionByName _)
    val tombDirs = ManifestDir.relationDirs(path, m, TombstonesRel)
    if (tombDirs.isEmpty) codes
    else codes.join(
      broadcast(spark.read.schema("match_id LONG")
        .parquet(tombDirs: _*)),
      Seq("match_id"), "left_anti")
  }

  /** The served codes view of the CURRENT committed version. */
  private[graft] def readCodes(spark: SparkSession,
      path: String): DataFrame =
    codesAt(spark, path, currentManifest(spark, path))

  /** TIME TRAVEL: the codes view of a SPECIFIC committed version —
    * including that version's own tombstone shading, so a pinned read
    * is frozen forever (a LATER delete commits a later version and
    * cannot reach back; spec-pinned). Fails loudly when the version
    * was never committed or left the GC grace window. */
  private[graft] def readCodesAt(spark: SparkSession, path: String,
      version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => codesAt(spark, path, ManifestDir.read(spark, vd))
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  private def readMeta(spark: SparkSession, path: String,
      m: ManifestDir.Manifest, rel: String): DataFrame =
    ManifestDir.readRelation(spark, path, m, rel)

  /** Delete vectors from the served index by TOMBSTONE: the ids land
    * as a deletes-sized segment and the NEXT COMMITTED VERSION's
    * manifest references it — no list partition is rewritten at delete
    * time, no committed version is touched. [[codesAt]] shades the ids
    * from every consumer of the new version; readers pinned at older
    * versions keep their snapshot. The next [[compactIvfPq]] reads the
    * shaded view, so the rewrite physically drops the rows and the new
    * version carries no tombstone relation.
    *
    * Contract: a tombstone shades its id REGARDLESS of append time —
    * re-inserting a deleted id resurfaces it only after a compaction
    * has absorbed the tombstone (spec-pinned). */
  def deleteIvfPq(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Unit = {
    SnapshotDir.withWriterLock(spark, path) {
      val m = currentManifest(spark, path)
      val seg = ManifestDir.segDir(ManifestDir.newSegmentId(),
        TombstonesRel)
      ids.select(col(idCol).cast("long").as("match_id")).distinct()
        .coalesce(1).write.parquet(s"$path/$seg")
      ManifestDir.commit(spark, path, Prefix,
        m.withSegment(TombstonesRel, seg))
      ()
    }
    SnapshotDir.gc(spark, path, Prefix)
  }

  /** Build the deterministic residual-IVFPQ index over `corpus` and
    * persist it under `path` as one committed manifest version: one
    * codes segment partitioned by list id, one segment per metadata
    * relation, the codes schema pinned in the manifest meta — all
    * published by one marker.
    *
    * `saltFilesPerList` bounds per-file size: 1 (default) clusters each
    * list into ONE file — right while lists fit a block; at real scale
    * a hot list's single file outgrows the block size, so salting
    * spreads each list over up to that many files (`pmod(hash(id),
    * salt)` is deterministic, so the layout is reproducible). Probe
    * plans are unchanged either way — pruning is on the partition
    * DIRECTORY; the salt only splits files inside it. */
  def writeIvfPq(corpus: DataFrame, path: String,
      ivfCentroidMod: Int = 37, pqCentroidMod: Int = 41, m: Int = 8,
      dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding", saltFilesPerList: Int = 1): Unit = {
    require(saltFilesPerList >= 1,
      s"saltFilesPerList must be >= 1, got $saltFilesPerList")
    val ix = Similarity.buildIvfPqIndex(corpus, ivfCentroidMod,
      pqCentroidMod, m, dim, idCol, vecCol)
    val codes = ix.codes()
    // cluster on the partition column before the partitioned write:
    // otherwise every upstream shuffle partition writes a sliver into
    // every list dir — P x C tiny files (observed ~4000 here) instead
    // of one file per list (or saltFilesPerList files when salted).
    val clustered =
      if (saltFilesPerList == 1) codes.repartition(col("cent_id"))
      else codes.repartition(col("cent_id"),
        // the codes relation keys vectors as match_id; each (list,
        // salt) pair lands in one task → ≤ salt files per list dir
        pmod(xxhash64(col("match_id")), org.apache.spark.sql.functions
          .lit(saltFilesPerList.toLong)))
    val spark = corpus.sparkSession
    // the ENTIRE build — codes, the three metadata relations, the
    // schema meta — lands as one batch's segments and becomes visible
    // at a single commit-marker create, so even a recipe-CHANGING
    // rebuild never leaves a probe reading new metadata against old
    // codes.
    SnapshotDir.withWriterLock(spark, path) {
      // one segment UID per relation, NOT one shared build uid:
      // vacuum's liveness unit is the uid, and compaction carries the
      // metadata relations forward while replacing the codes — under a
      // shared uid the forever-referenced cents would pin the
      // pre-compaction codes dir on disk forever
      val codesSeg = ManifestDir.segDir(ManifestDir.newSegmentId(),
        CodesRel)
      val centsSeg = ManifestDir.segDir(ManifestDir.newSegmentId(),
        CentsRel)
      val cbSeg = ManifestDir.segDir(ManifestDir.newSegmentId(),
        CodebooksRel)
      val ctSeg = ManifestDir.segDir(ManifestDir.newSegmentId(),
        CrosstRel)
      // the three metadata relations are tiny and independent of the
      // corpus-sized codes write; overlap all four (guide §2.6). The
      // shared upstream caches (cents, the assignment) are already
      // materialized by the kernel collects at build time, so the
      // concurrent actions reuse them instead of recomputing.
      StoreFiles.inParallel(Seq(
        () => clustered.write.partitionBy("cent_id")
          .parquet(s"$path/$codesSeg"),
        () => ix.cents.write.parquet(s"$path/$centsSeg"),
        () => ix.codebooks.write.parquet(s"$path/$cbSeg"),
        () => ix.crossTable.write.parquet(s"$path/$ctSeg")))
      ManifestDir.commit(spark, path, Prefix, ManifestDir.Empty
        .withSegment(CodesRel, codesSeg)
        .withSegment(CentsRel, centsSeg)
        .withSegment(CodebooksRel, cbSeg)
        .withSegment(CrosstRel, ctSeg)
        .withMeta(SchemaKey, codes.schema.json)
        // pin the metadata relations' written schemas too (r14): every
        // probe/append resolves them, and an inferred read pays a
        // driver footer job per call (ManifestDir.readRelation)
        .withMeta(ManifestDir.schemaKey(CentsRel), ix.cents.schema.json)
        .withMeta(ManifestDir.schemaKey(CodebooksRel),
          ix.codebooks.schema.json)
        .withMeta(ManifestDir.schemaKey(CrosstRel),
          ix.crossTable.schema.json))
      ()
    }
    SnapshotDir.gc(spark, path, Prefix)
  }

  /** [[writeIvfPq]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]): skip the (expensive) build when an
    * index with the SAME recipe is already persisted at `path`. The
    * recipe records the format version and every build parameter;
    * any mismatch — including a library layout bump — rebuilds. Input
    * data is identified by the caller's `path` choice (the query layer
    * keys the path on the dataset dir), which is the usual warehouse
    * contract for a derived table. Returns the build seconds, or None
    * when the warm index was reused — callers benchmarking the serve
    * path get build cost separated for free. */
  def ensureIvfPq(corpus: DataFrame, path: String,
      ivfCentroidMod: Int = 37, pqCentroidMod: Int = 41, m: Int = 8,
      dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFilesPerList: Int = 1): Option[Double] =
    SnapshotDir.ensureBuilt(corpus.sparkSession, path, Prefix,
        VectorIndexStore.recipe(ivfCentroidMod, pqCentroidMod, m, dim,
          idCol, vecCol, saltFilesPerList)) {
      writeIvfPq(corpus, path, ivfCentroidMod, pqCentroidMod, m, dim,
        idCol, vecCol, saltFilesPerList)
    }

  /** Incremental index maintenance: append a new vector batch to a
    * persisted index. The batch is coarse-assigned with the FROZEN
    * stored centroids and PQ-encoded with the FROZEN stored codebooks,
    * then written as ONE new codes segment (partitioned by the lists
    * its vectors land in) and published as the next committed version
    * — the metadata relations never change, untouched lists are never
    * rewritten, and the append is ATOMIC: a writer dying mid-append
    * leaves an orphan segment and the prior version intact. This is
    * classic IVF maintenance: appends are cheap and local; a periodic
    * rebuild re-trains the centroid/codebook samples when the data
    * distribution drifts.
    *
    * The whole append runs under the writer lock: metadata resolved
    * outside it could belong to a version a concurrent rebuild
    * replaces mid-gap — the batch would encode against old centroids
    * yet commit onto the new manifest. Append, compact, delete, and
    * rebuild are all WRITERS under the single-writer contract, which
    * the streaming [[graft.streaming.StreamingSync.vectorAppendSink]]
    * relies on; concurrent PROBES are safe against any of them (they
    * read the manifest they resolved). */
  /** Appends AUTO-COMPACT past this many codes segments. Each append
    * adds one segment, and a probe's scan plan carries one branch per
    * segment — unbounded appends would grow plan width (and per-file
    * open/footer cost) without bound between manual compactions. The
    * guard turns the documented "compact periodically" into a
    * CONTRACT: probe plan width is bounded by construction, no
    * deployment can append its way into a thousand-branch union. */
  val MaxCodesSegments = 32

  def appendIvfPq(spark: SparkSession, path: String, batch: DataFrame,
      m: Int = 8, dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCodesSegments: Int = MaxCodesSegments): Unit = {
    SnapshotDir.withWriterLock(spark, path) {
      val man = currentManifest(spark, path)
      val cents = readMeta(spark, path, man, CentsRel)
      val cb = readMeta(spark, path, man, CodebooksRel)
      val seg = ManifestDir.segDir(ManifestDir.newSegmentId(), CodesRel)
      Similarity.encodeForIndex(batch, cents, cb, m, dim, idCol, vecCol)
        .repartition(col("cent_id"))
        .write.partitionBy("cent_id").parquet(s"$path/$seg")
      ManifestDir.commit(spark, path, Prefix,
        man.withSegment(CodesRel, seg))
      // the width guard: fold the accumulated segments (and any
      // tombstones) back to one as part of the SAME locked admission —
      // the lock is reentrant, so this is one writer span end to end
      if (man.segments(CodesRel).size + 1 > maxCodesSegments)
        compactIvfPq(spark, path)
      ()
    }
    SnapshotDir.gc(spark, path, Prefix)
  }

  /** Compact the codes relation back to one segment with one file per
    * list. Every [[appendIvfPq]] adds a segment (a file per touched
    * list); after many appends a probe pays per-file open/footer costs
    * and a per-segment scan branch, so periodic compaction rewrites
    * the relation clustered on the list id. Tombstones are absorbed:
    * the rewrite reads the SHADED view, so deleted rows are physically
    * dropped and the new version carries no tombstone relation. Codes
    * are otherwise unchanged — only the layout.
    *
    * Metadata relations carry forward ZERO-COPY: the new manifest
    * re-lists their existing segment refs (segments are immutable and
    * shared across versions — the manifest layer's whole point).
    * Concurrent-serving safe: one atomic marker publishes the new
    * version; a probe that already resolved the old manifest keeps
    * reading it (GC retains one previous committed version as the
    * grace window), and the closing vacuum sweeps only segments no
    * retained version references. */
  def compactIvfPq(spark: SparkSession, path: String): Unit = {
    SnapshotDir.withWriterLock(spark, path) {
      val man = currentManifest(spark, path)
      val codes = codesAt(spark, path, man)
      val seg = ManifestDir.segDir(ManifestDir.newSegmentId(), CodesRel)
      codes.repartition(col("cent_id"))
        .write.partitionBy("cent_id").parquet(s"$path/$seg")
      ManifestDir.commit(spark, path, Prefix, man
        .withRelation(CodesRel, Seq(seg))
        .withoutRelation(TombstonesRel))
      SnapshotDir.gc(spark, path, Prefix)
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, Prefix))
      ()
    }
    spark.catalog.refreshByPath(path)
  }

  /** ANN top-k served from a persisted index: identical output to
    * [[Similarity.ivfPqTopK]] over the same corpus (the index build is
    * deterministic and doubles round-trip parquet exactly), but the
    * codes scan is partition-pruned to the probed lists. The whole
    * query pins ONE committed manifest — metadata and codes can never
    * pair across versions. */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int = 2,
      m: Int = 8, dim: Int = 64, shortlistFactor: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val man = currentManifest(spark, path)
    // codes is NOT read eagerly here: the pruned reader below is the
    // only consumer, and an eager full read would pay a partition
    // discovery over every list directory just to be discarded (the
    // whole point of the layout is to avoid that)
    val ix = Similarity.IvfPqIndex(
      cents = readMeta(spark, path, man, CentsRel),
      codes = () => codesAt(spark, path, man),
      codebooks = readMeta(spark, path, man, CodebooksRel),
      crossTable = readMeta(spark, path, man, CrosstRel))
    Similarity.ivfPqSearch(ix, queries, corpus, k, nprobe, m, dim,
      shortlistFactor, idCol, vecCol,
      prunedCodes = Some(ids => codesAt(spark, path, man)
        .filter(col("cent_id").isin(ids: _*))))
  }
}
