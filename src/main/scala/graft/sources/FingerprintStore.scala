package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted MinHash fingerprint store — the 100 TB shape for
  * INCREMENTAL near-dup deduplication (extension track; the reference
  * has no corpus ops).
  *
  * A production corpus is not deduped from scratch per run: batches
  * arrive continuously, and each batch must be checked against
  * everything already accepted WITHOUT rescanning the accepted text.
  * The store persists the two relations the MinHash+LSH family needs
  * to answer "is this new doc a near-dup of anything we kept":
  *
  *   - `buckets` (id, band, key): the LSH band index — one row per
  *     (doc, band), the join-able form of the banded signature.
  *   - `arrays` (id, shs): the df-capped per-doc shingle arrays the
  *     exact-Jaccard verify reads. Corpus-sized but columnar, and
  *     only candidate ids' rows are ever joined.
  *
  * [[dedupBatchAgainst]] then runs the batch through the SAME
  * deterministic signature pipeline ([[Dedup.seededHash]] md5 hashes —
  * reproducible in any engine, which is what makes the whole path
  * oracle-checkable) and joins the batch's band buckets against the
  * stored index. The batch side is BROADCAST: the recurring cost of
  * admitting a batch is one scan of the store's bucket relation with a
  * map-side hash join — the corpus never shuffles, and nothing ever
  * reads the accepted corpus TEXT again. Exact-Jaccard verification
  * touches only the candidate ids' stored array rows. Accepted
  * survivors are folded in by [[appendBatch]] — batch-sized segment
  * writes, mirroring [[VectorIndexStore.appendIvfPq]]'s maintenance
  * contract.
  *
  * Versioning (format v2): the two relations commit TOGETHER through
  * [[ManifestDir]] — immutable segments under `<root>/seg/<uid>/`,
  * versions that are just manifests, one atomic marker create
  * publishing both relations' segment lists at once. The v1 layout
  * appended buckets then arrays into the live version dir, so a
  * writer dying between the writes left banded docs whose verify
  * arrays were missing — candidate pairs silently dropped at the
  * Jaccard join, under-dedup with no detector (the same class of
  * window the [[EdgeStore]] carried before its v3). Under manifests a
  * crashed append leaves orphan segments no reader resolves and the
  * prior version intact; a retry admits the batch whole.
  * Single writer per store path; any number of concurrent readers,
  * each pinned to the manifest it resolved. */
object FingerprintStore {

  /** Bump when the on-disk layout or signature recipe changes —
    * [[ensureFingerprints]] markers stop matching and the store
    * rebuilds (from a clean root) instead of serving stale
    * fingerprints. */
  private val FormatVersion = 2 // v2: atomic two-relation manifests

  private val Prefix = "fp-"
  private val BucketsRel = "buckets"
  private val ArraysRel = "arrays"

  /** The build-recipe marker content — public so observability
    * consumers ([[StoreCatalog]] oracles) can derive the expected
    * string from the same constants the builder stamps. */
  def recipe(n: Int, numHashes: Int, bands: Int, maxShingleDf: Int,
      idCol: String, textCol: String): String =
    s"""{"v":$FormatVersion,"n":$n,"h":$numHashes,""" +
      s""""b":$bands,"df":$maxShingleDf,"id":"$idCol","text":"$textCol"}"""

  private def currentManifest(spark: SparkSession, path: String,
      branch: Option[String] = None): ManifestDir.Manifest = {
    val pfx = Branches.prefixOf(Prefix, branch)
    ManifestDir.require(spark, path, pfx, "fingerprint store")
  }

  /** ZERO-COPY BRANCH of the fingerprint store — the generic
    * [[Branches]] lineage layer on the fp root. The end-to-end
    * experiment this store exists for: admit a crawl batch on a
    * branch ([[appendBatch]] with `branch`), compare dedup rates
    * against main ([[dedupBatchAgainst]] per lineage), then
    * [[promoteBranch]] or [[dropBranch]]. Creation and fast-forward
    * promotion move zero data; a same-root vacuum keeps a segment
    * alive while ANY lineage references it. */
  def createBranch(spark: SparkSession, path: String,
      name: String): Long =
    Branches.create(spark, path, Prefix, name)

  /** Branches with at least one committed version under `path`. */
  def branches(spark: SparkSession, path: String): Seq[String] =
    Branches.list(spark, path, Prefix)

  /** Fast-forward the branch into main ([[Branches.promote]] — fails
    * loudly when main advanced past the cut point). */
  def promoteBranch(spark: SparkSession, path: String,
      name: String): Long =
    Branches.promote(spark, path, Prefix, name)

  /** Drop the branch lineage and vacuum branch-only segments. */
  def dropBranch(spark: SparkSession, path: String,
      name: String): Unit =
    Branches.drop(spark, path, Prefix, name)

  /** Build the fingerprint relations for `docs` with the standard
    * df-capped MinHash recipe: (buckets, arrays). Shared by the full
    * build and the batch side of dedup/append — one code path means
    * the store and its probes can never disagree on the signature. */
  private def fingerprints(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int,
      maxShingleDf: Int): (DataFrame, DataFrame) = {
    val postings =
      Dedup.cappedPostings(docs, idCol, textCol, n, maxShingleDf)
    (Dedup.bandBuckets(
      Dedup.minhashSignaturesFrom(postings, numHashes), numHashes, bands),
      Dedup.shingleArrays(postings))
  }

  /** Write both relations as one fresh segment and publish the
    * manifest on lineage `pfx` — CALLER HOLDS the writer lock. */
  private def commitSegment(spark: SparkSession, path: String,
      buckets: DataFrame, arrays: DataFrame,
      base: ManifestDir.Manifest, pfx: String = Prefix): Unit = {
    val segId = ManifestDir.newSegmentId()
    val bSeg = ManifestDir.segDir(segId, BucketsRel)
    val aSeg = ManifestDir.segDir(segId, ArraysRel)
    // both relations derive from the one cached postings frame — the
    // writes are independent actions; overlap them (guide §2.6)
    StoreFiles.inParallel(Seq(
      () => buckets.write.parquet(s"$path/$bSeg"),
      () => arrays.write.parquet(s"$path/$aSeg")))
    ManifestDir.commit(spark, path, pfx,
      base.withSegment(BucketsRel, bSeg).withSegment(ArraysRel, aSeg))
    ()
  }

  /** Build the store over `docs` and publish it as one committed
    * version: the bucket index plus the arrays verify relation, one
    * atomic manifest. */
  def writeFingerprints(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      numHashes: Int = 8, bands: Int = 4,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Unit = {
    val spark = docs.sparkSession
    val (buckets, arrays) =
      fingerprints(docs, idCol, textCol, n, numHashes, bands, maxShingleDf)
    SnapshotDir.withWriterLock(spark, path) {
      commitSegment(spark, path, buckets, arrays, ManifestDir.Empty)
    }
    SnapshotDir.gc(spark, path, Prefix)
  }

  /** [[writeFingerprints]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]): skip the corpus-sized build when a
    * store with the SAME recipe is already committed. Returns the
    * build seconds, or None when the warm store was reused. */
  def ensureFingerprints(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      numHashes: Int = 8, bands: Int = 4,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Option[Double] =
    SnapshotDir.ensureBuilt(docs.sparkSession, path, Prefix,
        FingerprintStore.recipe(n, numHashes, bands, maxShingleDf, idCol,
          textCol)) {
      writeFingerprints(docs, path, idCol, textCol, n, numHashes, bands,
        maxShingleDf)
    }

  /** True once a committed store version exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    SnapshotDir.current(spark, path, Prefix).isDefined

  /** Create an EMPTY committed store (schemas derived from `like`'s id
    * column through the real fingerprint pipeline) when none exists —
    * the cold-start of a continuously-admitting pipeline: the first
    * batch then flows through the same admit path as every later one,
    * finding zero matches instead of needing a special bootstrap
    * branch. */
  def bootstrapIfMissing(spark: SparkSession, path: String,
      like: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, numHashes: Int = 8,
      bands: Int = 4,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Unit =
    if (!exists(spark, path))
      writeFingerprints(like.limit(0), path, idCol, textCol, n,
        numHashes, bands, maxShingleDf)

  /** Check a new `batch` against the stored corpus: one row per batch
    * doc with its near-dup evidence against the ACCEPTED corpus —
    * `n_dups` matching stored docs (0 = clean), the smallest matching
    * stored id as provenance, the best Jaccard, and the admission
    * verdict. The batch never sees the corpus text: candidates come
    * from the broadcast band join, verification from the stored
    * arrays.
    *
    * Within-batch duplicates are out of scope by design — the batch
    * self-check is [[Dedup.minhashLshPairs]] over the batch alone
    * (batch-sized, trivially cheap); this operator prices only the
    * batch-vs-corpus question, whose naive form is corpus-sized.
    *
    * `broadcastBatch = false` is the escape hatch for a batch too big
    * to broadcast (a bulk backfill rather than an incremental drip):
    * the same candidate join runs as a shuffle equi-join on
    * (band, key) — identical results, both sides partition by the
    * band key — instead of OOMing the driver on a forced broadcast
    * build (the [[graft.operators.Contamination.ngramOverlap]]
    * contract, applied here). */
  def dedupBatchAgainst(spark: SparkSession, path: String,
      batch: DataFrame, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, numHashes: Int = 8,
      bands: Int = 4, maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
      broadcastBatch: Boolean = true,
      branch: Option[String] = None): DataFrame = {
    val m = currentManifest(spark, path, branch)
    val stored = ManifestDir.readRelation(spark, path, m, BucketsRel)
    val storedArrays = ManifestDir.readRelation(spark, path, m,
      ArraysRel)
    val (batchBuckets0, batchArrays0) = fingerprints(batch, idCol,
      textCol, n, numHashes, bands, maxShingleDf)
    // both batch relations feed two consumers (join + the final left
    // join); cache so the md5-heavy signature agg runs once
    val batchBuckets = graft.operators.CacheRegistry.tracked(batchBuckets0)
    val batchArrays = graft.operators.CacheRegistry.tracked(batchArrays0)
    // the admission-time join: broadcast the batch-sized bucket side so
    // the corpus-sized stored index streams through a map-side hash
    // join — no shuffle of the store, ever (PlanSpec pins this)
    val probeSide =
      if (broadcastBatch) broadcast(batchBuckets.as("b"))
      else batchBuckets.as("b")
    val cands = stored.as("c")
      .join(probeSide,
        col("c.band") === col("b.band") && col("c.key") === col("b.key"))
      .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
      .distinct()
    val matches = Dedup
      .verifyJaccard(cands, batchArrays, storedArrays, threshold)
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_dups"), min(col("id_b")).as("dup_of"),
        max(col("jaccard")).as("best_jaccard"))
    batch.select(col(idCol).as("batch_id"))
      .join(matches.withColumnRenamed("id_a", "batch_id"),
        Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"),
        col("best_jaccard"), col("n_dups").isNull.as("survived"))
  }

  /** Fold an ACCEPTED batch into the store: compute its fingerprints
    * with the same recipe and publish both relations' batch segments
    * in ONE manifest commit — batch-sized, never a corpus rewrite,
    * and ATOMIC: a writer dying mid-append leaves orphan segments and
    * the prior version intact (no more banded-but-unverifiable docs).
    * The caller decides acceptance (usually the `survived` rows of
    * [[dedupBatchAgainst]], after its own within-batch dedup). Single
    * writer; the manifest is resolved INSIDE the lock so an append
    * cannot race a [[compact]] and resurrect pre-compact segment
    * lists. */
  def appendBatch(spark: SparkSession, path: String, accepted: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      numHashes: Int = 8, bands: Int = 4,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
      branch: Option[String] = None): Unit = {
    val pfx = Branches.prefixOf(Prefix, branch)
    val (buckets, arrays) = fingerprints(accepted, idCol, textCol, n,
      numHashes, bands, maxShingleDf)
    SnapshotDir.withWriterLock(spark, path) {
      commitSegment(spark, path, buckets, arrays,
        currentManifest(spark, path, branch), pfx)
    }
    SnapshotDir.gc(spark, path, pfx)
  }

  /** OPTIMISTIC lineage append — concurrent writers on DIFFERENT
    * lineages of one root: the batch's fingerprints compute and its
    * segments write with NO lock held (segments are immutable and
    * uid-unique, so parallel writers cannot collide), and only the
    * manifest publish runs inside [[Branches.commitWindow]]'s short
    * root-lock window, which re-verifies the lineage still sits at the
    * version this batch was computed against. A main-append and a
    * branch-append interleave freely — each reads only its own
    * lineage's manifest; a SAME-lineage race loses LOUDLY at the
    * window (its fingerprints were capped/committed against a stale
    * base) with `ConcurrentModificationException` — recompute and
    * retry. Maintenance that sweeps unreferenced segments (compact /
    * drop / promote / vacuum) must not run while optimistic writers
    * are in flight — their segments are unreferenced until the commit
    * (the [[Branches.commitWindow]] contract). */
  def appendBatchOptimistic(spark: SparkSession, path: String,
      accepted: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, numHashes: Int = 8,
      bands: Int = 4, maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
      branch: Option[String] = None): Unit = {
    val pfx = Branches.prefixOf(Prefix, branch)
    val claimed =
      SnapshotDir.committed(spark, path, pfx).lastOption.getOrElse(0L)
    require(claimed > 0L,
      s"no committed lineage '$pfx' at $path — bootstrap first")
    val (buckets, arrays) = fingerprints(accepted, idCol, textCol, n,
      numHashes, bands, maxShingleDf)
    val segId = ManifestDir.newSegmentId()
    val bSeg = ManifestDir.segDir(segId, BucketsRel)
    val aSeg = ManifestDir.segDir(segId, ArraysRel)
    // both relations derive from the one cached postings frame — the
    // writes are independent actions; overlap them (guide §2.6)
    StoreFiles.inParallel(Seq(
      () => buckets.write.parquet(s"$path/$bSeg"),
      () => arrays.write.parquet(s"$path/$aSeg")))
    Branches.commitWindow(spark, path, pfx, claimed) { cur =>
      ManifestDir.commit(spark, path, pfx,
        cur.withSegment(BucketsRel, bSeg).withSegment(ArraysRel, aSeg))
    }
    SnapshotDir.gc(spark, path, pfx)
    ()
  }

  /** The stored LSH bucket index `(id, band, key)` of a lineage's
    * current version — the store's primary relation, exposed so a
    * branch experiment can read both lineages back (the isolation
    * check `x_fp_branch` oracles from first principles). */
  def readBuckets(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), BucketsRel)

  /** The stored df-capped shingle arrays `(id, shs)` of a lineage's
    * current version — the verify relation, exposed for takedown
    * audits. */
  def readArrays(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), ArraysRel)

  /** TIME TRAVEL: the bucket index of a SPECIFIC committed main
    * version — "which exact fingerprint state admitted this corpus"
    * (each admission is a version whose manifest pins its segment
    * list; segments are immutable). Fails loudly when the version was
    * never committed or left the GC grace window — pin expired, never
    * a silent fallback to current. [[EdgeStore.readAt]]'s contract on
    * the dedup side. */
  def readBucketsAt(spark: SparkSession, path: String,
      version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => ManifestDir.readRelation(spark, path,
        ManifestDir.read(spark, vd), BucketsRel)
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  /** TAKEDOWN: remove every fingerprint row of `ids` from EVERY
    * committed lineage (main and branches — a branch still serving a
    * removed document is the same compliance leak). Per lineage, both
    * relations rewrite through one anti-join each and publish in ONE
    * atomic manifest commit (relations REPLACED, not appended), so a
    * reader never observes a half-removed id. Surviving documents
    * keep their stored fingerprints byte-for-byte — the signature is
    * per-doc deterministic, so removal IS the anti-join (no re-capping
    * of the survivors; the store's df cap is admission-path state, as
    * everywhere else in its incremental design). Idempotent: a re-run
    * anti-joins nothing. Old versions age out through the normal GC
    * grace window; retention policy, not this call, governs how long
    * the pre-takedown version stays readable. */
  def takedown(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "doc_id"): Unit = {
    val del = ids.select(col(idCol).as("id")).distinct()
    SnapshotDir.withWriterLock(spark, path) {
      Branches.allPrefixes(spark, path, Prefix).foreach { pfx =>
        ManifestDir.current(spark, path, pfx).foreach { m =>
          val segId = ManifestDir.newSegmentId()
          val bSeg = ManifestDir.segDir(segId, BucketsRel)
          val aSeg = ManifestDir.segDir(segId, ArraysRel)
          StoreFiles.inParallel(Seq( // independent rewrites (§2.6)
            () => ManifestDir.readRelation(spark, path, m, BucketsRel)
              .join(del, Seq("id"), "left_anti")
              .write.parquet(s"$path/$bSeg"),
            () => ManifestDir.readRelation(spark, path, m, ArraysRel)
              .join(del, Seq("id"), "left_anti")
              .write.parquet(s"$path/$aSeg")))
          ManifestDir.commit(spark, path, pfx, m
            .withRelation(BucketsRel, Seq(bSeg))
            .withRelation(ArraysRel, Seq(aSeg)))
          SnapshotDir.gc(spark, path, pfx)
        }
      }
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, Prefix))
      ()
    }
  }

  /** RETENTION EXPIRY — the compliance END-STATE after a takedown:
    * drop committed versions beyond `grace` on EVERY lineage and
    * vacuum the segments only they referenced. The takedown itself
    * rewrites serve paths but intentionally leaves the pre-takedown
    * version readable through the normal GC grace window (in-flight
    * readers); running this with the retention policy's grace makes
    * the removed documents' fingerprints gone FROM HISTORY — a pinned
    * [[readBucketsAt]] of an expired version fails loudly, and the
    * bytes are physically deleted (spec-pinned). `grace = 0` is the
    * immediate-hard-delete policy. */
  def expireRetention(spark: SparkSession, path: String,
      grace: Int = 1): Unit =
    SnapshotDir.withWriterLock(spark, path) {
      Branches.allPrefixes(spark, path, Prefix).foreach(pfx =>
        SnapshotDir.gc(spark, path, pfx, grace))
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, Prefix))
      ()
    }

  /** Rewrite the append-accumulated store back to one segment per
    * relation in the NEXT committed version. Fingerprints are
    * unchanged — only files; the vacuum that closes it sweeps
    * unreferenced segments, crash debris included. */
  def compact(spark: SparkSession, path: String): Unit =
    SnapshotDir.withWriterLock(spark, path) {
      val m = currentManifest(spark, path)
      val buckets = ManifestDir.readRelation(spark, path, m, BucketsRel)
        .repartition(col("band"))
      val arrays = ManifestDir.readRelation(spark, path, m, ArraysRel)
      commitSegment(spark, path, buckets, arrays, ManifestDir.Empty)
      SnapshotDir.gc(spark, path, Prefix)
      // every lineage's references are live: a single-prefix sweep on
      // a branched root would delete branch-only segments
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, Prefix))
      ()
    }
}
