package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted similarity-graph edge list — the near-dup pair table the
  * embedding curation queries share. At corpus scale the LSH pair list
  * is the EXPENSIVE artifact (banded candidate join + exact-cosine
  * verify over the whole embedding table); recomputing it inside every
  * consumer (triangle census, cluster labeling, BFS reach, PageRank
  * authority) multiplies that cost by the consumer count. The scale
  * shape is the one the text side already has with
  * [[FingerprintStore]]: build the pairs ONCE under a committed,
  * writer-locked, time-travelable protocol and let every graph
  * consumer read the committed table.
  *
  * Three relations per version, committed TOGETHER through
  * [[ManifestDir]] (v3 — one atomic manifest publish per transaction):
  *
  *  - `pairs`: `(id_a, id_b, cos)` with `id_a < id_b` canonical
  *    ordering — exactly what
  *    [[graft.operators.Similarity.nearDupPairsLsh]] emits, so a
  *    stored read is bit-identical to an inline recompute (cos is
  *    6dp-rounded before persisting; doubles round-trip parquet
  *    exactly);
  *  - `bands`: the banded-signature admission index `(id, band,
  *    bkey)` that lets later batches admit against the corpus without
  *    re-banding it;
  *  - `labels`: the derived cluster-label table ([[ClusterStore]]).
  *
  * The manifest commit is what closed the r10 under-admit crash
  * window: an admission writes its band/pair/label segments first,
  * then publishes ONE new manifest referencing old + new segments —
  * a writer dying at any earlier point leaves orphan segments no
  * reader resolves (swept by the compaction-time vacuum) and the
  * previous version fully intact, instead of a silently
  * indexed-but-pairless batch whose only repair was a store rebuild.
  *
  * Scale shape: the pair table is edge-count sized (linear in the
  * corpus under a banding that works — quadratic pair lists mean the
  * threshold is wrong, not the store), partitioned by parquet row
  * groups like any fact table; consumers run keyed equi-joins and
  * aggregates against it, never all-pairs. */
object EdgeStore {

  private[sources] val Prefix = "edges-"
  val FormatVersion = 4 // v4: pairs/bands schemas pinned in the
  // manifest (v3: atomic multi-relation manifest commits)

  private[sources] val PairsRel = "pairs"
  private[sources] val BandsRel = "bands"
  private[sources] val LabelsRel = "labels"

  /** The build-recipe marker content — public so observability
    * consumers ([[StoreCatalog]] oracles) can derive the expected
    * string from the same constants the builder stamps. */
  def recipe(threshold: Double, bands: Int, rowsPerBand: Int,
      dim: Int): String =
    s"""{"v":$FormatVersion,"t":$threshold,"b":$bands,""" +
      s""""r":$rowsPerBand,"d":$dim}"""

  private[sources] def currentManifest(spark: SparkSession,
      path: String): ManifestDir.Manifest =
    manifestOf(spark, path, Prefix)

  private def manifestOf(spark: SparkSession, path: String,
      prefix: String): ManifestDir.Manifest =
    ManifestDir.require(spark, path, prefix, "edge store")

  private def prefixOf(branch: Option[String]): String =
    Branches.prefixOf(Prefix, branch)

  /** ZERO-COPY BRANCH — the generic [[Branches]] lineage layer (hoisted
    * from this store, where the shape shipped first) applied to the
    * edge root: an independent version lineage whose first manifest is
    * a copy of main's current one, sharing the immutable segment pool.
    * Returns the branch's first version number. */
  def createBranch(spark: SparkSession, path: String,
      name: String): Long =
    Branches.create(spark, path, Prefix, name)

  /** Names of the branches with at least one committed version under
    * `path` (a crashed createBranch's uncommitted debris is not a
    * branch — it never lists, so it can't diverge from the catalog's
    * committed-only count or throw on read). */
  def branches(spark: SparkSession, path: String): Seq[String] =
    Branches.list(spark, path, Prefix)

  /** Every version-lineage prefix under `path` — main plus branches;
    * the reference set [[vacuum]] and [[compact]] sweep against. */
  private def allPrefixes(spark: SparkSession, path: String)
      : Seq[String] =
    Branches.allPrefixes(spark, path, Prefix)

  /** PROMOTE branch `name` into main — [[Branches.promote]]'s
    * fast-forward-only publish (fails loudly when main advanced past
    * the branch's cut point). Returns main's new version. */
  def promoteBranch(spark: SparkSession, path: String,
      name: String): Long =
    Branches.promote(spark, path, Prefix, name)

  /** Drop branch `name`: delete its lineage, vacuum branch-only
    * segments ([[Branches.drop]]). */
  def dropBranch(spark: SparkSession, path: String,
      name: String): Unit =
    Branches.drop(spark, path, Prefix, name)

  /** Write + commit the first version — CALLER HOLDS the writer lock. */
  private def commitInitial(pairs: DataFrame, bandRel: DataFrame,
      path: String): Unit = {
    val spark = pairs.sparkSession
    val segId = ManifestDir.newSegmentId()
    val pairsSeg = ManifestDir.segDir(segId, PairsRel)
    val bandsSeg = ManifestDir.segDir(segId, BandsRel)
    pairs.write.parquet(s"$path/$pairsSeg")
    bandRel.write.parquet(s"$path/$bandsSeg")
    ManifestDir.commit(spark, path, Prefix, ManifestDir.Empty
      .withRelation(PairsRel, Seq(pairsSeg))
      .withRelation(BandsRel, Seq(bandsSeg))
      // pin the written schemas (r14): every admission re-reads both
      // relations, and an inferred read pays a driver footer job per
      // call (ManifestDir.readRelation); meta carries forward through
      // every later append/compact commit
      .withMeta(ManifestDir.schemaKey(PairsRel), pairs.schema.json)
      .withMeta(ManifestDir.schemaKey(BandsRel), bandRel.schema.json))
  }

  /** Publish `pairs` (`id_a`, `id_b`, `cos`) and the `bands` admission
    * index (`id`, `band`, `bkey`) as the first committed version. */
  def writePairs(pairs: DataFrame, bandRel: DataFrame,
      path: String): Unit = {
    val spark = pairs.sparkSession
    SnapshotDir.withWriterLock(spark, path) {
      commitInitial(pairs, bandRel, path)
    }
    SnapshotDir.gc(spark, path, Prefix)
  }

  /** Build (or confirm warm) the embedding near-dup pair store:
    * [[graft.operators.Similarity.nearDupPairsLsh]] persisted behind
    * the build-once gate ([[SnapshotDir.ensureBuilt]]), alongside the
    * banded signature relation that lets later batches admit against
    * the corpus without re-banding it. Returns the build seconds, or
    * None when the warm store was reused. */
  def ensureNearDupPairs(embeddings: DataFrame, path: String,
      threshold: Double, bands: Int, rowsPerBand: Int, dim: Int)
      : Option[Double] =
    SnapshotDir.ensureBuilt(embeddings.sparkSession, path, Prefix,
        EdgeStore.recipe(threshold, bands, rowsPerBand, dim)) {
      writePairs(graft.operators.Similarity.nearDupPairsLsh(
        embeddings, threshold, bands = bands,
        rowsPerBand = rowsPerBand, dim = dim),
        graft.operators.Similarity.bandRelation(embeddings, bands,
          rowsPerBand, dim), path)
    }

  /** Stored pair list `(id_a, id_b, cos)` of the current version —
    * of main, or of a branch lineage when `branch` is given. */
  def read(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      manifestOf(spark, path, prefixOf(branch)), PairsRel)

  /** TIME TRAVEL: the pair list of a SPECIFIC committed version — a
    * free consequence of the manifest layer (each admission is a
    * version whose manifest pins its exact segment list, and segments
    * are immutable). Fails loudly when the version was never
    * committed or has left the GC grace window — callers surface
    * that as "pin expired", never silently fall back to current. */
  def readAt(spark: SparkSession, path: String, version: Long)
      : DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => ManifestDir.readRelation(spark, path,
        ManifestDir.read(spark, vd), PairsRel)
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  /** Stored banded signatures `(id, band, bkey)`. */
  def readBands(spark: SparkSession, path: String): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path), BandsRel)

  /** INCREMENTAL admission: fold an arriving embedding batch into the
    * committed store with batch-sized work AND a batch-sized,
    * fully ATOMIC commit — the continuous-ingest path
    * ([[FingerprintStore.appendBatch]]'s shape on the vector side).
    * New candidate pairs come from (1) the batch's band keys
    * equi-joined against the STORED corpus bands (the corpus is never
    * re-banded or re-scanned beyond the candidate-id vector lookups)
    * and (2) the batch joined against itself; both verify with the
    * exact cosine against `vectors` (the id-keyed source table
    * carrying BOTH sides). Banding is deterministic per vector, so the
    * committed result EQUALS a from-scratch rebuild over the union —
    * the spec pins `admit(base, batch) ≡ full(base ∪ batch)` bit for
    * bit. IDEMPOTENT under redelivery: ids already in the stored band
    * index are dropped before banding (one batch-vs-ids anti-join), so
    * an at-least-once streaming trigger that re-runs admits nothing —
    * the same discipline as the fingerprint admission.
    *
    * CONTRACT — ids are immutable: an id names one embedding forever.
    * The redelivery drop keys on id alone, so a re-arriving id whose
    * payload CHANGED is treated as a duplicate and skipped (its stale
    * pairs stay). An updated embedding must arrive under a new id (and
    * the old id be tombstoned by the caller's curation layer), exactly
    * as in [[VectorIndexStore]].
    *
    * Commit shape: the batch's band rows, verified pairs, and label
    * delta land as NEW segment dirs, then ONE [[ManifestDir]] commit
    * publishes all three relations together — the recurring write is
    * batch-sized, the corpus-sized pair table is never rewritten
    * (file-count hygiene is [[compact]], an explicit maintenance
    * action), and the transaction is atomic: a writer that dies
    * mid-admission leaves orphan segments no committed manifest
    * references (the next vacuum sweeps them), the prior version
    * intact, and the batch genuinely unadmitted — a retry re-admits
    * it whole. The v2 crash window (bands landed, pairs missing,
    * repair = store rebuild) no longer exists. */
  def appendBatch(batch: DataFrame, vectors: DataFrame, path: String,
      threshold: Double, bands: Int, rowsPerBand: Int, dim: Int,
      branch: Option[String] = None): Long = {
    val spark = batch.sparkSession
    val pfx = prefixOf(branch)
    // the current manifest is resolved INSIDE the critical section: an
    // append racing a [[compact]] would otherwise commit a manifest
    // carrying the pre-compact segment lists, resurrecting the
    // un-compacted layout and dropping the compaction
    SnapshotDir.withWriterLock(spark, path) {
      val m = manifestOf(spark, path, pfx)
      writeAdmission(batch, vectors, path, threshold, bands,
        rowsPerBand, dim, m) match {
        case None => 0L
        case Some((n, next)) =>
          // THE transaction: every relation the batch touched becomes
          // visible in one atomic manifest publish (on this lineage)
          ManifestDir.commit(spark, path, pfx, next)
          SnapshotDir.gc(spark, path, pfx)
          n
      }
    }
  }

  /** OPTIMISTIC lineage admission — the cross-lineage concurrency
    * form: candidate generation, verification, and every segment
    * write run with NO lock held (segments are immutable and
    * uid-unique, so parallel writers cannot collide), and only the
    * manifest publish runs inside [[Branches.commitWindow]]'s short
    * root-lock window, which re-verifies the lineage still sits at
    * `claimed` — a main-append and a branch-experiment ingest on one
    * root proceed concurrently instead of serializing their whole
    * banding/verify work; a SAME-lineage race loses loudly at the
    * window (its dedup/pairs were computed against a stale base —
    * recompute and retry). Maintenance that sweeps unreferenced
    * segments (compact / vacuum / drop / promote) must not run while
    * optimistic writers are in flight — the [[Branches.commitWindow]]
    * contract. */
  def appendBatchOptimistic(batch: DataFrame, vectors: DataFrame,
      path: String, threshold: Double, bands: Int, rowsPerBand: Int,
      dim: Int, branch: Option[String] = None): Long = {
    val spark = batch.sparkSession
    val pfx = prefixOf(branch)
    val claimed =
      SnapshotDir.committed(spark, path, pfx).lastOption.getOrElse(0L)
    require(claimed > 0L,
      s"no committed lineage '$pfx' under $path — bootstrap first")
    val m = manifestOf(spark, path, pfx)
    writeAdmission(batch, vectors, path, threshold, bands, rowsPerBand,
      dim, m) match {
      case None => 0L
      case Some((n, next)) =>
        Branches.commitWindow(spark, path, pfx, claimed) { _ =>
          ManifestDir.commit(spark, path, pfx, next)
        }
        SnapshotDir.gc(spark, path, pfx)
        n
    }
  }

  /** The admission WORK of [[appendBatch]]: dedup the batch against
    * the stored band index, verify candidates, write the batch's
    * band/pair/label segments, and return the admitted pair count
    * plus the next manifest referencing them — or None when the whole
    * batch is redelivery. Takes NO lock; the caller decides the
    * envelope (resolve+commit under the writer lock, or claim →
    * lock-free write → optimistic commit window). */
  private def writeAdmission(batch: DataFrame, vectors: DataFrame,
      path: String, threshold: Double, bands: Int, rowsPerBand: Int,
      dim: Int, m: ManifestDir.Manifest)
      : Option[(Long, ManifestDir.Manifest)] = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions._
    {
      val stored = graft.operators.CacheRegistry.tracked(
        ManifestDir.readRelation(spark, path, m, BandsRel))
      // same-id rows within one batch are redelivery duplicates of
      // identical payloads (the vectors table is the id-keyed source of
      // truth), so keep one; ids the index already holds drop out —
      // together the admission is idempotent and the band index stays
      // one row per (id, band)
      val fresh = graft.operators.CacheRegistry.tracked(
        batch.dropDuplicates("vec_id")
          .join(stored.select(col("id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_anti"))
      if (fresh.isEmpty) None // full redelivery: nothing to commit
      else {
        val batchBands = graft.operators.CacheRegistry.tracked(
          graft.operators.Similarity.bandRelation(fresh, bands,
            rowsPerBand, dim))
        val crossCands = batchBands.as("n").join(stored.as("o"),
            col("n.band") === col("o.band") &&
              col("n.bkey") === col("o.bkey") &&
              col("n.id") =!= col("o.id"))
          .select(least(col("n.id"), col("o.id")).as("id_a"),
            greatest(col("n.id"), col("o.id")).as("id_b"))
        val selfCands = batchBands.as("x").join(batchBands.as("y"),
            col("x.band") === col("y.band") &&
              col("x.bkey") === col("y.bkey") &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        // The verified pair set feeds three consumers (the count, the
        // manifest reference, and the label maintenance join). WRITE it
        // first — the segment write is the one materialization the
        // admission must pay anyway — and serve the other two from the
        // written file (a batch-sized scan). This replaces the earlier
        // eager localCheckpoint (whose RDD materialization was its own
        // multi-stage job, pinned executor memory, and still left the
        // segment write as a second pass): one pass of the banded
        // verify join total, two fewer driver actions per admission
        // (r14 §1 profiling: the admission wall time was dominated by
        // per-action fixed costs, not data).
        val segId = ManifestDir.newSegmentId()
        val pairsSeg = ManifestDir.segDir(segId, PairsRel)
        graft.operators.Similarity.verifyCosinePairs(
          crossCands.unionByName(selfCands).distinct(), vectors,
          threshold, dim).write.parquet(s"$path/$pairsSeg")
        val newPairs = spark.read.parquet(s"$path/$pairsSeg")
        val n = newPairs.count()
        val bandsSeg = ManifestDir.segDir(segId, BandsRel)
        batchBands.write.parquet(s"$path/$bandsSeg")
        var next = m.withSegment(BandsRel, bandsSeg)
        if (n == 0) {
          // an all-duplicate batch verified to nothing: drop the empty
          // segment dir now — its uid stays referenced through the
          // bands segment, so the routine vacuum would never sweep it
          val (fs, _) = StoreFiles.fsOf(spark, path)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$pairsSeg"),
            true)
        } else {
          next = next.withSegment(PairsRel, pairsSeg)
          // derived cluster labels ride the SAME manifest commit:
          // merge only the components the new pairs touch. Labels are
          // maintained only when they were fresh for the pre-append
          // manifest — a stale label table (manual surgery) must not
          // be stamped fresh; the next label read repairs it in full
          // ([[ClusterStore.ensureLabels]]).
          if (ClusterStore.labelsFresh(m)) {
            val labelsSeg = ManifestDir.segDir(segId, LabelsRel)
            ClusterStore.maintainDelta(spark, path, m, newPairs)
              .write.parquet(s"$path/$labelsSeg")
            next = next.withSegment(LabelsRel, labelsSeg)
              .withMeta(ClusterStore.SigKey,
                ClusterStore.pairsSig(next.segments(PairsRel)))
          }
        }
        Some((n, next))
      }
    }
  }

  /** TAKEDOWN: remove `ids` from EVERY committed lineage — pairs
    * touching a removed endpoint, the ids' band-index rows, and the
    * label table, all REPLACED and published in one atomic manifest
    * commit per lineage. Filtering the pairs is exact removal
    * semantics AND rebuild semantics at once (banding is per-vector
    * deterministic, so the pairs of the filtered corpus ARE the
    * filtered pairs — spec-pinned); the labels need real repair:
    * deleting a bridge vertex can SPLIT a component, and the min id
    * can vanish, so labels may INCREASE — which is why this path
    * REPLACES the relation instead of riding the append-only
    * min-resolution. Repair is touched-group-sized
    * ([[ClusterStore.repairAfterRemoval]]): only components that lost
    * a member relabel; when the stored labels were already stale the
    * repair falls back to a full endpoint relabel over the surviving
    * pairs. The Louvain L1 relation (if present) is DROPPED — one
    * removed edge can flip distant argmaxes, so the next read
    * rebuilds it. Idempotent: a re-run removes nothing new. */
  def takedown(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Unit = {
    import org.apache.spark.sql.functions.col
    val del = graft.operators.CacheRegistry.tracked(
      ids.select(col(idCol).as("id")).distinct())
    SnapshotDir.withWriterLock(spark, path) {
      allPrefixes(spark, path).foreach { pfx =>
        ManifestDir.current(spark, path, pfx).foreach { m =>
          val segId = ManifestDir.newSegmentId()
          val pairsSeg = ManifestDir.segDir(segId, PairsRel)
          val bandsSeg = ManifestDir.segDir(segId, BandsRel)
          ManifestDir.readRelation(spark, path, m, PairsRel)
            .join(del.select(col("id").as("id_a")), Seq("id_a"),
              "left_anti")
            .join(del.select(col("id").as("id_b")), Seq("id_b"),
              "left_anti")
            .select(col("id_a"), col("id_b"), col("cos"))
            .write.parquet(s"$path/$pairsSeg")
          ManifestDir.readRelation(spark, path, m, BandsRel)
            .join(del, Seq("id"), "left_anti")
            .write.parquet(s"$path/$bandsSeg")
          var next = m
            .withRelation(PairsRel, Seq(pairsSeg))
            .withRelation(BandsRel, Seq(bandsSeg))
          if (m.segments(LabelsRel).nonEmpty) {
            val survivors = spark.read.parquet(s"$path/$pairsSeg")
            val labelsSeg = ManifestDir.segDir(segId, LabelsRel)
            val repaired =
              if (ClusterStore.labelsFresh(m))
                ClusterStore.repairAfterRemoval(spark, path, m, del,
                  survivors)
              else ClusterStore.fullEndpointLabelsOf(survivors)
            repaired.write.parquet(s"$path/$labelsSeg")
            next = next.withRelation(LabelsRel, Seq(labelsSeg))
              .withMeta(ClusterStore.SigKey,
                ClusterStore.pairsSig(Seq(pairsSeg)))
          }
          // Louvain L1 (non-incrementalizable): drop; reads rebuild
          next = next.copy(
            relations = next.relations - ClusterStore.L1Rel,
            meta = next.meta - ClusterStore.L1SigKey)
          ManifestDir.commit(spark, path, pfx, next)
          SnapshotDir.gc(spark, path, pfx)
        }
      }
      ManifestDir.vacuum(spark, path, allPrefixes(spark, path))
      ()
    }
  }

  /** Rewrite the append-accumulated store back to a compact one-
    * segment-per-relation layout in the NEXT committed version (the
    * [[ManifestDir]] protocol: no rename; in-flight readers keep their
    * manifest, whose segments survive until the referencing versions
    * leave the GC grace window). Rows are unchanged — only files; the
    * label table collapses to one resolved row per endpoint. Runs
    * entirely inside the writer lock (an [[appendBatch]] racing the
    * read pass would otherwise commit a manifest resurrecting the
    * pre-compact segment lists), and finishes with the vacuum that
    * sweeps unreferenced segments — crash debris included. */
  def compact(spark: SparkSession, path: String): Unit =
    SnapshotDir.withWriterLock(spark, path) {
      val m = currentManifest(spark, path)
      val segId = ManifestDir.newSegmentId()
      val pairsSeg = ManifestDir.segDir(segId, PairsRel)
      val bandsSeg = ManifestDir.segDir(segId, BandsRel)
      ManifestDir.readRelation(spark, path, m, PairsRel)
        .write.parquet(s"$path/$pairsSeg")
      ManifestDir.readRelation(spark, path, m, BandsRel)
        .repartition(org.apache.spark.sql.functions.col("band"))
        .write.parquet(s"$path/$bandsSeg")
      var next = ManifestDir.Manifest(Map.empty, m.meta)
        .withRelation(PairsRel, Seq(pairsSeg))
        .withRelation(BandsRel, Seq(bandsSeg))
      if (m.segments(LabelsRel).nonEmpty) {
        val labelsSeg = ManifestDir.segDir(segId, LabelsRel)
        ClusterStore.resolvedLabels(spark, path, m)
          .write.parquet(s"$path/$labelsSeg")
        next = next.withRelation(LabelsRel, Seq(labelsSeg))
        // carry freshness forward only if the labels WERE fresh —
        // compacting a stale label table must not bless it
        if (ClusterStore.labelsFresh(m))
          next = next.withMeta(ClusterStore.SigKey,
            ClusterStore.pairsSig(Seq(pairsSeg)))
      }
      ManifestDir.commit(spark, path, Prefix, next)
      SnapshotDir.gc(spark, path, Prefix)
      ManifestDir.vacuum(spark, path, allPrefixes(spark, path))
      ()
    }

  /** Sweep segment dirs NO lineage's committed version references —
    * main and every branch count as references; exposed for
    * crash-recovery drills; [[compact]] runs it as part of normal
    * maintenance. Returns the number of swept segment dirs. */
  def vacuum(spark: SparkSession, path: String): Long =
    SnapshotDir.withWriterLock(spark, path) {
      ManifestDir.vacuum(spark, path, allPrefixes(spark, path))
    }
}
