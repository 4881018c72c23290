package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental view maintenance for a keyed rollup: the materialized
  * aggregate persists as MERGEABLE partial-aggregate rows
  * `(day, event_type, cnt, total)`, and a new batch of facts folds in
  * by aggregating ONLY the batch and summing it into the stored
  * partials by key.
  *
  * This is the warehouse's first persisted-state family: at 100 TB the
  * history is never rescanned — maintaining the view costs O(|batch|)
  * + a keys-sized merge, and the stored state is bounded by the key
  * cardinality (days × types), not the fact count. COUNT and SUM are
  * algebraic, so partials merge exactly; the sum rides a decimal so
  * the merge is order-independent (a double sum would drift by merge
  * order and break replay equality). Non-algebraic measures (e.g.
  * distinct users) would store a sketch state row instead — the same
  * shape the frequency sketches in `CorpusStats` already persist.
  *
  * Versioning (format v4): a [[ManifestDir]] store — each committed
  * version's manifest references one immutable `partials` segment
  * (the state is REPLACED per commit, not appended) plus metadata:
  *
  *  - `batch_tag`: the last applied batch's tag — the streaming
  *    sink's one-deep redelivery guard ([[bootstrapOrAppend]]);
  *  - `applied_tags`: the DURABLE SET of every retraction tag ever
  *    applied, carried forward on every commit — a replayed
  *    [[retractDelta]] is skipped even when OTHER commits landed
  *    between the original retraction and the replay (the version-tag
  *    comparison alone silently double-subtracted in that window).
  *
  * The manifest layer also buys the lineage machinery for free:
  * [[createBranch]]/[[promoteBranch]]/[[dropBranch]] ([[Branches]])
  * give "re-seed the rollup on a branch, compare, promote" — the
  * experiment the fingerprint store's `x_fp_branch` demonstrates, on
  * the rollup family.
  *
  * The reference recomputes its `Cierres` closing totals from the
  * full sheet on every sync (`Code.gs:1545-1620`, `borrarDatos` +
  * re-append); this store is that view maintained incrementally.
  */
object AggStore {

  private val Prefix = "agg-"
  val FormatVersion = 4 // v4: manifest versions; durable applied-tag set
  private val PartialsRel = "partials"
  private val BatchTagKey = "batch_tag"
  private val AppliedTagsKey = "applied_tags"

  /** The build-recipe marker content — public so observability
    * consumers ([[StoreCatalog]] oracles) can derive the expected
    * string from the same constants the builder stamps. */
  def recipe(baseTag: String): String =
    s"""{"v":$FormatVersion,"view":"daily_by_type","base":"$baseTag"}"""

  /** The stored sum type. Wide enough that overflow means ~10^26 in
    * summed value units; kept uniform across bootstrap and merge so
    * every version ships the identical schema. */
  private val StoredSum = DecimalType(28, 2)

  /** Cast a widened sum back to the stored scale, FAILING LOUDLY on
    * overflow: under non-ANSI semantics the cast silently yields
    * NULL, which would persist a corrupted total forever (the
    * maintained view has no recompute to heal it). The range check is
    * arithmetic, not a cast-NULL probe, so the store's contract and
    * message are the same whichever way `spark.sql.ansi.enabled`
    * points (ANSI would otherwise abort inside the cast itself). */
  private[graft] def toStored(c: Column): Column =
    when(c.isNull ||
        abs(c) < lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(26))),
      c.cast(StoredSum))
      .otherwise(raise_error(
        lit("AggStore: total overflows decimal(28,2); widen StoredSum"))
        .cast(StoredSum))

  /** [[toStored]] with the non-ANSI silent-overflow hole closed: a
    * decimal SUM that overflows its own result scale returns NULL
    * under `spark.sql.ansi.enabled=false` BEFORE [[toStored]] ever
    * sees a value, and the isNull branch would persist it. A null sum
    * over a group that had `nonNull > 0` inputs can only mean that
    * overflow — abort. (Under ANSI the sum aborts on its own; this
    * keeps the contract mode-invariant.) */
  private[graft] def toStoredChecked(s: Column, nonNull: Column): Column =
    when(s.isNull && nonNull > 0L,
      raise_error(lit(
        "AggStore: decimal sum overflowed to NULL (non-ANSI); " +
          "widen the sum type")).cast(StoredSum))
      .otherwise(toStored(s))

  private def currentManifest(spark: SparkSession, path: String,
      branch: Option[String] = None): ManifestDir.Manifest = {
    val pfx = Branches.prefixOf(Prefix, branch)
    ManifestDir.require(spark, path, pfx, "aggregate state")
  }

  /** The partial-aggregate rows for a slice of facts: one row per
    * (day, event_type) with exactly-mergeable COUNT/SUM state. The
    * sum lands on the uniform [[StoredSum]] scale so every version
    * (bootstrap or append) persists the identical schema — schema
    * drift across versions is exactly what a state store must not
    * do — and the down-cast in [[toStored]] aborts on overflow
    * instead of persisting NULL. */
  def partials(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        toStoredChecked(sum(col("value").cast(DecimalType(18, 2))),
          count(col("value"))).as("total"))

  /** Merge two partial relations by key (sum of counts, sum of decimal
    * totals). Associative and commutative, so any fold order over any
    * batch split reproduces the full recompute exactly. */
  private def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"),
        toStoredChecked(sum(col("total")), count(col("total")))
          .as("total"))

  /** Commit `state` as lineage `branch`'s next version — CALLER HOLDS
    * the writer lock. Meta carried from `cur`: the branch cut-point
    * marker and the applied-tag set survive every commit; `batch_tag`
    * is replaced (or dropped) per commit. The state rides a
    * NEGATIVE-COUNT abort: counts can never legitimately go below
    * zero, so a negative `cnt` (an over-retraction — wrong input rows
    * or a replay that slipped the guard) fails the write loudly
    * instead of silently persisting corruption. */
  private def commitLocked(spark: SparkSession, path: String,
      branch: Option[String], cur: Option[ManifestDir.Manifest],
      state: DataFrame, batchTag: Option[String],
      newAppliedTag: Option[String] = None): Unit = {
    val pfx = Branches.prefixOf(Prefix, branch)
    val seg = ManifestDir.segDir(ManifestDir.newSegmentId(), PartialsRel)
    state.withColumn("cnt",
        when(col("cnt") < 0L, raise_error(lit(
          "AggStore: negative cnt after merge — over-retraction " +
            "(wrong removed rows or a replayed tag); aborting commit")))
          .otherwise(col("cnt")))
      .write.parquet(s"$path/$seg")
    val carried = cur.map(_.meta - BatchTagKey).getOrElse(Map.empty)
    val tags = appliedTagsOf(cur) ++ newAppliedTag
    val meta = carried ++
      batchTag.map(BatchTagKey -> _) ++
      (if (tags.isEmpty) Map.empty[String, String]
       else Map(AppliedTagsKey -> tags.toSeq.sorted.mkString(",")))
    ManifestDir.commit(spark, path, pfx,
      ManifestDir.Manifest(Map(PartialsRel -> Vector(seg)), meta))
    SnapshotDir.gc(spark, path, pfx)
    // every commit REPLACES the partials relation, so GC'd versions'
    // segments orphan immediately — but the lock does NOT exclude an
    // optimistic appender's in-flight (not-yet-referenced) segments,
    // so the routine sweep is AGE-GUARDED ([[ManifestDir.MaintAgeMs]]);
    // schedule [[Branches.vacuum]] for strict sweeps of quiesced roots
    ManifestDir.vacuum(spark, path,
      Branches.allPrefixes(spark, path, Prefix),
      minAgeMs = ManifestDir.MaintAgeMs)
    ()
  }

  private def appliedTagsOf(cur: Option[ManifestDir.Manifest])
      : Set[String] =
    cur.flatMap(_.meta.get(AppliedTagsKey))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Aggregate `events` and publish the partials as version 1. */
  def writeState(events: DataFrame, path: String,
      batchTag: Option[String] = None): Unit = {
    val spark = events.sparkSession
    SnapshotDir.withWriterLock(spark, path) {
      commitLocked(spark, path, None, None, partials(events), batchTag)
    }
  }

  /** [[writeState]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]). `baseTag` names the slice of facts
    * the base state was built from (e.g. the caller's holdout
    * predicate), so changing the slice REBUILDS instead of silently
    * merging a new delta into stale partials. Returns build seconds, or
    * None when the committed state is warm. */
  def ensureState(events: DataFrame, path: String,
      baseTag: String = ""): Option[Double] =
    SnapshotDir.ensureBuilt(events.sparkSession, path, Prefix,
      AggStore.recipe(baseTag))(writeState(events, path))

  /** Stored partials of a lineage's current committed version. */
  def readState(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), PartialsRel)

  /** TIME TRAVEL: the partials of a SPECIFIC committed main version —
    * "which exact rollup state served this report" stays answerable
    * until retention GC ages the version out (each commit's manifest
    * pins its segment; segments are immutable). Fails loudly when the
    * version was never committed or left the grace window — pin
    * expired, never a silent fallback to current
    * ([[FingerprintStore.readBucketsAt]]'s contract on the rollup). */
  def readStateAt(spark: SparkSession, path: String,
      version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => ManifestDir.readRelation(spark, path,
        ManifestDir.read(spark, vd), PartialsRel)
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  /** Directory of the current committed main version, if any — stable
    * cache identity for consumers that memoize per-version metadata
    * (committed versions are immutable;
    * [[graft.plans.AggStoreRewrite]]'s row-count tie-break keys on
    * it). */
  def currentVersionDir(spark: SparkSession, path: String)
      : Option[String] =
    SnapshotDir.current(spark, path, Prefix)

  /** ZERO-COPY BRANCH of the rollup ([[Branches]]): experiment on the
    * maintained view — append or retract on a branch, compare against
    * main, then promote or drop. Creation and fast-forward promotion
    * move zero data. */
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

  /** The maintained view with `delta` folded in AT READ TIME — the
    * stored state is untouched (idempotent; safe to re-run with the
    * same delta). Plan shape: aggregate the delta (O(|delta|)), union
    * with the keys-sized stored partials, one keys-sized merge
    * aggregate. The fact history is never scanned. */
  def mergedView(spark: SparkSession, path: String,
      delta: DataFrame): DataFrame =
    merge(readState(spark, path), partials(delta))

  /** First batch founds the store, later batches fold in — the
    * streaming sink's per-trigger body
    * ([[graft.streaming.StreamingSync.aggMaintSink]]). `batchTag`
    * makes redelivery idempotent: foreachBatch is AT-LEAST-ONCE (a
    * crash between the store commit and the streaming commit log
    * re-runs the trigger), so the tag of the last applied batch rides
    * the version commit atomically and an arriving batch whose tag
    * matches the CURRENT version is a replay — skipped. Structured
    * Streaming only ever redelivers the most recent uncommitted
    * trigger, so one tag of history is exactly enough. */
  def bootstrapOrAppend(spark: SparkSession, path: String,
      batch: DataFrame, batchTag: Option[String] = None): Unit =
    // the bootstrap-vs-append decision resolves INSIDE the writer
    // lock: a check-then-act outside it let two racing first-writers
    // both see an empty store, serialize through the lock, and the
    // second commit silently drop the first batch
    SnapshotDir.withWriterLock(spark, path) {
      ManifestDir.current(spark, path, Prefix) match {
        case None =>
          commitLocked(spark, path, None, None, partials(batch),
            batchTag)
        case Some(cur) =>
          if (batchTag.isDefined &&
              cur.meta.get(BatchTagKey) == batchTag)
            () // redelivery of the already-committed trigger
          else appendLocked(spark, path, None, cur, batch, batchTag)
      }
    }

  /** The batch tag committed with the current version, if any. */
  def lastBatchTag(spark: SparkSession, path: String): Option[String] =
    currentManifest(spark, path).meta.get(BatchTagKey)

  /** Fold `delta` into the lineage as its next committed version — the
    * write-side twin of [[mergedView]] (same merge, then commit).
    * Applying the same delta twice double-counts: callers either pass
    * a `batchTag` through [[bootstrapOrAppend]] (replay-safe) or own
    * the exactly-once contract themselves (batch dedup keys). */
  def appendDelta(spark: SparkSession, path: String,
      delta: DataFrame, batchTag: Option[String] = None,
      branch: Option[String] = None): Unit =
    SnapshotDir.withWriterLock(spark, path) {
      appendLocked(spark, path, branch,
        currentManifest(spark, path, branch), delta, batchTag)
    }

  /** Merge-and-commit body; caller holds the lock (so the manifest
    * resolved here cannot be GC'd or raced). */
  private def appendLocked(spark: SparkSession, path: String,
      branch: Option[String], cur: ManifestDir.Manifest,
      delta: DataFrame, batchTag: Option[String]): Unit = {
    val stored = ManifestDir.readRelation(spark, path, cur, PartialsRel)
    commitLocked(spark, path, branch, Some(cur),
      merge(stored, partials(delta)), batchTag)
  }

  /** OPTIMISTIC lineage append — concurrent writers on DIFFERENT
    * lineages of one root ([[FingerprintStore.appendBatchOptimistic]]'s
    * envelope on the rollup): the merge against the lineage's current
    * partials computes and its segment writes with NO lock held, and
    * only the manifest publish runs inside [[Branches.commitWindow]]'s
    * short root-lock window, which re-verifies the lineage still sits
    * at the version this merge was computed against. Unlike the
    * fingerprint store's purely-additive appends, the rollup merge
    * DEPENDS on the base state — which is exactly why the stale-claim
    * check is load-bearing here: a same-lineage race loses LOUDLY with
    * `ConcurrentModificationException` (its merge would silently drop
    * the winner's rows); recompute against the new current and retry.
    * Maintenance that sweeps unreferenced segments must not run while
    * optimistic writers are in flight (the [[Branches.commitWindow]]
    * contract) — this path therefore runs NO vacuum; schedule
    * [[Branches.vacuum]] with a `minAgeMs` above the longest
    * admission's write phase instead. */
  def appendDeltaOptimistic(spark: SparkSession, path: String,
      delta: DataFrame, batchTag: Option[String] = None,
      branch: Option[String] = None): Unit = {
    val pfx = Branches.prefixOf(Prefix, branch)
    val claimed =
      SnapshotDir.committed(spark, path, pfx).lastOption.getOrElse(0L)
    require(claimed > 0L,
      s"no committed lineage '$pfx' at $path — bootstrap first")
    val cur = currentManifest(spark, path, branch)
    val stored = ManifestDir.readRelation(spark, path, cur, PartialsRel)
    val seg = ManifestDir.segDir(ManifestDir.newSegmentId(), PartialsRel)
    merge(stored, partials(delta))
      .withColumn("cnt",
        when(col("cnt") < 0L, raise_error(lit(
          "AggStore: negative cnt after merge — over-retraction; " +
            "aborting commit"))).otherwise(col("cnt")))
      .write.parquet(s"$path/$seg")
    Branches.commitWindow(spark, path, pfx, claimed) { m =>
      val meta = (m.meta - BatchTagKey) ++ batchTag.map(BatchTagKey -> _)
      ManifestDir.commit(spark, path, pfx,
        ManifestDir.Manifest(Map(PartialsRel -> Vector(seg)), meta))
    }
    SnapshotDir.gc(spark, path, pfx)
    ()
  }

  /** TAKEDOWN on the maintained view: SUBTRACT the removed facts'
    * contributions — the algebraic COUNT/SUM states make retraction
    * exact (negated partials merge through the same fold; decimal
    * sums can't drift), and a key whose count reaches zero DROPS, so
    * the retracted state is row-identical to a rebuild over the
    * filtered facts (spec-pinned). Retraction is NOT naturally
    * idempotent (subtracting twice double-removes), so `batchTag`
    * lands in the DURABLE `applied_tags` set carried by every later
    * version's manifest: a replay of an applied tag is skipped even
    * when other commits (a scheduled ingest append) landed in
    * between — the window where a current-version tag comparison
    * silently double-subtracted. Belt under the braces: a subtraction
    * that still over-retracts (wrong rows) aborts on the
    * negative-count invariant instead of committing. */
  def retractDelta(spark: SparkSession, path: String,
      removed: DataFrame, batchTag: Option[String] = None,
      branch: Option[String] = None): Unit = {
    batchTag.foreach(t => require(!t.contains(","),
      s"retraction tags join the comma-separated applied set: '$t'"))
    SnapshotDir.withWriterLock(spark, path) {
      val cur = currentManifest(spark, path, branch)
      if (batchTag.exists(appliedTagsOf(Some(cur)).contains)) ()
      else {
        val stored = ManifestDir.readRelation(spark, path, cur,
          PartialsRel)
        val neg = partials(removed).select(col("day"),
          col("event_type"), (-col("cnt")).as("cnt"),
          (-col("total")).cast(StoredSum).as("total"))
        val merged = merge(stored, neg).filter(col("cnt") =!= 0L)
        commitLocked(spark, path, branch, Some(cur), merged, batchTag,
          newAppliedTag = batchTag)
      }
    }
  }
}
