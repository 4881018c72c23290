package graft.sources

import org.apache.spark.sql.SparkSession

/** Zero-copy branching for ANY [[ManifestDir]] store — the lineage
  * machinery hoisted out of [[EdgeStore]] (where it shipped first)
  * so every manifest-versioned family gets "admit this batch on a
  * branch, compare, promote or drop" without re-implementing it.
  *
  * A BRANCH is an independent version lineage in the same root: its
  * version dirs use the prefix `<mainPrefix>b-<name>-`, its first
  * manifest is a verbatim copy of main's current one, and all
  * lineages share the one immutable segment pool under `<root>/seg/`
  * — so branch creation and fast-forward promotion move ZERO data
  * (one tiny manifest commit each), exactly the Iceberg/Delta
  * branch-ref shape in its degenerate plain-parquet form.
  *
  * Isolation: a lineage's readers and appenders resolve only their
  * own prefix; [[ManifestDir.vacuum]]'s multi-prefix form keeps a
  * segment alive while ANY lineage references it (every maintenance
  * caller must sweep with [[allPrefixes]], never a single prefix).
  * All lineages serialize on the one root writer lock — branching is
  * read-path isolation, not write concurrency (the optimistic
  * cross-lineage commit window is [[commitWindow]], below).
  *
  * Branch names are lowercase alnum/underscore ONLY: a dash would
  * make the `<prefix>b-<name>-<version>` dir layout ambiguous to
  * parse back. */
private[graft] object Branches {

  /** Meta key recording the main version a branch was cut from — the
    * fast-forward guard [[promote]] checks. */
  val BaseKey = "branched_from"

  /** Version-dir prefix of branch `name` under a store whose main
    * lineage uses `mainPrefix`. */
  def branchPrefix(mainPrefix: String, name: String): String = {
    require(name.matches("[a-z0-9_]+"),
      s"invalid branch name (want [a-z0-9_]+): $name")
    s"${mainPrefix}b-$name-"
  }

  def prefixOf(mainPrefix: String, branch: Option[String]): String =
    branch.map(branchPrefix(mainPrefix, _)).getOrElse(mainPrefix)

  private def mainVersion(spark: SparkSession, root: String,
      mainPrefix: String): Long =
    SnapshotDir.committed(spark, root, mainPrefix).lastOption.getOrElse(0L)

  /** Create branch `name`: commit main's current manifest (plus the
    * cut-point marker) as the branch's first version. Zero data
    * moves. Returns the branch's first version number. */
  def create(spark: SparkSession, root: String, mainPrefix: String,
      name: String): Long =
    SnapshotDir.withWriterLock(spark, root) {
      val bp = branchPrefix(mainPrefix, name)
      require(SnapshotDir.current(spark, root, bp).isEmpty,
        s"branch '$name' already exists under $root")
      val m = ManifestDir.require(spark, root, mainPrefix, "main")
      ManifestDir.commit(spark, root, bp,
        m.withMeta(BaseKey, mainVersion(spark, root, mainPrefix)
          .toString))
    }

  /** Names of the branches with at least one COMMITTED version under
    * `root`. Uncommitted-only lineages (a createBranch that died
    * before its manifest commit) are crash debris, not branches: they
    * are invisible here — so a `read(branch=...)` race against a
    * phantom name can't arise from this listing — and their dirs are
    * swept like any other uncommitted version. */
  def list(spark: SparkSession, root: String,
      mainPrefix: String): Seq[String] = {
    val (fs, hp) = StoreFiles.fsOf(spark, root)
    if (!fs.exists(hp)) return Nil
    val re = (java.util.regex.Pattern.quote(s"${mainPrefix}b-") +
      "([a-z0-9_]+)-\\d{8,}").r
    fs.listStatus(hp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case re(name) => name }.distinct.sorted
      .filter(n => SnapshotDir.versions(spark, root,
        branchPrefix(mainPrefix, n)).exists(_._2))
  }

  /** Every version-lineage prefix under `root` — main plus committed
    * branches; the reference set vacuum and compaction sweep against. */
  def allPrefixes(spark: SparkSession, root: String,
      mainPrefix: String): Seq[String] =
    mainPrefix +: list(spark, root, mainPrefix)
      .map(branchPrefix(mainPrefix, _))

  /** PROMOTE branch `name` into main — the Iceberg-style FAST-FORWARD
    * publish: main's next version is the branch's current manifest
    * verbatim (zero copy — the branch's segments are already in the
    * shared pool). Allowed ONLY while main still sits at the version
    * the branch was cut from (recorded at [[create]]): if main
    * advanced since, a fast-forward would silently DISCARD main's
    * post-branch commits, so the promote fails loudly instead — this
    * layer has no merge semantics, and pretending otherwise is how
    * lineages lose data. The branch lineage is dropped after the
    * publish (its state IS main now). Returns main's new version. */
  def promote(spark: SparkSession, root: String, mainPrefix: String,
      name: String): Long =
    SnapshotDir.withWriterLock(spark, root) {
      val bp = branchPrefix(mainPrefix, name)
      val bm = ManifestDir.require(spark, root, bp, "branch")
      val baseV = bm.meta.getOrElse(BaseKey,
        throw new IllegalStateException(
          s"branch '$name' carries no $BaseKey marker — " +
            "pre-promote-protocol branch; recreate it")).toLong
      val mainV = mainVersion(spark, root, mainPrefix)
      require(mainV == baseV,
        s"cannot fast-forward branch '$name': main advanced " +
          s"$baseV -> $mainV since the branch was cut; promoting " +
          "would discard main's commits")
      // strip the branch bookkeeping; publish as main's next version
      val v = ManifestDir.commit(spark, root, mainPrefix,
        bm.copy(meta = bm.meta - BaseKey))
      val (fs, _) = StoreFiles.fsOf(spark, root)
      SnapshotDir.versions(spark, root, bp).foreach { case (bv, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$root/${SnapshotDir.name(bp, bv)}"), true)
      }
      SnapshotDir.gc(spark, root, mainPrefix)
      // the dropped branch lineage may have been the only ref to some
      // pre-promote segments once GC trims old main versions — sweep
      // them now (same closing discipline as [[drop]]); other live
      // branches keep their refs through the multi-lineage vacuum
      ManifestDir.vacuum(spark, root,
        allPrefixes(spark, root, mainPrefix))
      v
    }

  /** Drop branch `name`: delete its version lineage (committed and
    * debris), then vacuum — segments shared with main (or another
    * branch) survive; branch-only segments are swept. */
  def drop(spark: SparkSession, root: String, mainPrefix: String,
      name: String): Unit =
    SnapshotDir.withWriterLock(spark, root) {
      val bp = branchPrefix(mainPrefix, name)
      val (fs, _) = StoreFiles.fsOf(spark, root)
      SnapshotDir.versions(spark, root, bp).foreach { case (v, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$root/${SnapshotDir.name(bp, v)}"), true)
      }
      ManifestDir.vacuum(spark, root,
        allPrefixes(spark, root, mainPrefix))
      ()
    }

  /** Vacuum with every lineage's references live — the only sweep
    * shape that is safe on a branched root. Takes the writer lock.
    * `minAgeMs > 0` additionally spares segment dirs younger than the
    * window, which makes the sweep safe to schedule WHILE optimistic
    * writers ([[commitWindow]]) may be in flight: their segments are
    * unreferenced until the commit but always younger than the
    * window; real crash debris ages into sweepability. Size it above
    * the longest admission's write phase. */
  def vacuum(spark: SparkSession, root: String,
      mainPrefix: String, minAgeMs: Long = 0L): Long =
    SnapshotDir.withWriterLock(spark, root) {
      ManifestDir.vacuum(spark, root,
        allPrefixes(spark, root, mainPrefix), minAgeMs)
    }

  /** OPTIMISTIC cross-lineage commit window: run `commit(current)`
    * under the root writer lock, but only after verifying the
    * lineage `prefix` still sits at `claimedVersion` — the version
    * the caller resolved BEFORE doing its (lock-free) segment writes.
    * Writers on DIFFERENT lineages of one root interleave freely —
    * each computes against its own lineage's manifest, segment uids
    * never collide, and the lock is held only across this window —
    * while a same-lineage race loses LOUDLY here (its work was
    * computed against a base that is no longer current; a silent
    * last-writer-wins commit would drop the winner's rows).
    *
    * CONTRACT: while any optimistic writer is in flight, maintenance
    * that sweeps unreferenced segments (compact / drop / promote, or
    * a STRICT vacuum) must not run — an in-flight writer's segments
    * are not yet referenced by any manifest and would be swept from
    * under its commit. Either the orchestrator serializes those the
    * way it already serializes compaction against admission, or the
    * scheduled sweep runs as [[vacuum]] with `minAgeMs` above the
    * longest admission's write phase — young unreferenced segments
    * are then presumed in-flight and spared. */
  def commitWindow[T](spark: SparkSession, root: String,
      prefix: String, claimedVersion: Long,
      lockWaitMs: Long = 60000L)(
      commit: ManifestDir.Manifest => T): T = {
    val deadline = System.nanoTime() + lockWaitMs * 1000000L
    while (true) {
      try {
        return SnapshotDir.withWriterLock(spark, root) {
          val nowV = SnapshotDir.committed(spark, root, prefix)
            .lastOption.getOrElse(0L)
          if (nowV != claimedVersion)
            throw new java.util.ConcurrentModificationException(
              s"lineage '$prefix' advanced $claimedVersion -> $nowV " +
                s"under $root since this batch was computed — its " +
                "base is stale; recompute against the current " +
                "version and retry")
          commit(ManifestDir.require(spark, root, prefix, "store"))
        }
      } catch {
        // the root lock is held only across another writer's commit
        // point — POLL it out instead of failing the whole batch (the
        // fail-fast throw is right for long-held locks, wrong for a
        // window measured in milliseconds); the stale-base CME above
        // is NOT retried — the caller must recompute first
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent writer") =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(50L)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
