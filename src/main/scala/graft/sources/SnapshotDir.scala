package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Commit-marker snapshot protocol for a directory of table versions —
  * the plain-parquet answer to "overwrite a table readers are using".
  *
  * Layout: `<root>/<prefix>NNNNNNNN/` per version; a version is visible
  * iff its `_committed` marker file exists. Publishing is ONE atomic
  * file create — no directory rename anywhere (renames are not atomic
  * on object stores, and a rename swap has an instant where the live
  * path is missing). Readers resolve the highest committed version at
  * scan time; an in-flight reader that resolved version v keeps
  * reading v's files because [[gc]] retains `grace` previous committed
  * versions. A writer that crashes before its marker leaves an
  * invisible directory the next GC sweeps — the live table is never
  * touched. This is the degenerate single-table form of the snapshot
  * commit that table formats (Iceberg, Delta) build manifest layers
  * on top of; swap this object for one of them on a lakehouse
  * deployment and the calling code is unchanged.
  *
  * Single WRITER per root (a plain filesystem has no compare-and-swap
  * to arbitrate two committers); any number of concurrent readers.
  * [[withWriterLock]] enforces that assumption best-effort: every
  * version-claiming writer runs its claim→write→commit span under a
  * create-fail lock marker, so two concurrent committers fail loudly
  * instead of silently racing version numbers. */
private[graft] object SnapshotDir {

  private val CommitMarker = "_committed"
  private[sources] val WriterLock = "_writer.lock"

  /** Run `body` holding the root's writer lock — the guard for the
    * single-writer contract. Best-effort by design on stores without
    * an atomic conditional create (the documented limit of a plain-FS
    * protocol; a lakehouse table format replaces this with a real CAS
    * commit), but every best-effort edge is narrowed:
    *
    *  - acquisition on `file://` uses `File.createNewFile` (O_EXCL —
    *    Hadoop's RawLocalFileSystem `create(overwrite=false)` is a
    *    non-atomic exists-then-create); other schemes use the FS
    *    create-fail;
    *  - the lock carries an owner TOKEN; contended acquisition and
    *    release verify ownership, so a reclaim race cannot end with
    *    two silent holders (the loser throws) and a finishing writer
    *    never deletes a usurper's live lock;
    *  - a heartbeat thread re-touches the lock every `staleMs / 3`, so
    *    a body running longer than the stale window keeps ownership
    *    (only a CRASHED writer's lock goes stale);
    *  - a lock older than `staleMs` is crash debris: it is reclaimed
    *    by atomic RENAME-aside, so of N contenders exactly one wins
    *    the reclaim and the losers throw — a crashed writer delays
    *    the next one by at most the stale window instead of
    *    deadlocking the store, and reclaim races cannot delete a
    *    winner's fresh lock;
    *  - a write failure AFTER a successful create releases the
    *    half-stamped lock and rethrows, instead of silently leaving an
    *    orphan that blocks every writer for the stale window.
    *
    * A live conflicting writer throws — loud beats racing.
    *
    * REENTRANT per thread+root: an ensure path that must wipe a root
    * and then call the store's own (also locked) write path holds ONE
    * lock across the whole destructive span instead of releasing
    * between wipe and rebuild (the window where another writer could
    * acquire a half-wiped root) or failing on its own inner acquire.
    * Nesting is tracked by the root STRING, so callers must pass the
    * same spelling (every store does — paths flow from one field). */
  def withWriterLock[T](spark: SparkSession, root: String,
      staleMs: Long = 15 * 60 * 1000L)(body: => T): T = {
    val depth = heldLocks.get()
    if (depth.getOrElse(root, 0) > 0) {
      // re-entry: the outer frame holds the FS lock + heartbeat
      depth(root) = depth(root) + 1
      try body finally { depth(root) = depth(root) - 1 }
    } else withWriterLockOuter(spark, root, staleMs)(body)
  }

  private val heldLocks =
    new ThreadLocal[scala.collection.mutable.Map[String, Int]] {
      override def initialValue() =
        scala.collection.mutable.Map.empty[String, Int]
    }

  private def withWriterLockOuter[T](spark: SparkSession, root: String,
      staleMs: Long)(body: => T): T = {
    val (fs, _) = fsOf(spark, root)
    val lock = new Path(root, WriterLock)
    val token = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      if (Option(fs.getUri.getScheme).forall(_ == "file")) {
        // java.io O_EXCL create, then stamp: RawLocalFileSystem's
        // create(overwrite=false) is a non-atomic exists-then-create
        val f = new java.io.File(lock.toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        val created =
          try f.createNewFile()
          catch { case _: java.io.IOException => false }
        if (created)
          try {
            val out = fs.create(lock, true) // ours; stamp it
            try out.write(token.getBytes("UTF-8")) finally out.close()
          } catch {
            case e: java.io.IOException =>
              // a lock we cannot stamp would read as anonymous debris:
              // release it rather than block the root for staleMs
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
        created
      } else {
        // one create-fail RPC writing the token directly — no empty-
        // lock window, no second round-trip
        val out =
          try Some(fs.create(lock, false))
          catch { case _: java.io.IOException => None }
        out.exists { o =>
          try { o.write(token.getBytes("UTF-8")); o.close(); true }
          catch {
            case e: java.io.IOException =>
              try o.close() catch { case _: java.io.IOException => () }
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
        }
      }
    // Some(true)=ours, Some(false)=someone else's, None=unreadable
    def ownsLock(): Option[Boolean] =
      try {
        val len = fs.getFileStatus(lock).getLen.toInt.min(256)
        val in = fs.open(lock)
        try {
          val buf = new Array[Byte](len)
          org.apache.hadoop.io.IOUtils.readFully(in, buf, 0, len)
          Some(new String(buf, "UTF-8").startsWith(token))
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    if (!tryAcquire()) {
      val seen =
        try Some(fs.getFileStatus(lock).getModificationTime)
        catch { case _: java.io.IOException => None } // vanished
      val now = System.currentTimeMillis()
      var held = false
      if (seen.forall(now - _ > staleMs)) {
        // reclaim crash debris by RENAME, not delete: rename is atomic
        // where the FS supports it, so of N contenders exactly ONE
        // takes the stale lock aside (the losers' renames fail and
        // they fall through to the throw) — a delete-based reclaim
        // let a loser's queued delete remove the winner's fresh lock
        val aside = new Path(root, s"$WriterLock.reclaim.$token")
        val renamed =
          try fs.rename(lock, aside)
          catch { case _: java.io.IOException => false }
        if (renamed) {
          try fs.delete(aside, false)
          catch { case _: java.io.IOException => () }
          held = tryAcquire()
        }
      }
      // losers land here without ever having created a lock, so the
      // throw leaves no orphan; getOrElse(false) = an unreadable lock
      // is presumed foreign (loud beats racing)
      if (!held && !ownsLock().getOrElse(false))
        throw new IllegalStateException(
          s"concurrent writer holds $lock — SnapshotDir roots are " +
            "single-writer; serialize committers or remove a stale " +
            "lock left by a crashed writer")
    }
    // heartbeat: a long body must not age into the stale window
    val hb = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(math.max(staleMs / 3, 50L))
        // Exception, not just IOException: an FS without setTimes
        // (some object stores) throws UnsupportedOperationException,
        // which must not kill the heartbeat thread — the lock then
        // simply has no renewal there, the pre-heartbeat behavior
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: Exception => () }
      } catch { case _: InterruptedException => () }
    }, s"snapshotdir-lock-heartbeat")
    hb.setDaemon(true)
    hb.start()
    heldLocks.get()(root) = 1
    try body finally {
      heldLocks.get().remove(root)
      hb.interrupt()
      // release only OUR lock — never a usurper's live one. An
      // UNREADABLE lock deletes anyway (availability: a live usurper
      // on a functioning FS has a readable token; wedging every future
      // writer for staleMs on a transient read error is worse than the
      // exotic overrun+usurp race, which heartbeat already prevents)
      try if (ownsLock().getOrElse(true)) fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
    }
  }

  private def fsOf(spark: SparkSession, p: String) = {
    val hp = new Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Destructively reset `root` for a recipe rebuild: deletes every
    * child except the lock file [[ensureBuilt]] holds. */
  private def wipeRootKeepLock(spark: SparkSession, root: String): Unit = {
    val (fs, hp) = fsOf(spark, root)
    if (fs.exists(hp))
      fs.listStatus(hp).foreach { st =>
        if (st.getPath.getName != WriterLock)
          fs.delete(st.getPath, true)
      }
  }

  /** The build-once gate of a versioned store: [[StoreFiles.markerGate]]
    * where "warm" also needs a committed version under `prefix` (a tmp
    * cleaner that ages out version dirs but spares the marker must
    * rebuild, not serve a missing store). A rebuild is a NEW store:
    * old-recipe versions are meaningless under the new recipe, so the
    * whole root (every lineage, branch and history) is wiped first and
    * version numbering restarts at 1. The wipe and `build` run under
    * one reentrant writer lock, sparing the lock file itself, so a
    * live concurrent writer is excluded by the normal protocol instead
    * of losing its lock mid-commit; `build`'s own locked writes nest. */
  def ensureBuilt(spark: SparkSession, root: String, prefix: String,
      recipe: String)(build: => Unit): Option[Double] =
    StoreFiles.markerGate(spark, root, recipe,
        committed(spark, root, prefix).nonEmpty) {
      withWriterLock(spark, root) {
        wipeRootKeepLock(spark, root)
        build
      }
    }

  /** Publish one relation as `root`'s next `prefix` version: under the
    * writer lock, claim the next number, `write(versionDir)`, commit,
    * then [[gc]] with one version of grace; then drop the session's
    * cached listings of `root`. Returns [[gc]]'s aged-out signal. The
    * write may read the version it replaces — that version's files
    * are never touched. */
  def publish(spark: SparkSession, root: String, prefix: String)(
      write: String => Unit): Boolean =
    withWriterLock(spark, root) {
      val v = next(spark, root, prefix)
      write(s"$root/${name(prefix, v)}")
      commit(spark, root, prefix, v)
      val aged = gc(spark, root, prefix)
      spark.catalog.refreshByPath(root)
      aged
    }

  def name(prefix: String, v: Long): String = f"$prefix$v%08d"

  /** All version numbers under `root` with the given prefix, paired
    * with their committed flag. Uncommitted = crash debris (never
    * read, but their numbers are never reused). */
  def versions(spark: SparkSession, root: String,
      prefix: String): Seq[(Long, Boolean)] = {
    val (fs, hp) = fsOf(spark, root)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        scala.util.Try(
          s.getPath.getName.stripPrefix(prefix).toLong).toOption
          .map(v => v -> fs.exists(new Path(s.getPath, CommitMarker)))
      }
  }

  private def committedOf(all: Seq[(Long, Boolean)]): Seq[Long] =
    all.filter(_._2).map(_._1).sorted

  /** Committed version numbers under `root` with the given prefix,
    * ascending. */
  def committed(spark: SparkSession, root: String,
      prefix: String): Seq[Long] =
    committedOf(versions(spark, root, prefix))

  /** Directory of the highest COMMITTED version, if any. */
  def current(spark: SparkSession, root: String,
      prefix: String): Option[String] =
    committed(spark, root, prefix).lastOption
      .map(v => s"$root/${name(prefix, v)}")

  /** Directory of a SPECIFIC committed version — the time-travel read.
    * None if the version was never committed or has been GC'd; callers
    * surface that as "pin expired", never silently fall back to
    * current. */
  def atVersion(spark: SparkSession, root: String, prefix: String,
      v: Long): Option[String] = {
    val (fs, _) = fsOf(spark, root)
    val dir = new Path(s"$root/${name(prefix, v)}")
    if (fs.exists(new Path(dir, CommitMarker))) Some(dir.toString)
    else None
  }

  /** Next version number: above every existing dir, committed or not. */
  def next(spark: SparkSession, root: String, prefix: String): Long =
    versions(spark, root, prefix).map(_._1).foldLeft(0L)(math.max) + 1

  /** Publish a fully-written version: the atomic commit point. */
  def commit(spark: SparkSession, root: String, prefix: String,
      v: Long): Unit = {
    val (fs, _) = fsOf(spark, root)
    val out = fs.create(
      new Path(s"$root/${name(prefix, v)}/$CommitMarker"), true)
    try out.write(
      String.valueOf(System.currentTimeMillis()).getBytes("UTF-8"))
    finally out.close()
  }

  /** Drop old versions, keeping the current plus `grace` previous
    * committed ones as the in-flight-reader window (a scan holding
    * version v must survive until its job ends — one maintenance cycle
    * of retention, the plain-parquet form of snapshot expiry).
    * Uncommitted dirs below the current version are crash debris and
    * go too. Returns true once more than `grace` committed versions
    * exist — the signal that any pre-protocol legacy layout under the
    * root has aged out of its own grace window and may be removed by
    * the caller. */
  def gc(spark: SparkSession, root: String, prefix: String,
      grace: Int = 1): Boolean = {
    val (fs, _) = fsOf(spark, root)
    val all = versions(spark, root, prefix)
    val committed = committedOf(all).reverse
    val keep = committed.take(1 + grace).toSet
    all.filter { case (v, _) => !keep.contains(v) }
      .filter { case (v, isCommitted) =>
        isCommitted || committed.headOption.exists(v < _) }
      .foreach { case (v, _) =>
        fs.delete(new Path(s"$root/${name(prefix, v)}"), true) }
    committed.size > grace
  }
}
