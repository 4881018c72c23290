package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based table versions on top of [[SnapshotDir]] — the layer
  * that makes a MULTI-RELATION batch append one atomic transaction.
  *
  * [[SnapshotDir]] alone gives atomic single-relation publication: a
  * version directory holds the data and becomes visible when its
  * commit marker lands. Its documented limit is the in-place append —
  * a store whose version carries several relations (the
  * [[EdgeStore]]'s pairs + band index + cluster labels) appends them
  * as separate writes into the live version dir, and a writer dying
  * between relation writes leaves the version internally skewed
  * (indexed-but-pairless batches, the r10 under-admit crash window).
  *
  * The fix is the degenerate form of an Iceberg/Delta snapshot:
  * SEPARATE DATA FROM VERSIONS.
  *
  *  - Data lives in immutable SEGMENT directories under
  *    `<root>/seg/<uid>/<relation>/`, written BEFORE any commit and
  *    never modified afterwards (parquet part files land there via a
  *    normal Spark write).
  *  - A VERSION directory (`<root><prefix>NNNNNNNN/`) holds only a
  *    tiny MANIFEST file listing, per relation, the root-relative
  *    segment dirs that make up the relation at that version — plus
  *    free-form metadata key/values (recipes, label signatures).
  *  - The commit point is unchanged: [[SnapshotDir.commit]]'s single
  *    atomic marker create. One create now publishes EVERY relation's
  *    new segment list at once, so a batch append that writes three
  *    relations is transactional: a crash at any earlier point leaves
  *    orphan segment dirs that NO committed manifest references —
  *    invisible to every reader, swept by [[vacuum]] — and the
  *    previous version fully intact.
  *
  * Immutability also retires the refresh dance: readers materialize a
  * fresh file listing per manifest resolution, and since no file under
  * a referenced segment ever changes, cached file statuses can never
  * go stale.
  *
  * Single writer per root (the [[SnapshotDir.withWriterLock]]
  * contract); any number of concurrent readers, each pinned to the
  * committed manifest it resolved. Segment paths are root-RELATIVE so
  * a recursive directory copy of the store stays self-contained (the
  * clone-based maintenance specs rely on that). */
private[graft] object ManifestDir {

  /** One committed table state: relation → ordered root-relative
    * segment dirs, plus metadata key/values. Values must be tab- and
    * newline-free (enforced at [[write]]). */
  case class Manifest(relations: Map[String, Seq[String]],
      meta: Map[String, String]) {
    def segments(rel: String): Seq[String] =
      relations.getOrElse(rel, Vector.empty)
    def withSegment(rel: String, segDir: String): Manifest =
      copy(relations = relations + (rel -> (segments(rel) :+ segDir)))
    /** Replace a relation's whole segment list (compaction). */
    def withRelation(rel: String, segDirs: Seq[String]): Manifest =
      copy(relations = relations + (rel -> segDirs))
    /** Drop a relation entirely (a compaction absorbing tombstones). */
    def withoutRelation(rel: String): Manifest =
      copy(relations = relations - rel)
    def withMeta(k: String, v: String): Manifest =
      copy(meta = meta + (k -> v))
  }

  val Empty: Manifest = Manifest(Map.empty, Map.empty)

  private val FileName = "_manifest.tsv"
  private val Header = "graft-manifest\tv1"

  /** Fresh segment id — the uid component of [[segDir]]. */
  def newSegmentId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Root-relative segment dir for one relation of one batch: every
    * relation a batch writes shares the batch's uid, so the on-disk
    * layout groups a transaction's files together. */
  def segDir(segId: String, rel: String): String = s"seg/$segId/$rel"

  /** Serialize `m` into `versionDir` — called BEFORE
    * [[SnapshotDir.commit]], like any other pre-commit file of the
    * version. Line format: header, then `R<TAB>rel<TAB>segdir` and
    * `M<TAB>key<TAB>value` rows (order preserved for relations). */
  def write(spark: SparkSession, versionDir: String,
      m: Manifest): Unit = {
    def clean(s: String): String = {
      Predef.require(!s.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"manifest fields must be tab/newline-free: $s")
      s
    }
    val lines = Seq(Header) ++
      m.relations.toSeq.sortBy(_._1).flatMap { case (rel, segs) =>
        segs.map(sd => s"R\t${clean(rel)}\t${clean(sd)}") } ++
      m.meta.toSeq.sortBy(_._1).map { case (k, v) =>
        s"M\t${clean(k)}\t${clean(v)}" }
    StoreFiles.writeText(spark, s"$versionDir/$FileName",
      lines.mkString("\n"))
  }

  /** [[read]] that yields None when the version has no manifest — the
    * probe observability consumers use on stores that may predate (or
    * never use) the manifest layer. */
  def tryRead(spark: SparkSession, versionDir: String)
      : Option[Manifest] =
    StoreFiles.readText(spark, s"$versionDir/$FileName")
      .map(_ => read(spark, versionDir))

  def read(spark: SparkSession, versionDir: String): Manifest = {
    val text = StoreFiles.readText(spark, s"$versionDir/$FileName")
      .getOrElse(throw new IllegalStateException(
        s"committed version $versionDir has no $FileName — not a " +
          "manifest store (or a pre-manifest layout; rebuild the store)"))
    val lines = text.split("\n").toSeq
    Predef.require(lines.headOption.contains(Header),
      s"unrecognized manifest header in $versionDir/$FileName")
    val rels = scala.collection.mutable.LinkedHashMap[String,
      Vector[String]]()
    val meta = scala.collection.mutable.LinkedHashMap[String, String]()
    lines.drop(1).filter(_.nonEmpty).foreach { ln =>
      ln.split("\t", -1) match {
        case Array("R", rel, sd) =>
          rels(rel) = rels.getOrElse(rel, Vector.empty) :+ sd
        case Array("M", k, v) => meta(k) = v
        case other => throw new IllegalStateException(
          s"malformed manifest line '${other.mkString("\\t")}' in " +
            s"$versionDir/$FileName")
      }
    }
    Manifest(rels.toMap, meta.toMap)
  }

  private val StatsFile = "_segstats.tsv"
  private val StatsHeader = "graft-segstats\tv1"

  /** Per-segment `(files, bytes)` recorded in a committed version dir,
    * if present (versions committed before the stats sidecar shipped
    * have none — consumers fall back to walking). */
  private[graft] def readStats(spark: SparkSession, versionDir: String)
      : Option[Map[String, (Long, Long)]] =
    StoreFiles.readText(spark, s"$versionDir/$StatsFile").map { text =>
      val lines = text.split("\n").toSeq
      Predef.require(lines.headOption.contains(StatsHeader),
        s"unrecognized segstats header in $versionDir/$StatsFile")
      lines.drop(1).filter(_.nonEmpty).map(_.split("\t", -1) match {
        case Array(sd, f, b) => sd -> (f.toLong, b.toLong)
        case other => throw new IllegalStateException(
          s"malformed segstats line '${other.mkString("\\t")}' in " +
            s"$versionDir/$StatsFile")
      }).toMap
    }

  /** One listing of a segment dir → (files, bytes). Recursive, because
    * a segment may be a PARTITIONED write (the vector index's codes
    * segments carry `cent_id=` subdirs) — still bounded by the one
    * segment's own files, never a root walk. */
  private def listSegment(spark: SparkSession, root: String,
      segDir: String): (Long, Long) = {
    val (fs, _) = StoreFiles.fsOf(spark, root)
    val it = fs.listFiles(
      new org.apache.hadoop.fs.Path(s"$root/$segDir"), true)
    var n = 0L; var b = 0L
    while (it.hasNext) { val f = it.next(); n += 1; b += f.getLen }
    (n, b)
  }

  /** Publish `m` as the next committed version of `root` — CALLER
    * HOLDS the writer lock and has already finished every segment
    * write `m` references. This is the transaction's commit point:
    * one atomic marker create makes all of `m`'s relations visible
    * together.
    *
    * The version dir also records per-segment FILE STATS (count,
    * bytes) as a sidecar: segments are immutable, so stats for
    * segments carried over from the previous version copy forward and
    * only the batch's NEW segments are listed — the write-side cost is
    * batch-sized, and observability consumers ([[StoreCatalog]]) serve
    * `n_files`/`bytes` from the records instead of a recursive
    * root walk (the lakehouse metadata-table shape). */
  def commit(spark: SparkSession, root: String, prefix: String,
      m: Manifest): Long = {
    val prev = SnapshotDir.current(spark, root, prefix)
      .flatMap(readStats(spark, _)).getOrElse(Map.empty)
    val segs = m.relations.values.flatten.toSeq.distinct
    val stats = segs.map(sd =>
      sd -> prev.getOrElse(sd, listSegment(spark, root, sd)))
    val v = SnapshotDir.next(spark, root, prefix)
    val vdir = s"$root/${SnapshotDir.name(prefix, v)}"
    write(spark, vdir, m)
    StoreFiles.writeText(spark, s"$vdir/$StatsFile",
      (Seq(StatsHeader) ++ stats.map { case (sd, (f, b)) =>
        s"$sd\t$f\t$b" }).mkString("\n"))
    SnapshotDir.commit(spark, root, prefix, v)
    v
  }

  /** The current committed manifest, if any. */
  def current(spark: SparkSession, root: String, prefix: String)
      : Option[Manifest] =
    SnapshotDir.current(spark, root, prefix).map(read(spark, _))

  /** The current committed manifest of `prefix`'s lineage — loud when
    * there is none (`what` names the store in the message). */
  def require(spark: SparkSession, root: String, prefix: String,
      what: String): Manifest =
    current(spark, root, prefix).getOrElse(throw new IllegalStateException(
      s"no committed $what lineage '$prefix' under $root"))

  /** Absolute dirs of `rel`'s segments under `root`. */
  def relationDirs(root: String, m: Manifest, rel: String): Seq[String] =
    m.segments(rel).map(sd => s"$root/$sd")

  /** Scan one relation: a plain multi-path parquet read over the
    * manifest's segment dirs — filters and pruning push down exactly
    * as on a single-dir table. When the manifest carries the relation's
    * WRITTEN schema under `<rel>_schema` (see [[schemaKey]]), the read
    * DECLARES it instead of inferring: schema inference is a
    * driver-side footer-read job per read call, and r14 profiling
    * measured it (plus its listing) as a large share of the
    * manifest-store lifecycle queries' driver gaps. Manifests written
    * before a store pinned its schemas fall back to inference
    * unchanged. */
  def readRelation(spark: SparkSession, root: String, m: Manifest,
      rel: String): DataFrame = {
    val dirs = relationDirs(root, m, rel)
    Predef.require(dirs.nonEmpty, s"manifest has no segments for relation " +
      s"'$rel' under $root")
    m.meta.get(schemaKey(rel)) match {
      case Some(js) =>
        val schema = org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }
  }

  /** Manifest meta key carrying `rel`'s written schema (JSON). Writers
    * opt in at commit time with
    * `.withMeta(schemaKey(rel), df.schema.json)`; [[readRelation]] then
    * declares the schema instead of inferring it per read. */
  def schemaKey(rel: String): String = s"${rel}_schema"

  /** Delete segment dirs referenced by NO committed version — crash
    * debris from appends that died before their manifest commit, and
    * segments whose last referencing version was GC'd. CALLER HOLDS
    * the writer lock: the only segments not yet referenced by a
    * committed manifest but still live are an in-flight writer's, and
    * the lock guarantees there is no such writer but the caller.
    * Returns the number of swept segment dirs. */
  def vacuum(spark: SparkSession, root: String, prefix: String): Long =
    vacuum(spark, root, Seq(prefix))

  /** The vacuum window ROUTINE per-commit maintenance must use on any
    * root that also accepts OPTIMISTIC writers: the commit lock does
    * NOT exclude an optimistic appender's pre-publish segment writes
    * (that is the whole point of the optimistic path), so a strict
    * `minAgeMs = 0` sweep inside a locked commit would delete the
    * in-flight batch's not-yet-referenced segments out from under its
    * pending [[graft.sources.Branches.commitWindow]] publish — the
    * batch then fails with FileNotFoundException, or worse lands a
    * manifest whose segment the sweep half-deleted. Sized to the
    * writer-lock stale window: any unreferenced segment OLDER than
    * this belongs to a writer that is provably crashed (a live one
    * heartbeats its lock and publishes well inside the window), so the
    * sweep stays safe while still bounding orphan accumulation to one
    * window's worth of commits. Strict sweeps remain available to
    * maintenance entry points that OWN the whole root's write traffic
    * (explicit store `vacuum()` APIs, compaction of a quiesced store). */
  val MaintAgeMs: Long = 15 * 60 * 1000L

  /** Multi-lineage vacuum: a root that carries BRANCHES (several
    * version lineages sharing one segment pool — [[EdgeStore]]'s
    * zero-copy branch refs) must treat a segment as live when ANY
    * lineage's committed manifest references it; sweeping with a
    * single prefix would delete branch-only (or main-only) segments
    * out from under the other refs. Callers enumerate every lineage
    * prefix under the root.
    *
    * `minAgeMs` is the OPTIMISTIC-WRITER guard: an in-flight
    * [[Branches.commitWindow]] writer's segments are written before
    * any manifest references them, so a concurrent vacuum would read
    * them as orphans and sweep them from under the pending commit.
    * With `minAgeMs > 0` only segment dirs older than the window are
    * candidates — size it above the longest admission's write phase
    * (crash debris is permanent and ages past any window; a live
    * writer's segments are by definition younger than its own run).
    * The default 0 keeps the strict sweep for callers that hold the
    * lock across the WHOLE admission (the locked append paths), where
    * the lock itself rules out in-flight writers. */
  def vacuum(spark: SparkSession, root: String,
      prefixes: Seq[String], minAgeMs: Long = 0L): Long = {
    val (fs, _) = StoreFiles.fsOf(spark, root)
    val segRoot = new org.apache.hadoop.fs.Path(s"$root/seg")
    if (!fs.exists(segRoot)) return 0L
    val manifests = prefixes.flatMap(prefix =>
      SnapshotDir.committed(spark, root, prefix)
        .map(v => tryRead(spark, s"$root/${SnapshotDir.name(prefix, v)}")))
    // a committed version WITHOUT a manifest (pre-manifest layout
    // debris) has unknown references — sweeping anything next to it
    // could delete live data, so the vacuum declines conservatively
    if (manifests.exists(_.isEmpty)) return 0L
    val referenced = manifests.flatten
      .flatMap(_.relations.values.flatten)
      // "seg/<uid>/<rel>" → <uid>; a whole uid survives if any of its
      // relations is referenced (they committed together anyway)
      .flatMap(_.split("/") match {
        case Array("seg", uid, _*) => Some(uid)
        case _ => None
      }).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val swept = fs.listStatus(segRoot).toSeq
      .filter(s => s.isDirectory &&
        !referenced.contains(s.getPath.getName) &&
        (minAgeMs == 0L || s.getModificationTime < cutoff))
    swept.foreach(s => fs.delete(s.getPath, true))
    swept.size.toLong
  }
}
