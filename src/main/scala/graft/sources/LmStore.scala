package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted bigram language model — the serving half of the
  * perplexity quality filter (the CCNet lifecycle: the model trains
  * ONCE on a curated target-domain sample, then every crawl snapshot
  * scores against the frozen model; retraining per corpus would make
  * scores incomparable across snapshots).
  *
  * Two relations per version, both bounded by VOCABULARY size:
  *  - `unigrams` `(term, ucnt)` — the conditional's denominator
  *    and the model vocabulary (V = row count);
  *  - `bigrams` `(bg, bcnt)` — the numerator counts.
  *
  * Versioning (format v2): a [[ManifestDir]] store — BOTH count
  * relations commit as one atomic manifest (under the previous
  * SnapshotDir layout they were two writes into one version dir, a
  * crash window between them), with the replay metadata the takedown
  * path needs riding the same commit:
  *
  *  - `batch_tag`: the last applied batch's tag;
  *  - `applied_tags`: the DURABLE SET of every retraction tag ever
  *    applied, carried forward on every commit, so a replayed
  *    [[retractDocs]] is skipped even when other commits landed in
  *    between ([[AggStore]]'s discipline, shared failure mode).
  *
  * The manifest layer also buys lineage branching: retrain/retract the
  * model on a branch ([[createBranch]] + `branch` params), compare
  * scores against main, then [[promoteBranch]] or [[dropBranch]].
  *
  * Scale shape: scoring a 100 TB corpus is one codegen'd bigram
  * explode, two vocabulary-sized joins (AQE broadcasts them while
  * they fit; past that they shuffle on the word key, which is
  * correct), and one per-doc aggregate. Out-of-model material scores
  * at the add-α smoothing floor instead of being dropped — the
  * behavior that makes a frozen model usable on unseen crawls. */
object LmStore {

  private val Prefix = "lm-"
  val FormatVersion = 2 // v2: atomic two-relation manifests
  private val UnigramsRel = "unigrams"
  private val BigramsRel = "bigrams"
  private val BatchTagKey = "batch_tag"
  private val AppliedTagsKey = "applied_tags"

  private def currentManifest(spark: SparkSession, path: String,
      branch: Option[String] = None): ManifestDir.Manifest = {
    val pfx = Branches.prefixOf(Prefix, branch)
    ManifestDir.require(spark, path, pfx, "language model")
  }

  private def appliedTagsOf(cur: Option[ManifestDir.Manifest])
      : Set[String] =
    cur.flatMap(_.meta.get(AppliedTagsKey))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Commit both count relations as lineage `branch`'s next version —
    * CALLER HOLDS the writer lock. Both relations ride one manifest
    * (atomic); counts ride a NEGATIVE abort: a unigram/bigram count
    * below zero can only be an over-retraction, which must fail the
    * write loudly instead of silently persisting a corrupted model. */
  private def commitLocked(spark: SparkSession, path: String,
      branch: Option[String], cur: Option[ManifestDir.Manifest],
      uni: DataFrame, big: DataFrame, batchTag: Option[String],
      newAppliedTag: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    def guarded(df: DataFrame, cnt: String) =
      df.withColumn(cnt, when(col(cnt) < 0L, raise_error(lit(
        s"LmStore: negative $cnt after retraction merge — " +
          "over-retraction (wrong removed docs or a replayed tag); " +
          "aborting commit"))).otherwise(col(cnt)))
    val pfx = Branches.prefixOf(Prefix, branch)
    val segId = ManifestDir.newSegmentId()
    val uSeg = ManifestDir.segDir(segId, UnigramsRel)
    val bSeg = ManifestDir.segDir(segId, BigramsRel)
    guarded(uni, "ucnt").write.parquet(s"$path/$uSeg")
    guarded(big, "bcnt").write.parquet(s"$path/$bSeg")
    val carried = cur.map(_.meta - BatchTagKey).getOrElse(Map.empty)
    val tags = appliedTagsOf(cur) ++ newAppliedTag
    val meta = carried ++
      batchTag.map(BatchTagKey -> _) ++
      (if (tags.isEmpty) Map.empty[String, String]
       else Map(AppliedTagsKey -> tags.toSeq.sorted.mkString(",")))
    ManifestDir.commit(spark, path, pfx, ManifestDir.Manifest(
      Map(UnigramsRel -> Vector(uSeg), BigramsRel -> Vector(bSeg)),
      meta))
    SnapshotDir.gc(spark, path, pfx)
    // every commit REPLACES both relations, so GC'd versions' segments
    // orphan immediately — but the lock does NOT exclude an optimistic
    // appender's in-flight (not-yet-referenced) segments, so the
    // routine sweep is AGE-GUARDED ([[ManifestDir.MaintAgeMs]]);
    // schedule [[Branches.vacuum]] for strict sweeps of quiesced roots
    ManifestDir.vacuum(spark, path,
      Branches.allPrefixes(spark, path, Prefix),
      minAgeMs = ManifestDir.MaintAgeMs)
    ()
  }

  /** Train on `docs` and publish the count relations as the next
    * committed version. */
  def writeModel(docs: DataFrame, path: String,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val (bcnt, uni) = graft.operators.CorpusStats
      .bigramModel(docs, textCol)
    SnapshotDir.withWriterLock(spark, path) {
      commitLocked(spark, path, None,
        ManifestDir.current(spark, path, Prefix), uni, bcnt, None)
    }
  }

  /** [[writeModel]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]). Returns the training seconds, or
    * None when warm. */
  def ensureModel(docs: DataFrame, path: String,
      textCol: String = "text"): Option[Double] =
    SnapshotDir.ensureBuilt(docs.sparkSession, path, Prefix,
      s"""{"v":$FormatVersion,"text":"$textCol"}""")(
      writeModel(docs, path, textCol))

  /** ZERO-COPY BRANCH of the model ([[Branches]]): retract/compare on
    * a lineage without touching main, then promote or drop. */
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

  /** TAKEDOWN on the language model: SUBTRACT the removed docs'
    * unigram/bigram contributions — counts are additive across
    * documents (bigrams never span a doc boundary), so the retracted
    * model is row-identical to a retrain over the filtered corpus
    * (spec-pinned), with zero-count terms dropped. This is the one
    * derived-model family where hard deletion is exact WITHOUT a
    * retrain; the tokenizer vocabularies are not algebraic (a count
    * change can move the top-V cut), so their takedown story is an
    * explicit retrain, documented there. Retraction is not naturally
    * idempotent (subtracting twice double-removes), so `batchTag`
    * joins the durable `applied_tags` set riding every later
    * version's manifest — a replayed tag is skipped even when other
    * commits landed in between — and an over-retraction that slips
    * through aborts on the negative-count invariant.
    *
    * `removed` must be the removed document ROWS including `textCol`
    * (the retraction computes negative counts from the text; ids
    * alone cannot). */
  def retractDocs(spark: SparkSession, path: String,
      removed: DataFrame, textCol: String = "text",
      batchTag: Option[String] = None,
      branch: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    batchTag.foreach(t => require(!t.contains(","),
      s"retraction tags join the comma-separated applied set: '$t'"))
    require(removed.columns.contains(textCol),
      s"LmStore.retractDocs needs the removed document ROWS " +
        s"including '$textCol' — got [${removed.columns.mkString(", ")}]")
    SnapshotDir.withWriterLock(spark, path) {
      val cur = currentManifest(spark, path, branch)
      if (batchTag.exists(appliedTagsOf(Some(cur)).contains)) ()
      else {
        val (bneg, uneg) = graft.operators.CorpusStats
          .bigramModel(removed, textCol)
        val uni = ManifestDir.readRelation(spark, path, cur, UnigramsRel)
          .unionByName(uneg.select(col("term"),
            (-col("ucnt")).as("ucnt")))
          .groupBy(col("term")).agg(sum(col("ucnt")).as("ucnt"))
          .filter(col("ucnt") =!= 0L)
        val big = ManifestDir.readRelation(spark, path, cur, BigramsRel)
          .unionByName(bneg.select(col("bg"),
            (-col("bcnt")).as("bcnt")))
          .groupBy(col("bg")).agg(sum(col("bcnt")).as("bcnt"))
          .filter(col("bcnt") =!= 0L)
        commitLocked(spark, path, branch, Some(cur), uni, big,
          batchTag, newAppliedTag = batchTag)
      }
    }
  }

  /** TIME TRAVEL: the unigram counts of a SPECIFIC committed main
    * version — "which exact model scored this crawl" stays answerable
    * until retention GC. Fails loudly on an expired pin
    * ([[AggStore.readStateAt]]'s contract on the model family). */
  def readUnigramsAt(spark: SparkSession, path: String,
      version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => ManifestDir.readRelation(spark, path,
        ManifestDir.read(spark, vd), UnigramsRel)
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  /** Stored unigram counts `(term, ucnt)` of a lineage's current
    * version. */
  def readUnigrams(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), UnigramsRel)

  /** Stored bigram counts `(bg, bcnt)`. */
  def readBigrams(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), BigramsRel)

  /** Score `docs` against the STORED model — identical output to
    * [[graft.operators.CorpusStats.bigramLogProb]] over the training
    * corpus (counts round-trip parquet exactly); on a LATER corpus,
    * out-of-model bigrams score at the smoothing floor under the
    * model's frozen vocabulary size. */
  def scoreFromStore(spark: SparkSession, path: String,
      docs: DataFrame, alpha: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      branch: Option[String] = None): DataFrame =
    graft.operators.CorpusStats.bigramScoreWithModel(docs,
      readBigrams(spark, path, branch),
      readUnigrams(spark, path, branch), alpha, idCol, textCol)
}
