package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted BPE tokenizer — the serving half of the tokenizer
  * lifecycle. Training ([[graft.operators.CorpusStats.bpeTrainVocab]])
  * runs ONCE per tokenizer and its cost amortizes across every corpus
  * the merge table ever encodes; this store makes that amortization
  * real: the trained artifacts persist as parquet, and encoding any
  * later corpus is one scan + a broadcast join against the stored
  * vocabulary — no retraining, no corpus-dependence on the training
  * data being reachable.
  *
  * Versioning (format v3): a [[ManifestDir]] store. Two relations per
  * BPE version, committing as ONE atomic manifest (under the previous
  * SnapshotDir layout they were two writes into one version dir — a
  * crash window between them, the same class the LM store carried):
  *  - `vocab` `(w, freq, syms)` — every training-corpus word with its
  *    fully-merged symbol sequence (the encode join input;
  *    dimension-sized, broadcast at encode time);
  *  - `merges` `(merge_rank, left, right, cnt)` — the ordered merge
  *    list, the tokenizer's portable definition (what you'd export to
  *    any other runtime; sufficient to re-derive `syms` for unseen
  *    words, which this corpus encoder does not need because OOV
  *    words tokenize as themselves).
  *
  * The manifest layer buys the lineage machinery: RETRAIN ON A BRANCH
  * ([[createBranch]] + `branch` on [[writeVocab]]/reads/encode),
  * compare tokenizations against main, then [[promoteBranch]] or
  * [[dropBranch]] — the tokenizer-swap experiment every training run
  * wants before committing to a vocabulary change (and the documented
  * takedown story for tokenizers: top-V cuts are not algebraic, so
  * removal = retrain, which now lands on a branch first).
  *
  * The unigram (SentencePiece-family) piece table persists under its
  * own lineage prefix with the same protocol. The two families must
  * live under SEPARATE roots (their recipe markers share a filename —
  * the query layer already keys each on its own path).
  *
  * Scale shape: the vocabulary is bounded by the training corpus's
  * distinct-word count, not its size — it rides one broadcast. A 100 TB
  * encode is embarrassingly parallel: scan, broadcast-hash join, one
  * per-doc aggregate. */
object TokenizerStore {

  private val Prefix = "vocab-"
  val FormatVersion = 3 // v3: atomic two-relation manifests + branches
  private val VocabRel = "vocab"
  private val MergesRel = "merges"

  private def currentManifest(spark: SparkSession, path: String,
      branch: Option[String] = None): ManifestDir.Manifest = {
    val pfx = Branches.prefixOf(Prefix, branch)
    ManifestDir.require(spark, path, pfx, "tokenizer vocabulary")
  }

  /** Train on `docs` and publish the vocabulary + merge list as
    * lineage `branch`'s next committed version — one atomic manifest
    * for both relations. */
  def writeVocab(docs: DataFrame, path: String, nMerges: Int,
      textCol: String = "text",
      branch: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    val (merges, vocab) = graft.operators.CorpusStats
      .bpeTrainVocab(docs, nMerges, textCol)
    SnapshotDir.withWriterLock(spark, path) {
      val pfx = Branches.prefixOf(Prefix, branch)
      val segId = ManifestDir.newSegmentId()
      val vSeg = ManifestDir.segDir(segId, VocabRel)
      val mSeg = ManifestDir.segDir(segId, MergesRel)
      vocab.write.parquet(s"$path/$vSeg")
      merges.write.parquet(s"$path/$mSeg")
      // a retrain REPLACES the model; branch bookkeeping (the
      // cut-point marker) carries forward
      val meta = ManifestDir.current(spark, path, pfx)
        .map(_.meta).getOrElse(Map.empty)
      ManifestDir.commit(spark, path, pfx, ManifestDir.Manifest(
        Map(VocabRel -> Vector(vSeg), MergesRel -> Vector(mSeg)), meta))
      SnapshotDir.gc(spark, path, pfx)
      // age-guarded: the lock does not exclude an optimistic writer's
      // in-flight segments ([[ManifestDir.MaintAgeMs]])
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, Prefix),
        minAgeMs = ManifestDir.MaintAgeMs)
      ()
    }
  }

  /** [[writeVocab]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]). Returns the training seconds, or
    * None when warm. */
  def ensureVocab(docs: DataFrame, path: String, nMerges: Int,
      textCol: String = "text"): Option[Double] =
    SnapshotDir.ensureBuilt(docs.sparkSession, path, Prefix,
      s"""{"v":$FormatVersion,"merges":$nMerges,"text":"$textCol"}""")(
      writeVocab(docs, path, nMerges, textCol))

  /** The merge count the store was built with, parsed from its recipe
    * marker — the store is self-describing, so maintenance (takedown
    * retrains) re-trains with the ORIGINAL hyperparameters instead of
    * trusting a caller to remember them. None when the marker is
    * missing (a store built through [[writeVocab]] directly). */
  def recipeMerges(spark: SparkSession, path: String): Option[Int] =
    StoreFiles.recipeOf(spark, path).flatMap(txt =>
      """"merges":(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt))

  /** ZERO-COPY BRANCH of the tokenizer ([[Branches]]): retrain on a
    * lineage, compare encodes, promote or drop. */
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

  /** The stored vocabulary `(w, freq, syms)` of a lineage's current
    * version. */
  def readVocab(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), VocabRel)

  /** TIME TRAVEL: the merge list of a SPECIFIC committed main version
    * — "which exact tokenizer encoded this shard" stays answerable
    * until retention GC. Fails loudly on an expired pin. */
  def readMergesAt(spark: SparkSession, path: String,
      version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, Prefix, version) match {
      case Some(vd) => ManifestDir.readRelation(spark, path,
        ManifestDir.read(spark, vd), MergesRel)
      case None => throw new IllegalStateException(
        s"version $version of $path is not committed or has been " +
          "GC'd — pin expired")
    }

  /** The stored merge list `(merge_rank, left, right, cnt)`. */
  def readMerges(spark: SparkSession, path: String,
      branch: Option[String] = None): DataFrame =
    ManifestDir.readRelation(spark, path,
      currentManifest(spark, path, branch), MergesRel)

  /** Encode `docs` against the STORED vocabulary — identical output to
    * [[graft.operators.CorpusStats.bpeEncode]] over the training
    * corpus (the vocabulary round-trips parquet exactly), without the
    * training passes. */
  def encodeFromStore(spark: SparkSession, path: String,
      docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      branch: Option[String] = None): DataFrame =
    graft.operators.CorpusStats.encodeWithVocab(docs,
      readVocab(spark, path, branch), textCol, idCol)

  // ------------------------------------------------ unigram family

  private val UniPrefix = "uvocab-"
  private val UniRel = "upieces"

  /** Persist the UNIGRAM piece table `(piece, cnt, s)` — the
    * SentencePiece-family counterpart of the BPE vocabulary above,
    * same manifest protocol under its own lineage prefix. sTot (the
    * Viterbi normalizer) derives from the stored counts at encode
    * time, so the table IS the whole model: integer counts and integer
    * scores round-trip parquet exactly, making the stored encode
    * bit-equal to the in-query one. */
  def writeUnigramVocab(docs: DataFrame, path: String, vocabSize: Int,
      maxPieceLen: Int, textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val vocab = graft.operators.CorpusStats
      .unigramVocabFrame(docs, vocabSize, maxPieceLen, textCol)
    SnapshotDir.withWriterLock(spark, path) {
      val seg = ManifestDir.segDir(ManifestDir.newSegmentId(), UniRel)
      vocab.write.parquet(s"$path/$seg")
      ManifestDir.commit(spark, path, UniPrefix, ManifestDir.Manifest(
        Map(UniRel -> Vector(seg)), Map.empty))
      SnapshotDir.gc(spark, path, UniPrefix)
      // age-guarded: the lock does not exclude an optimistic writer's
      // in-flight segments ([[ManifestDir.MaintAgeMs]])
      ManifestDir.vacuum(spark, path,
        Branches.allPrefixes(spark, path, UniPrefix),
        minAgeMs = ManifestDir.MaintAgeMs)
      ()
    }
  }

  /** [[writeUnigramVocab]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]); returns training seconds or None
    * when warm. */
  def ensureUnigramVocab(docs: DataFrame, path: String, vocabSize: Int,
      maxPieceLen: Int, textCol: String = "text"): Option[Double] = {
    val recipe = s"""{"v":$FormatVersion,"kind":"unigram",""" +
      s""""size":$vocabSize,"maxlen":$maxPieceLen,"text":"$textCol"}"""
    SnapshotDir.ensureBuilt(docs.sparkSession, path, UniPrefix, recipe)(
      writeUnigramVocab(docs, path, vocabSize, maxPieceLen, textCol))
  }

  /** The stored unigram piece table `(piece, cnt, s)`. */
  def readUnigramVocab(spark: SparkSession, path: String): DataFrame =
    ManifestDir.readRelation(spark, path,
      ManifestDir.require(spark, path, UniPrefix, "unigram vocabulary"),
      UniRel)

  /** Encode `docs` against the STORED unigram vocabulary — identical
    * output to [[graft.operators.CorpusStats.unigramTokenEncode]] over
    * the training corpus, without the vocab-seeding passes. */
  def encodeUnigramFromStore(spark: SparkSession, path: String,
      docs: DataFrame, maxPieceLen: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val vocab = readUnigramVocab(spark, path)
      .orderBy(org.apache.spark.sql.functions.col("piece"))
      .collect() // bounded metadata: the tokenizer model itself
      .map(r => graft.operators.CorpusStats.UnigramPiece(
        r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[Long]("s")))
      .toSeq
    graft.operators.CorpusStats.unigramEncodeBody(docs,
      graft.operators.CorpusStats.unigramSegmentedWithVocab(docs,
        vocab, maxPieceLen, textCol), textCol, idCol)
  }
}
