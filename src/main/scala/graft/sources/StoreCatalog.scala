package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Store observability front door — the `information_schema` of the
  * persisted families. Seven store kinds commit through [[SnapshotDir]]
  * (state, fingerprints, vectors, agg/IVM, SCD2, tokenizer, LM) plus
  * the manifest-versioned [[EdgeStore]]; until now none of them could
  * be ASKED what they hold without reading source code. One call lists,
  * per registered family: the current committed version and how many
  * committed versions are retained, the build recipe (the marker
  * [[StoreFiles.markerGate]] stamps), the manifest's
  * relation count and label freshness (manifest stores only), and the
  * file count / byte total — the loop a lakehouse format closes with
  * its metadata tables, closed here for the plain-parquet protocol.
  *
  * SQL-callable as `graft_stores('family', '/path', ...)` (registered
  * in [[graft.plans.GraftExtensions]]), so an operator console needs
  * no Scala.
  *
  * Scale shape: this is bounded METADATA — per store one directory
  * listing for versions, one sidecar read for the recipe, one manifest
  * read. For MANIFEST stores `n_files`/`bytes` come from the
  * per-segment stats the writer recorded at commit time (segments are
  * immutable, so the records can never go stale) — one sidecar read,
  * ZERO recursive listing, and they describe exactly the CURRENT
  * version's referenced data (not crash debris or retained old
  * versions). Non-manifest families and pre-sidecar versions fall back
  * to the recursive file-status walk (file-count sized, the same
  * listing any scan planner performs; never a data row). The result is
  * specs-sized and built driver-side by design, like any catalog
  * query. */
object StoreCatalog {

  private val VersionDir = "^(.+-)(\\d{8})$".r

  // NOT private: the product encoder's generated code calls the
  // accessors from Janino-compiled bytecode, and a private nested
  // class fails that compile — Spark then silently falls back to
  // interpreted row conversion (found as a codegen stack trace in the
  // Verify log; the result was correct, the plan wasn't)
  case class StoreInfo(family: String, version: Option[Long],
      n_versions: Long, n_branches: Long, recipe: Option[String],
      n_relations: Option[Long], labels_fresh: Option[Boolean],
      n_files: Long, bytes: Long)

  /** One row per `(family, root)` spec:
    * `(family, version, n_versions, n_branches, recipe, n_relations,
    * labels_fresh, n_files, bytes)`. Version discovery is generic —
    * any child dir named `<prefix>-NNNNNNNN` carrying the
    * [[SnapshotDir]] commit marker counts, whatever the family's
    * prefix. A root may carry several version LINEAGES (the
    * [[EdgeStore]] branch refs): the MAIN lineage is the shortest
    * committed prefix (branch prefixes extend main's with `b-<name>-`),
    * `version`/`n_versions` describe main only, and `n_branches`
    * counts the other lineages — without the split, a branch commit
    * would masquerade as main's current version here.
    * `n_relations`/`labels_fresh` come from the current MAIN
    * manifest and stay null for single-relation stores. */
  def describe(spark: SparkSession,
      specs: Seq[(String, String)]): DataFrame = {
    val infos = specs.map { case (family, root) =>
      val (fs, hp) = StoreFiles.fsOf(spark, root)
      if (!fs.exists(hp))
        StoreInfo(family, None, 0L, 0L, None, None, None, 0L, 0L)
      else {
        val committed = fs.listStatus(hp).toSeq
          .filter(_.isDirectory)
          .flatMap(st => st.getPath.getName match {
            case VersionDir(prefix, num)
                if fs.exists(new org.apache.hadoop.fs.Path(
                  st.getPath, "_committed")) =>
              Some((prefix, num.toLong))
            case _ => None
          })
        val prefixes = committed.map(_._1).distinct
        val mainPrefix = prefixes.sortBy(p => (p.length, p)).headOption
        val mainVersions = committed
          .filter(c => mainPrefix.contains(c._1))
        val current = mainVersions.sortBy(_._2).lastOption
        val currentDir = current.map { case (prefix, v) =>
          s"$root/${SnapshotDir.name(prefix, v)}" }
        val manifest = currentDir.flatMap(ManifestDir.tryRead(spark, _))
        // manifest stores record per-segment (files, bytes) at COMMIT
        // time — serve the catalog from those records (one sidecar
        // read) instead of a recursive root walk; the walk remains the
        // fallback for non-manifest families and pre-sidecar versions
        val recorded = currentDir
          .filter(_ => manifest.isDefined)
          .flatMap(ManifestDir.readStats(spark, _))
        var nFiles = 0L
        var bytes = 0L
        recorded match {
          case Some(stats) =>
            nFiles = stats.valuesIterator.map(_._1).sum
            bytes = stats.valuesIterator.map(_._2).sum
          case None =>
            val it = fs.listFiles(hp, true)
            while (it.hasNext) {
              val f = it.next()
              nFiles += 1
              bytes += f.getLen
            }
        }
        StoreInfo(family,
          current.map(_._2),
          mainVersions.size.toLong,
          math.max(prefixes.size - 1, 0).toLong,
          StoreFiles.recipeOf(spark, root),
          manifest.map(_.relations.size.toLong),
          // freshness is a LABELS property: null (not false) for
          // manifest stores that carry no label relation at all
          manifest.filter(_.segments(EdgeStore.LabelsRel).nonEmpty)
            .map(ClusterStore.labelsFresh),
          nFiles, bytes)
      }
    }
    import spark.implicits._
    infos.toDF("family", "version", "n_versions", "n_branches",
      "recipe", "n_relations", "labels_fresh", "n_files", "bytes")
  }
}
