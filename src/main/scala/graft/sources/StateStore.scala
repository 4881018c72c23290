package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Storage layer (SURVEY.md §2.1): state read/overwrite with temp-path
  * discipline, append-only sinks, auto-create DDL, month-partitioned fact
  * layout.
  *
  * Reference counterparts: destination snapshot scan (S2 `Code.gs:1297-1336`),
  * batch insert / point-update sinks collapsed into an overwrite-merge
  * (S4/S5 `Code.gs:1741-1907`), audit/conflict appends (S7/S8
  * `Code.gs:585-604`, `1422-1437`), sheet auto-create with headers (S9
  * `Code.gs:289-329`), month tabs (S1 `Code.gs:705-716`).
  *
  * Plain parquet has no MERGE; the upsert contract is: read state → join →
  * recompute → [[overwrite]] as a NEW snapshot version published by one
  * atomic commit-marker create ([[SnapshotDir]]) — no rename, no instant
  * where the live state is missing, and a reader that already resolved
  * the previous version keeps its snapshot (GC retains one version of
  * grace). A re-run of a night commits the same state rows again (the
  * merge is a fixpoint on state, SURVEY.md §7.4.1), but it is NOT
  * idempotent as a whole: the audit and conflict appends carry no run
  * id, so a re-run quarantines its conflicts again and re-logs its
  * deletions and duplicates (a committed run record per sync is ROADMAP
  * direction 2). At cluster scale the same code runs against
  * object storage; swap [[SnapshotDir]] for a table-format commit and
  * the layout stays identical. Single writer per state path (no
  * filesystem compare-and-swap arbitrates two committers).
  */
object StateStore {

  /** Wide 4-partition destination schema (SURVEY.md §1.2). */
  val StateSchema: StructType = StructType(Seq(
    StructField("partition", StringType),
    StructField("folio", StringType),
    StructField("fecha", DateType),
    StructField("cliente", StringType),
    StructField("servicio", StringType),
    StructField("banco", StringType),
    StructField("monto", DoubleType),
    StructField("conciliado", BooleanType),
    StructField("concepto_banco", StringType),
    StructField("observaciones", StringType),
    StructField("recibo", BooleanType),
    StructField("afiliacion", StringType),
    StructField("lote", StringType),
    StructField("verificado", BooleanType)))

  val AuditSchema: StructType = StructType(Seq(
    StructField("folio", StringType),
    StructField("accion", StringType),
    StructField("detalle", StringType),
    StructField("valores_anteriores", StringType),
    StructField("valores_nuevos", StringType)))

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, new Path(path)).exists(new Path(path))

  /** S9 — CREATE TABLE IF NOT EXISTS semantics plus legacy adoption
    * (`migrarHojaAntigua`, `Code.gs:247-258`, and the header verification
    * at `Code.gs:262-286`): when the live path is absent but a state laid
    * down by an older deployment exists under `legacyPath`, the directory
    * is renamed into place — the sheet-rename twin. Columns the schema
    * gained since the legacy write (the protected zone grew over time)
    * read as NULL via parquet missing-column evolution, pinned by spec so
    * a Spark upgrade can't silently change it. A missing state reads as
    * an empty, correctly-typed DataFrame. */
  def readOrCreate(spark: SparkSession, path: String,
      schema: StructType = StateSchema,
      legacyPath: Option[String] = None): DataFrame = {
    legacyPath
      .filter(lp => !exists(spark, path) && exists(spark, lp))
      .foreach { lp =>
        // rename returns false instead of throwing (missing target parent,
        // cross-filesystem move). Falling through would hand back an EMPTY
        // state that the next sync writes over the live path — permanently
        // orphaning the legacy data — so fail loudly instead.
        val live = new Path(path)
        val f = fs(spark, live)
        Option(live.getParent).foreach(f.mkdirs(_))
        if (!f.rename(new Path(lp), live))
          throw new java.io.IOException(
            s"legacy state adoption failed: rename($lp -> $path)")
        spark.catalog.refreshByPath(path)
      }
    if (!exists(spark, path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else SnapshotDir.current(spark, path, VersionPrefix) match {
      case Some(dir) => spark.read.schema(schema).parquet(dir)
      case None =>
        // pre-protocol layout: enumerate the ROOT files explicitly. A
        // directory read would also sweep up an uncommitted v-NNNNNNNN
        // dir left by a writer that crashed before its marker —
        // mixed-depth listings either fail or silently DOUBLE the state
        // (and the next sync would commit the duplication permanently).
        val p = new Path(path)
        val f = fs(spark, p)
        val rootFiles = f.listStatus(p)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString)
        if (rootFiles.nonEmpty)
          spark.read.schema(schema).parquet(rootFiles.toIndexedSeq: _*)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  private val VersionPrefix = "v-"

  /** S5 — overwrite-merge as a snapshot commit: the new state lands in
    * the next version directory and becomes visible at one atomic
    * marker create ([[SnapshotDir.publish]]); the previous version
    * survives one more overwrite as the in-flight-reader grace window.
    * Once it has aged out, a pre-protocol root-file state goes too,
    * still under the writer lock and sparing the lock file. */
  def overwrite(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    SnapshotDir.withWriterLock(spark, path) {
      val aged = SnapshotDir.publish(spark, path, VersionPrefix)(
        df.write.mode(SaveMode.Overwrite).parquet(_))
      if (aged) {
        val p = new Path(path)
        val f = fs(spark, p)
        f.listStatus(p).filter(_.isFile).map(_.getPath)
          .filter(q => q.getName != SnapshotDir.WriterLock &&
            (q.getName.endsWith(".parquet") || q.getName.startsWith("_")))
          .foreach(f.delete(_, false))
      }
    }
  }

  /** Committed state versions at `path`, ascending — what a run can pin. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    SnapshotDir.committed(spark, path, VersionPrefix)

  /** Time-travel read of a PINNED state version — the reproducibility
    * primitive: a training run records the version it consumed, and a
    * replay reads exactly those files (the previous version survives
    * one overwrite as the GC grace window, so "replay the run that just
    * finished while the next one writes" always works). A pin that has
    * aged past the grace window fails loudly — silently substituting
    * the current state would fabricate a reproduction. */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame =
    SnapshotDir.atVersion(spark, path, VersionPrefix, version) match {
      case Some(dir) => spark.read.parquet(dir)
      case None => throw new IllegalArgumentException(
        s"state version $version at $path is not committed or has been " +
          "GC'd past the grace window; committed versions: " +
          committedVersions(spark, path).mkString("[", ", ", "]"))
    }

  /** S7/S8 — append-only sinks (audit log, conflict queue). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** S1 — month-partitioned fact layout: one directory per (year, Spanish
    * month), so a lookback window touches only its partitions (the month
    * tabs of the reference, minus its re-read-per-day inefficiency). */
  def writeMonthPartitioned(df: DataFrame, fechaCol: String,
      path: String): Unit =
    df.withColumn("anio", year(col(fechaCol)))
      .withColumn("mes", month(col(fechaCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("anio", "mes")
      .parquet(path)

  /** Partition-pruned window read over the month layout. The window is
    * translated into predicates on the partition columns themselves —
    * a filter on `fecha` alone would scan every partition. */
  def readWindow(spark: SparkSession, path: String, start: String,
      end: String, fechaCol: String = "fecha"): DataFrame = {
    val s = java.time.LocalDate.parse(start)
    val e = java.time.LocalDate.parse(end)
    val months = Iterator.iterate(s.withDayOfMonth(1))(_.plusMonths(1))
      .takeWhile(!_.isAfter(e))
      .map(d => d.getYear * 100 + d.getMonthValue).toSeq
    spark.read.parquet(path)
      .filter((col("anio") * 100 + col("mes")).isin(months: _*))
      .filter(col(fechaCol).between(lit(start), lit(end)))
      .drop("anio", "mes")
  }
}
