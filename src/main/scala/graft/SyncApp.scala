package graft

import graft.operators.SyncEngine
import graft.sources.StateStore
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** App layer (SURVEY.md §7.1-7): the reference's two 95%-duplicated entry
  * points collapse into one parameterized `sync(window)` —
  * `sincronizarConciliacion` ≡ sync(today−lookback → today) and
  * `sincronizarRango` ≡ sync(parsed `d/M/yyyy` range). Composes the pure
  * engine with the persistent state/audit/conflict stores. */
object SyncApp {

  final case class Paths(state: String, audit: String, conflicts: String)

  final case class RunSummary(actions: Map[String, Long])

  /** One sync run over an explicit window. `source` must be prepared
    * (ord, folio, fecha, cliente, servicio, banco, monto, metodo). */
  def sync(source: DataFrame, paths: Paths, windowStart: String,
      windowEnd: String): RunSummary = {
    val spark = source.sparkSession
    val state = StateStore.readOrCreate(spark, paths.state)
    val r = SyncEngine.run(source, state, windowStart, windowEnd)
    // The summary and the three writes are projections of the classified
    // frame: persist it so the state window and the full-outer join run
    // once per run instead of once per action. MEMORY_AND_DISK rather
    // than a localCheckpoint: a lost block recomputes from lineage, which
    // stays valid because overwrite publishes a new snapshot version and
    // leaves the files `state` reads in place (a localCheckpoint would
    // pin the only copy in executor storage and die with an executor at
    // cluster scale).
    r.classified.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val next = r.newState
        .select(StateStore.StateSchema.fieldNames.map(col): _*)
      val summary = r.summary.collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
      StateStore.append(r.audit, paths.audit)
      StateStore.append(r.conflicts, paths.conflicts)
      StateStore.overwrite(next, paths.state)
      RunSummary(summary)
    } finally r.classified.unpersist()
  }

  /** The nightly entry point: lookback window ending today. */
  def sincronizarConciliacion(source: DataFrame, paths: Paths,
      today: LocalDate, lookbackDays: Int = 10): RunSummary =
    sync(source, paths, today.minusDays(lookbackDays).toString,
      today.toString)

  private val Dmy = DateTimeFormatter.ofPattern("d/M/uuuu")

  /** The backfill entry point: explicit `d/M/yyyy` range (validated). */
  def sincronizarRango(source: DataFrame, paths: Paths, inicio: String,
      fin: String): RunSummary = {
    val s = LocalDate.parse(inicio, Dmy)
    val e = LocalDate.parse(fin, Dmy)
    require(!s.isAfter(e), s"rango inválido: $inicio > $fin")
    sync(source, paths, s.toString, e.toString)
  }
}
