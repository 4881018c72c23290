package graft.operators

import graft.model.Actions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing queries for the sync engine (SURVEY.md §2.3/§2.5/§2.6)
  * over the deterministic [[SyncFixture]], each with a DuckDB oracle built
  * from [[SyncFixture.DeltaCtes]]. */
object SyncQueries {

  /** One sync result per (session, dir): ~20 driver queries are
    * projections of the same classified frame, so derive it once and
    * cache `classified` — not `delta`, which would leave `s5_state_merge`'s
    * shadow rows (the NULL-action side of the same frame) re-running the
    * join. A cache clear (the bench does one per timed query) simply
    * reverts reuse to recomputation — memoizing the plan object never
    * changes results, only avoids rebuilding the DAG. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), SyncEngine.SyncResult]()

  private def result(s: SparkSession, d: String): SyncEngine.SyncResult =
    memo.computeIfAbsent((s, d), { case (ss, dir) =>
      val r = SyncEngine.run(SyncFixture.source(ss, dir),
        SyncFixture.state(ss, dir),
        SyncFixture.WindowStart, SyncFixture.WindowEnd)
      r.classified.cache()
      r
    })

  private val LiveActions =
    Seq(Actions.Nuevo, Actions.Actualizacion, Actions.SinCambios)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1 — the keyed upsert probe: NEW / UPDATE / NO-OP
    "j1_upsert_classify" -> ((s, d) =>
      result(s, d).delta
        .filter(col("action").isin(LiveActions: _*))
        .select(coalesce(col("s_folio"), col("e_folio")).as("folio"),
          col("action"), col("s_monto").as("monto_nuevo"),
          col("e_monto").as("monto_anterior"))),

    // C4 — the full movement/conflict router (flagship)
    "c4_sync_router" -> ((s, d) =>
      result(s, d).delta
        .select(coalesce(col("s_folio"), col("e_folio")).as("folio"),
          col("action"), col("e_partition").as("origen"),
          col("s_metodo").as("destino"))),

    // J2 — cross-partition membership: payment-method movements
    "j2_method_movement" -> ((s, d) =>
      result(s, d).delta
        .filter(col("action").isin(Actions.CambioMetodo, Actions.Conflicto))
        .select(col("s_folio").as("folio"), col("e_partition").as("de"),
          col("s_metodo").as("a"),
          (col("action") === Actions.Conflicto).as("conflicto"))),

    // J3 — windowed anti-join soft-delete detection
    "j3_deletion_detect" -> ((s, d) =>
      result(s, d).delta
        .filter(col("action") === Actions.Eliminacion)
        .select(col("e_folio").as("folio"), col("e_fecha").as("fecha"),
          col("e_partition").as("partition"))),

    // D1 — first-wins dedup winners
    "d1_dedup_first_wins" -> ((s, d) => {
      val (kept, _) = SyncEngine.dedupFirstWins(SyncFixture.source(s, d))
      kept.select(col("folio"), col("ord"), col("monto"))
    }),

    // D2 — seen-key set per method
    "d2_seen_keys" -> ((s, d) => {
      val (kept, _) = SyncEngine.dedupFirstWins(SyncFixture.source(s, d))
      kept.select(col("folio"), col("metodo")).distinct()
    }),

    // A4 — run summary: counts per delta class
    "a4_run_summary" -> ((s, d) =>
      result(s, d).summary),

    // C1/C2 — field-level change bitmap on matched same-partition rows
    "c1_detect_changes" -> ((s, d) =>
      result(s, d).delta
        .filter(col("s_folio").isNotNull && col("e_folio").isNotNull &&
          col("s_metodo") === col("e_partition"))
        .select(col("s_folio").as("folio"), col("chg_fecha"),
          col("chg_cliente"), col("chg_servicio"), col("chg_monto"),
          col("chg_banco"),
          (col("chg_fecha") || col("chg_cliente") || col("chg_servicio") ||
            col("chg_monto") || col("chg_banco")).as("hay_cambios"))),

    // C3 — protected-zone "has manual work" predicate over the state
    "c3_manual_work" -> ((s, d) =>
      SyncFixture.state(s, d)
        .select(col("folio"), col("partition"),
          SyncEngine.manualWork(col("partition"), col("conciliado"),
            col("concepto_banco"), col("observaciones"), col("recibo"),
            col("afiliacion"), col("lote"), col("verificado"))
            .as("tiene_trabajo"))),

    // C5 — human-readable change rendering
    "c5_change_text" -> ((s, d) =>
      result(s, d).audit
        .filter(col("accion") === Actions.Actualizacion)
        .select(col("folio"), col("detalle"), col("valores_anteriores"),
          col("valores_nuevos"))),

    // S7 — audit log append rows (full)
    "s7_audit_log" -> ((s, d) => result(s, d).audit),

    // S8 — conflict queue rows
    "s8_conflict_queue" -> ((s, d) => result(s, d).conflicts),

    // S5 — the recomputed destination state (upsert merge result)
    "s5_state_merge" -> ((s, d) => result(s, d).newState.drop("okey")),

    // J6 — bank-statement reconciliation: amount-tolerance + date-range
    // match (the join the reference leaves to the human reconciler)
    "j6_bank_reconcile" -> ((s, d) =>
      Reconcile.matchStatements(
        SyncFixture.bankStatement(s, d),
        SyncFixture.transfersInWindow(s, d))),

    // S12 — Bitácora_Hallazgos: reported sales with no bank deposit become
    // Pendiente findings, typed against the `cat` incidence catalog
    "s12_findings_log" -> ((s, d) => {
      val recon = SyncFixture.transfersInWindow(s, d)
      val matched =
        Reconcile.matchStatements(SyncFixture.bankStatement(s, d), recon)
      Findings.unmatchedDeposits(matched, recon.drop("okey"))
    }),

    // Conflict-resolution apply-back (the runbook's human loop, closed):
    // a deterministic decision rule stands in for the reviewer — even
    // folios accept the move (option A), odd folios reinstate the origin
    // row (option B) — and the resolved work folds back into the state
    // under the same idempotent merge as the sync.
    "x_conflict_resolve" -> ((s, d) => {
      val r = result(s, d)
      val (newState, _) = SyncEngine.applyResolutions(
        r.newState, r.conflicts, fixtureResolutions(r.conflicts))
      newState
    }),

    // The queue after apply-back: every decided row flips to Resuelto
    // with the reviewer note appended; history is never deleted.
    "x_conflict_queue_after" -> ((s, d) => {
      val r = result(s, d)
      val (_, queue) = SyncEngine.applyResolutions(
        r.newState, r.conflicts, fixtureResolutions(r.conflicts))
      queue
    })
  )

  /** The deterministic stand-in reviewer: even folio → aceptar,
    * odd → ignorar (replayable on any engine). */
  private def fixtureResolutions(conflicts: DataFrame): DataFrame =
    conflicts.select(col("folio"),
      when(pmod(col("folio").cast("long"), lit(2)) === 0, "aceptar")
        .otherwise("ignorar").as("accion"),
      lit("auto: folio par acepta, impar ignora").as("nota"))

  private def withCtes(sql: String): String =
    s"WITH ${SyncFixture.DeltaCtes}\n$sql"

  /** J6 CTE block (bank fixture + banded tolerance match) shared by the
    * reconciliation and findings oracles. */
  private val ReconCtes: String =
    s"""inwin AS (
       |  SELECT folio, fecha, monto, okey FROM classified
       |  WHERE metodo = 'TRANSFERENCIA'
       |    AND fecha BETWEEN DATE '${SyncFixture.WindowStart}'
       |      AND DATE '${SyncFixture.WindowEnd}'),
       |bank AS (
       |  SELECT okey AS bank_row_id,
       |    fecha + (cast(okey % 5 AS int) - 2) AS dia,
       |    monto + CASE WHEN okey % 41 = 0 THEN 0.005
       |                 WHEN okey % 43 = 0 THEN 50.0
       |                 ELSE 0.0 END AS abono
       |  FROM inwin),
       |cand AS (
       |  SELECT b.bank_row_id, r.folio, r.fecha, r.monto,
       |    abs(date_diff('day', r.fecha, b.dia)) AS ddiff
       |  FROM bank b JOIN inwin r
       |    ON abs(b.abono - r.monto) <= 0.01
       |   AND abs(date_diff('day', r.fecha, b.dia)) <= 3),
       |best AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bank_row_id
       |      ORDER BY ddiff, folio) AS rnk FROM cand)
       |  WHERE rnk = 1)""".stripMargin

  private val CambioTextoSql =
    """'Cambios en: ' || concat_ws(', ',
      |  CASE WHEN chg_fecha THEN 'Fecha' END,
      |  CASE WHEN chg_cliente THEN 'Cliente' END,
      |  CASE WHEN chg_servicio THEN 'Servicio' END,
      |  CASE WHEN chg_monto THEN 'Monto' END,
      |  CASE WHEN chg_banco THEN 'Banco' END)""".stripMargin

  private def valoresSql(side: String): String =
    s"""concat_ws('; ',
       |  CASE WHEN chg_fecha THEN 'Fecha: ' ||
       |    strftime(${side}_fecha, '%-d/%-m/%Y') END,
       |  CASE WHEN chg_cliente THEN 'Cliente: ' ||
       |    coalesce(${side}_cliente, '') END,
       |  CASE WHEN chg_servicio THEN 'Servicio: ' ||
       |    coalesce(${side}_servicio, '') END,
       |  CASE WHEN chg_monto THEN 'Monto: ' ||
       |    cast(cast(${side}_monto AS decimal(12,2)) AS varchar) END,
       |  CASE WHEN chg_banco THEN 'Banco: ' ||
       |    coalesce(${side}_banco, '') END)""".stripMargin

  /** S8 queue rows — shared by the queue oracle and the apply-back. */
  private val ConflictQueueSql =
    """SELECT s_folio AS folio,
      |  'Cambio método pago: ' || e_partition || ' → ' || s_metodo
      |    AS conflicto,
      |  e_partition AS hoja_origen, s_metodo AS hoja_destino,
      |  s_fecha AS fecha, s_cliente AS cliente, s_servicio AS servicio,
      |  s_monto AS monto, s_banco AS banco,
      |  CASE WHEN coalesce(e_conciliado, e_recibo, e_verificado, false)
      |    THEN 'Sí' ELSE 'No' END AS conciliado,
      |  CASE WHEN e_partition = 'TARJETA' THEN
      |    'Afiliación: ' || coalesce(e_afiliacion, '') || '; Lote: ' ||
      |      coalesce(e_lote, '')
      |  ELSE coalesce(e_concepto_banco, '') END AS concepto_banco,
      |  coalesce(e_observaciones, '') AS observaciones,
      |  'Pendiente' AS estado
      |FROM delta WHERE action = 'CONFLICTO → REVISIÓN'""".stripMargin

  /** S5 merged-state rows — shared by the merge oracle and the
    * apply-back (which unions the restored conflict rows on top). */
  private val MergedStateSql =
    """SELECT e_partition AS "partition", e_folio AS folio, e_fecha AS fecha,
      |  e_cliente AS cliente, e_servicio AS servicio, e_banco AS banco,
      |  e_monto AS monto, e_conciliado AS conciliado,
      |  e_concepto_banco AS concepto_banco,
      |  e_observaciones AS observaciones, e_recibo AS recibo,
      |  e_afiliacion AS afiliacion, e_lote AS lote,
      |  e_verificado AS verificado
      |FROM delta
      |WHERE action IN ('SIN_CAMBIOS', 'ELIMINACIÓN DETECTADA',
      |  'FUERA_VENTANA')
      |UNION ALL
      |SELECT e_partition, s_folio, s_fecha, s_cliente, s_servicio,
      |  s_banco, s_monto, e_conciliado, e_concepto_banco,
      |  e_observaciones, e_recibo, e_afiliacion, e_lote, e_verificado
      |FROM delta WHERE action = 'ACTUALIZACIÓN'
      |UNION ALL
      |SELECT s_metodo, s_folio, s_fecha, s_cliente, s_servicio, s_banco,
      |  s_monto, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      |FROM delta WHERE action IN ('NUEVO', 'CAMBIO MÉTODO PAGO')"""
      .stripMargin

  val oracleSql: Map[String, String] = Map(
    "j1_upsert_classify" -> withCtes(
      """SELECT coalesce(s_folio, e_folio) AS folio, action,
        |  s_monto AS monto_nuevo, e_monto AS monto_anterior
        |FROM delta
        |WHERE action IN ('NUEVO', 'ACTUALIZACIÓN', 'SIN_CAMBIOS')"""
        .stripMargin),

    "c4_sync_router" -> withCtes(
      """SELECT coalesce(s_folio, e_folio) AS folio, action,
        |  e_partition AS origen, s_metodo AS destino
        |FROM delta""".stripMargin),

    "j2_method_movement" -> withCtes(
      """SELECT s_folio AS folio, e_partition AS de, s_metodo AS a,
        |  action = 'CONFLICTO → REVISIÓN' AS conflicto
        |FROM delta
        |WHERE action IN ('CAMBIO MÉTODO PAGO', 'CONFLICTO → REVISIÓN')"""
        .stripMargin),

    "j3_deletion_detect" -> withCtes(
      """SELECT e_folio AS folio, e_fecha AS fecha, e_partition AS "partition"
        |FROM delta WHERE action = 'ELIMINACIÓN DETECTADA'""".stripMargin),

    "d1_dedup_first_wins" -> withCtes(
      "SELECT folio, ord, monto FROM sd WHERE rn = 1"),

    "d2_seen_keys" -> withCtes(
      "SELECT DISTINCT folio, metodo FROM sd WHERE rn = 1"),

    "a4_run_summary" -> withCtes(
      "SELECT action, count(*) AS n FROM delta GROUP BY action"),

    "c1_detect_changes" -> withCtes(
      """SELECT s_folio AS folio, chg_fecha, chg_cliente, chg_servicio,
        |  chg_monto, chg_banco,
        |  chg_fecha OR chg_cliente OR chg_servicio OR chg_monto OR chg_banco
        |    AS hay_cambios
        |FROM delta
        |WHERE s_folio IS NOT NULL AND e_folio IS NOT NULL
        |  AND s_metodo = e_partition""".stripMargin),

    "c3_manual_work" -> withCtes(
      s"""SELECT e_folio AS folio, e_partition AS "partition",
         |  ${SyncFixture.ManualWorkSql} AS tiene_trabajo
         |FROM e""".stripMargin),

    "c5_change_text" -> withCtes(
      s"""SELECT s_folio AS folio, $CambioTextoSql AS detalle,
         |  ${valoresSql("e")} AS valores_anteriores,
         |  ${valoresSql("s")} AS valores_nuevos
         |FROM delta WHERE action = 'ACTUALIZACIÓN'""".stripMargin),

    "s7_audit_log" -> withCtes(
      s"""SELECT coalesce(s_folio, e_folio) AS folio, action AS accion,
         |  CASE WHEN action = 'ACTUALIZACIÓN' THEN $CambioTextoSql
         |       WHEN action = 'CAMBIO MÉTODO PAGO' THEN
         |         e_partition || ' → ' || s_metodo
         |       WHEN action = 'CONFLICTO → REVISIÓN' THEN
         |         'Método cambió con trabajo manual: ' || e_partition ||
         |         ' → ' || s_metodo
         |       ELSE 'No encontrado en origen dentro de la ventana' END
         |    AS detalle,
         |  CASE WHEN action = 'ACTUALIZACIÓN' THEN ${valoresSql("e")}
         |       ELSE '' END AS valores_anteriores,
         |  CASE WHEN action = 'ACTUALIZACIÓN' THEN ${valoresSql("s")}
         |       ELSE '' END AS valores_nuevos
         |FROM delta
         |WHERE action IN ('ACTUALIZACIÓN', 'CAMBIO MÉTODO PAGO',
         |  'CONFLICTO → REVISIÓN', 'ELIMINACIÓN DETECTADA')
         |UNION ALL
         |SELECT folio, 'DUPLICADO EN ORIGEN' AS accion,
         |  'Folio repetido en el origen; se conservó la primera aparición'
         |    AS detalle,
         |  '' AS valores_anteriores,
         |  'Monto: ' || cast(cast(monto AS decimal(12,2)) AS varchar)
         |    AS valores_nuevos
         |FROM sd WHERE rn > 1""".stripMargin),

    "s8_conflict_queue" -> withCtes(ConflictQueueSql),

    "j6_bank_reconcile" -> (s"WITH ${SyncFixture.DeltaCtes},\n$ReconCtes\n" +
      """SELECT b.bank_row_id, b.dia, b.abono, best.folio, best.fecha,
        |  best.monto, best.ddiff
        |FROM bank b LEFT JOIN best ON b.bank_row_id = best.bank_row_id"""
        .stripMargin),

    "s12_findings_log" -> (s"WITH ${SyncFixture.DeltaCtes},\n$ReconCtes,\n" +
      s"""cat(tipo_id, tipo) AS (VALUES ${Findings.IncidenceTypes
            .map { case (id, t) => s"($id, '$t')" }.mkString(", ")}),
         |misses AS (
         |  SELECT folio, fecha, monto FROM inwin
         |  WHERE folio NOT IN (SELECT folio FROM best))
         |SELECT m.fecha AS fecha_reporte, c.tipo_id, c.tipo, m.folio,
         |  CASE WHEN m.monto >= 1000 THEN '🔥 ALTA' ELSE 'MEDIA' END
         |    AS urgencia,
         |  'El pago no está en el banco' AS descripcion,
         |  'Pendiente' AS estado, NULL::varchar AS resolucion
         |FROM misses m
         |LEFT JOIN cat c ON c.tipo = 'Discrepancia entre reporte y deposito'"""
        .stripMargin),


    "s5_state_merge" -> withCtes(MergedStateSql),

    "x_conflict_resolve" -> withCtes(
      s""",
         |merged AS ($MergedStateSql),
         |rq AS (
         |  SELECT s_folio AS folio, e_partition AS hoja_origen,
         |    s_metodo AS hoja_destino, s_fecha AS fecha,
         |    s_cliente AS cliente, s_servicio AS servicio,
         |    s_monto AS monto, s_banco AS banco,
         |    coalesce(e_conciliado, e_recibo, e_verificado, false)
         |      AS flag,
         |    CASE WHEN e_partition = 'TARJETA' THEN
         |      'Afiliación: ' || coalesce(e_afiliacion, '') || '; Lote: '
         |        || coalesce(e_lote, '')
         |    ELSE coalesce(e_concepto_banco, '') END AS concepto_banco,
         |    coalesce(e_observaciones, '') AS observaciones
         |  FROM delta WHERE action = 'CONFLICTO → REVISIÓN'),
         |restored AS (
         |  SELECT
         |    CASE WHEN folio::bigint % 2 = 0 THEN hoja_destino
         |         ELSE hoja_origen END AS tgt,
         |    folio, fecha, cliente, servicio, banco, monto, flag,
         |    regexp_matches(concepto_banco,
         |      '^Afiliación: (.*); Lote: (.*)$$') AS istar,
         |    nullif(regexp_extract(concepto_banco,
         |      '^Afiliación: (.*); Lote: (.*)$$', 1), '') AS afi,
         |    nullif(regexp_extract(concepto_banco,
         |      '^Afiliación: (.*); Lote: (.*)$$', 2), '') AS lot,
         |    nullif(concepto_banco, '') AS cbn,
         |    nullif(observaciones, '') AS obs
         |  FROM rq),
         |ins AS (
         |  SELECT tgt AS "partition", folio, fecha, cliente, servicio,
         |    banco, monto,
         |    CASE WHEN tgt = 'TRANSFERENCIA' THEN flag END AS conciliado,
         |    CASE WHEN NOT istar THEN cbn END AS concepto_banco,
         |    obs AS observaciones,
         |    CASE WHEN tgt = 'TARJETA' THEN flag END AS recibo,
         |    CASE WHEN istar THEN afi END AS afiliacion,
         |    CASE WHEN istar THEN lot END AS lote,
         |    CASE WHEN tgt NOT IN ('TRANSFERENCIA', 'TARJETA') THEN flag
         |      END AS verificado
         |  FROM restored
         |  WHERE folio NOT IN
         |    (SELECT folio FROM merged WHERE folio IS NOT NULL))
         |SELECT * FROM merged UNION ALL SELECT * FROM ins""".stripMargin),

    "x_conflict_queue_after" -> withCtes(
      s""",
         |q AS ($ConflictQueueSql)
         |SELECT folio, conflicto, hoja_origen, hoja_destino, fecha,
         |  cliente, servicio, monto, banco, conciliado, concepto_banco,
         |  concat_ws(' | ', nullif(observaciones, ''),
         |    'auto: folio par acepta, impar ignora') AS observaciones,
         |  'Resuelto' AS estado
         |FROM q""".stripMargin)
  )
}
