package graft.operators

import graft.functions.Exprs._
import graft.model.Actions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's heart (SURVEY.md §2.3 J1–J3, §2.6 C1–C5, §2.5 D1):
  * keyed upsert sync of a prepared source window against the partitioned
  * destination state, producing routed delta DataFrames.
  *
  * Reference semantics being reproduced (what, not how):
  *  - first-wins dedup of source keys in explicit scan order (`Code.gs:752-765`)
  *  - build/probe keyed join classified NEW / UPDATE / NO-OP (`Code.gs:1159-1211`,
  *    maps built `Code.gs:1297-1336`)
  *  - cross-partition membership probe in fixed priority order
  *    TRANSFERENCIA→TARJETA→EFECTIVO→OTROS (`Code.gs:1228-1242`)
  *  - field-level change detection with money tolerance ±0.01 and Y/M/D date
  *    equality; banco only compared for TRANSFERENCIA (`Code.gs:1341-1373`)
  *  - movement routing with conflict quarantine when the state row carries
  *    human work in the protected zone (`Code.gs:1378-1496`, `1501-1548`)
  *  - soft-delete detection as a windowed anti-join, log-only (`Code.gs:1258-1290`)
  *  - protected columns pass through verbatim on updates (`Code.gs:1836-1844`)
  *
  * Spark-first shape: ONE full-outer join on the key + `when` routing — the
  * reference's per-row probe loop collapses into a single shuffle, and the
  * state is scanned and windowed once. Every output (inserts, updates,
  * movements, conflicts, deletions, audit, summary, new state) is a
  * filter/projection of the one `classified` frame, so a caller that
  * caches that frame serves all sinks from it: `SyncApp.sync` persists it
  * for the run's four actions, `SyncQueries` caches it per fixture dir.
  * No driver-side state, no collect.
  */
object SyncEngine {

  /** All source columns the engine consumes (post-prepare). */
  private val SrcCols = Seq("folio", "fecha", "cliente", "servicio", "banco",
    "monto", "metodo")
  private val ProtectedCols = Seq("conciliado", "concepto_banco",
    "observaciones", "recibo", "afiliacion", "lote", "verificado")
  private val StateCols = Seq("partition", "folio", "fecha", "cliente",
    "servicio", "banco", "monto") ++ ProtectedCols

  final case class SyncResult(
      classified: DataFrame, // the join: delta rows + shadow rows (NULL action)
      delta: DataFrame, // every routed row: folio, action, s_*/e_* fields
      duplicates: DataFrame, // D1 losers
      newState: DataFrame, // recomputed destination (all partitions)
      conflicts: DataFrame, // revision queue rows (S8 shape)
      audit: DataFrame, // audit log rows (S7 shape, no wall-clock ts)
      summary: DataFrame) // action counts (A4)

  /** Rejected-rows containment — the DF twin of the reference's
    * row-at-a-time salvage (`Code.gs:1761-1776`): rather than let one
    * poison row fail a block insert (or silently null-parse into the
    * state), split the raw feed BEFORE the sync. A row is rejected when
    * BOTH fecha and monto are unparseable; clean rows keep the
    * reference's forgiving defaults (bad fecha → NULL, bad monto → 0.00)
    * and the batch write stays atomic. Returns (clean, rejected); the
    * rejected side carries the raw values plus a reason, the salvage
    * loop's `detallesErrores` as a quarantine table. */
  def prepareSource(raw: DataFrame, fechaRawCol: String = "fecha_raw",
      montoRawCol: String = "monto_raw"): (DataFrame, DataFrame) = {
    val fecha = parseDateFlexible(col(fechaRawCol))
    val montoOpt = parseMoneyOpt(col(montoRawCol))
    val clean = raw.filter(fecha.isNotNull || montoOpt.isNotNull)
      .withColumn("fecha", fecha)
      .withColumn("monto", coalesce(montoOpt, lit(0).cast(Money)))
      .drop(fechaRawCol, montoRawCol)
    val rejected = raw.filter(fecha.isNull && montoOpt.isNull)
      .withColumn("motivo_rechazo", lit("fecha y monto ilegibles"))
    (clean, rejected)
  }

  /** Partition probe priority (`Code.gs:1229-1240`): when a corrupt state
    * holds one folio under several partitions, the first in this order wins. */
  def partitionPriority(p: Column): Column =
    when(p === MethodTransferencia, 1)
      .when(p === MethodTarjeta, 2)
      .when(p === MethodEfectivo, 3)
      .otherwise(4)

  private def nonEmpty(c: Column): Column =
    coalesce(trim(c) =!= "", lit(false))

  /** C3 — "row has human work" predicate, per partition type
    * (`Code.gs:1501-1548`). */
  def manualWork(partition: Column, conciliado: Column, conceptoBanco: Column,
      observaciones: Column, recibo: Column, afiliacion: Column, lote: Column,
      verificado: Column): Column =
    when(partition === MethodTransferencia,
      coerceBool(conciliado) || nonEmpty(conceptoBanco) || nonEmpty(observaciones))
      .when(partition === MethodTarjeta,
        coerceBool(recibo) || nonEmpty(afiliacion) || nonEmpty(lote) ||
          nonEmpty(observaciones))
      .otherwise(coerceBool(verificado) || nonEmpty(observaciones))

  /** D1 — first-wins dedup by key over the explicit order column.
    * Returns (kept, duplicates). */
  def dedupFirstWins(source: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("folio")).orderBy(col("ord"))
    val ranked = source.withColumn("rn", row_number().over(w))
    (ranked.filter(col("rn") === 1).drop("rn"),
      ranked.filter(col("rn") > 1).drop("rn"))
  }

  /** Classify + route one sync window. `source` must carry
    * ord, folio, fecha(date), cliente, servicio, banco, monto, metodo;
    * `state` the [[StateCols]] wide schema. Pure — no I/O. */
  def run(source: DataFrame, state: DataFrame,
      windowStart: String, windowEnd: String): SyncResult = {

    val (kept, duplicates) = dedupFirstWins(source)
    val s = kept.select(SrcCols.map(c => col(c).as(s"s_$c")): _*)

    // one state row per folio: fixed-priority probe order (J2 semantics).
    // Only rank 1 can match; corrupt extra rows (same folio under several
    // partitions) come out of the same join unmatched — shadow rows that
    // ride along untouched, like sheets the reference never probes past
    // first match — so the state is scanned and windowed once.
    val e = state.select(StateCols.map(c => col(c).as(s"e_$c")) :+
      row_number().over(Window.partitionBy(col("folio"))
        .orderBy(partitionPriority(col("partition")), col("partition")))
        .as("e_rank"): _*)

    val joined = s.join(e,
      col("s_folio") <=> col("e_folio") && col("e_rank") === 1, "full_outer")
    val isShadow = col("e_rank") > 1

    val inWindow = col("e_fecha").between(lit(windowStart), lit(windowEnd))
    val samePartition = col("s_metodo") === col("e_partition")

    // C1/C2 — change bitmap (banco only for TRANSFERENCIA)
    val chgFecha = !dateEq(col("s_fecha"), col("e_fecha"))
    val chgCliente = !(col("s_cliente") <=> col("e_cliente"))
    val chgServicio = !(col("s_servicio") <=> col("e_servicio"))
    val chgMonto =
      coalesce(abs(col("s_monto") - col("e_monto")) >= lit(0.01), lit(false))
    val chgBanco = (col("e_partition") === MethodTransferencia) &&
      !(col("s_banco") <=> col("e_banco"))
    val hayCambios = chgFecha || chgCliente || chgServicio || chgMonto || chgBanco

    val hasManualWork = manualWork(col("e_partition"), col("e_conciliado"),
      col("e_concepto_banco"), col("e_observaciones"), col("e_recibo"),
      col("e_afiliacion"), col("e_lote"), col("e_verificado"))

    val action =
      when(isShadow, lit(null).cast("string"))
        .when(col("e_folio").isNull, Actions.Nuevo)
        .when(col("s_folio").isNull,
          when(inWindow, Actions.Eliminacion).otherwise(Actions.FueraVentana))
        .when(!samePartition,
          when(hasManualWork, Actions.Conflicto).otherwise(Actions.CambioMetodo))
        .when(hayCambios, Actions.Actualizacion)
        .otherwise(Actions.SinCambios)

    val classified = joined
      .withColumn("action", action)
      .withColumn("chg_fecha", coalesce(chgFecha, lit(false)))
      .withColumn("chg_cliente", coalesce(chgCliente, lit(false)))
      .withColumn("chg_servicio", coalesce(chgServicio, lit(false)))
      .withColumn("chg_monto", coalesce(chgMonto, lit(false)))
      .withColumn("chg_banco", coalesce(chgBanco, lit(false)))
      .drop("e_rank")
    val delta = classified.filter(col("action").isNotNull)
    val shadow = classified.filter(col("action").isNull)
      .select(StateCols.map(c => col(s"e_$c").as(c)): _*)

    // ---------------------------------------------------------- new state
    val keepOld = delta
      .filter(col("action").isin(Actions.SinCambios, Actions.Eliminacion,
        Actions.FueraVentana))
      .select(col("e_partition").as("partition") +:
        StateCols.tail.map(c => col(s"e_$c").as(c)): _*)
    val updated = delta
      .filter(col("action") === Actions.Actualizacion)
      .select(Seq(
        col("e_partition").as("partition"), col("s_folio").as("folio"),
        col("s_fecha").as("fecha"), col("s_cliente").as("cliente"),
        col("s_servicio").as("servicio"), col("s_banco").as("banco"),
        col("s_monto").as("monto")) ++
        ProtectedCols.map(c => col(s"e_$c").as(c)): _*)
    // movements insert fresh rows in the target partition (empty protected
    // zone); conflict rows leave the state entirely (they live in the queue)
    val insertedOrMoved = delta
      .filter(col("action").isin(Actions.Nuevo, Actions.CambioMetodo))
      .select(Seq(
        col("s_metodo").as("partition"), col("s_folio").as("folio"),
        col("s_fecha").as("fecha"), col("s_cliente").as("cliente"),
        col("s_servicio").as("servicio"), col("s_banco").as("banco"),
        col("s_monto").as("monto")) ++
        ProtectedCols.map(c => lit(null).cast(
          if (c == "conciliado" || c == "recibo" || c == "verificado")
            "boolean" else "string").as(c)): _*)
    val newState = keepOld.unionByName(updated).unionByName(insertedOrMoved)
      .unionByName(shadow)

    // ---------------------------------------------------------- conflicts
    val conflicts = delta.filter(col("action") === Actions.Conflicto)
      .select(
        col("s_folio").as("folio"),
        concat(lit("Cambio método pago: "), col("e_partition"), lit(" → "),
          col("s_metodo")).as("conflicto"),
        col("e_partition").as("hoja_origen"),
        col("s_metodo").as("hoja_destino"),
        col("s_fecha").as("fecha"), col("s_cliente").as("cliente"),
        col("s_servicio").as("servicio"), col("s_monto").as("monto"),
        col("s_banco").as("banco"),
        when(coerceBool(coalesce(col("e_conciliado"), col("e_recibo"),
          col("e_verificado"))), "Sí").otherwise("No").as("conciliado"),
        when(col("e_partition") === MethodTarjeta,
          concat(lit("Afiliación: "), coalesce(col("e_afiliacion"), lit("")),
            lit("; Lote: "), coalesce(col("e_lote"), lit(""))))
          .otherwise(coalesce(col("e_concepto_banco"), lit("")))
          .as("concepto_banco"),
        coalesce(col("e_observaciones"), lit("")).as("observaciones"),
        lit("Pendiente").as("estado"))

    // -------------------------------------------------------------- audit
    val money2 = (c: Column) => c.cast(Money).cast("string")
    val cambioTexto = concat(lit("Cambios en: "), concat_ws(", ",
      when(col("chg_fecha"), "Fecha"), when(col("chg_cliente"), "Cliente"),
      when(col("chg_servicio"), "Servicio"), when(col("chg_monto"), "Monto"),
      when(col("chg_banco"), "Banco")))
    val valoresDe = (side: String) => concat_ws("; ",
      when(col("chg_fecha"),
        concat(lit("Fecha: "), formatFechaDMY(col(s"${side}_fecha")))),
      when(col("chg_cliente"),
        concat(lit("Cliente: "), coalesce(col(s"${side}_cliente"), lit("")))),
      when(col("chg_servicio"),
        concat(lit("Servicio: "), coalesce(col(s"${side}_servicio"), lit("")))),
      when(col("chg_monto"),
        concat(lit("Monto: "), money2(col(s"${side}_monto")))),
      when(col("chg_banco"),
        concat(lit("Banco: "), coalesce(col(s"${side}_banco"), lit("")))))

    val auditFromDelta = delta
      .filter(col("action").isin(Actions.Actualizacion, Actions.CambioMetodo,
        Actions.Conflicto, Actions.Eliminacion))
      .select(
        coalesce(col("s_folio"), col("e_folio")).as("folio"),
        col("action").as("accion"),
        when(col("action") === Actions.Actualizacion, cambioTexto)
          .when(col("action") === Actions.CambioMetodo,
            concat(col("e_partition"), lit(" → "), col("s_metodo")))
          .when(col("action") === Actions.Conflicto,
            concat(lit("Método cambió con trabajo manual: "),
              col("e_partition"), lit(" → "), col("s_metodo")))
          .otherwise(lit("No encontrado en origen dentro de la ventana"))
          .as("detalle"),
        when(col("action") === Actions.Actualizacion, valoresDe("e"))
          .otherwise(lit("")).as("valores_anteriores"),
        when(col("action") === Actions.Actualizacion, valoresDe("s"))
          .otherwise(lit("")).as("valores_nuevos"))
    val auditDuplicates = duplicates.select(
      col("folio"),
      lit(Actions.Duplicado).as("accion"),
      lit("Folio repetido en el origen; se conservó la primera aparición")
        .as("detalle"),
      lit("").as("valores_anteriores"),
      concat(lit("Monto: "), money2(col("monto"))).as("valores_nuevos"))
    val audit = auditFromDelta.unionByName(auditDuplicates)

    val summary = delta.groupBy(col("action")).agg(count(lit(1)).as("n"))

    SyncResult(classified, delta, duplicates, newState, conflicts, audit,
      summary)
  }

  private val TarjetaRender = "^Afiliación: (.*); Lote: (.*)$"

  /** Fold HUMAN-RESOLVED revision-queue rows back into the destination
    * state — the apply-back half of the runbook loop the reference
    * leaves entirely to the operator (`GUIA_REVISION_PENDIENTE.md`
    * steps 1–2; no code in `Code.gs` performs it): [[run]] quarantines
    * a method move that would destroy manual work; the human reviews
    * each queue row and decides; this executes the decision under the
    * same idempotent-merge discipline as the sync itself.
    *
    * `resolutions` carries one row per decided folio:
    * `(folio, accion ∈ {aceptar, ignorar}, nota)`.
    *  - `aceptar` (runbook option A — the change is real): insert the
    *    row in the DESTINATION partition with the queue's updated
    *    fields, restoring the preserved work into the destination's
    *    protected zone.
    *  - `ignorar` (option B — the origin change was an error):
    *    reinstate the row in the ORIGIN partition (the quarantine
    *    removed it from state), same field/work restoration.
    *
    * Work restoration maps the queue's RENDERED evidence back to typed
    * columns, because the queue is the sheet the human reads: the
    * conciliado flag lands on the target partition's flag column
    * (conciliado / recibo / verificado); a tarjeta-rendered
    * `Afiliación: X; Lote: Y` string parses back to (afiliacion, lote);
    * any other non-empty text restores as concepto_banco.
    *
    * Idempotent: restored rows LEFT-ANTI join the state on folio (the
    * one-folio-one-sheet invariant the probe priority already assumes),
    * so a re-run — or a resolution raced against an already-applied
    * one — inserts nothing; WITHIN a batch, duplicate/conflicting
    * submissions for one folio collapse to one decision (lexical-min
    * (accion, nota): 'aceptar' beats 'ignorar' — the runbook's bias
    * toward executing the move). Returns (newState, updatedQueue); resolved
    * queue rows flip to `Resuelto` with the nota appended, never
    * deleted (the runbook keeps the history), unmatched rows stay
    * `Pendiente`.
    *
    * Scale shape: queue and resolutions are human-review-sized; the
    * only state-sized operations are one folio-keyed anti-join and the
    * union — both a single shuffle on the key, no windows, no collect. */
  def applyResolutions(state: DataFrame, queue: DataFrame,
      resolutions: DataFrame): (DataFrame, DataFrame) = {
    // ONE decision per folio: a double-submitted review sheet must not
    // fan a queue row out into two restored rows (which would land the
    // folio in two partitions). Deterministic tiebreak: the first
    // (accion, nota) in lexical order wins — 'aceptar' beats 'ignorar',
    // matching the runbook's bias toward executing the move.
    val oneRes = resolutions
      .groupBy(col("folio"))
      .agg(min(struct(col("accion"), col("nota"))).as("r"))
      .select(col("folio"),
        // a malformed human decision (typo'd or null accion) must not
        // silently route to the ignorar branch and reinstate the origin
        // row — fail the apply loudly so the review sheet gets fixed
        when(col("r.accion").isin("aceptar", "ignorar"), col("r.accion"))
          .otherwise(raise_error(concat(
            lit("applyResolutions: accion must be 'aceptar' or " +
              "'ignorar', got '"),
            coalesce(col("r.accion"), lit("NULL")),
            lit("' for folio "), col("folio").cast("string"))))
          .as("__accion"),
        col("r.nota").as("__nota"))
    val res = queue.filter(col("estado") === "Pendiente")
      .join(oneRes, Seq("folio"))
    val target = when(col("__accion") === "aceptar", col("hoja_destino"))
      .otherwise(col("hoja_origen"))
    val flag = col("conciliado") === "Sí"
    val isTarjetaRender = col("concepto_banco").rlike(TarjetaRender)
    val afi = nullif(regexp_extract(col("concepto_banco"),
      TarjetaRender, 1), lit(""))
    val lote = nullif(regexp_extract(col("concepto_banco"),
      TarjetaRender, 2), lit(""))
    val restored = res.select(
      target.as("partition"), col("folio"), col("fecha"), col("cliente"),
      col("servicio"), col("banco"), col("monto"),
      when(target === MethodTransferencia, flag).as("conciliado"),
      when(!isTarjetaRender, nullif(col("concepto_banco"), lit("")))
        .as("concepto_banco"),
      nullif(col("observaciones"), lit("")).as("observaciones"),
      when(target === MethodTarjeta, flag).as("recibo"),
      when(isTarjetaRender, afi).as("afiliacion"),
      when(isTarjetaRender, lote).as("lote"),
      when(!target.isin(MethodTransferencia, MethodTarjeta), flag)
        .as("verificado"))
    val inserts = restored.join(
      state.select(col("folio")).distinct(), Seq("folio"), "left_anti")
    val newState = state.unionByName(
      inserts.select(StateCols.map(col): _*))
    val updatedQueue = queue
      .join(oneRes, Seq("folio"), "left")
      .select(
        queue.columns.filterNot(c => c == "estado" || c == "observaciones")
          .map(col) ++ Seq(
          when(col("estado") === "Pendiente" && col("__accion").isNotNull,
            concat_ws(" | ", nullif(col("observaciones"), lit("")),
              col("__nota"))).otherwise(col("observaciones"))
            .as("observaciones"),
          when(col("estado") === "Pendiente" && col("__accion").isNotNull,
            lit("Resuelto")).otherwise(col("estado")).as("estado")): _*)
    (newState, updatedQueue)
  }
}
