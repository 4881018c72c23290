package graft

import graft.model.Actions
import graft.operators.SyncEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-scenario matrix from FIXTURES.md §4 plus the reference's
  * idempotency requirement (`requerimientos.md:169`) and probe-priority
  * semantics (`Code.gs:1229-1240`). */
class SyncEngineSpec extends SparkSpec {
  import spark.implicits._

  private val W0 = "2025-11-01"
  private val W1 = "2025-11-10"

  private def srcDf(rows: Seq[(Long, String, String, Double, String)]): DataFrame =
    rows.toDF("ord", "folio", "fecha", "monto", "metodo")
      .withColumn("fecha", to_date($"fecha"))
      .withColumn("cliente", lit("cli"))
      .withColumn("servicio", lit("srv"))
      .withColumn("banco", lit("BANCOMER"))

  private def stDf(rows: Seq[(String, String, String, Double,
      Option[Boolean], Option[String], Option[Boolean])]): DataFrame =
    rows.toDF("partition", "folio", "fecha", "monto",
      "conciliado", "observaciones", "recibo")
      .withColumn("fecha", to_date($"fecha"))
      .withColumn("cliente", lit("cli"))
      .withColumn("servicio", lit("srv"))
      .withColumn("banco", lit("BANCOMER"))
      .withColumn("concepto_banco", lit(null).cast("string"))
      .withColumn("afiliacion", lit(null).cast("string"))
      .withColumn("lote", lit(null).cast("string"))
      .withColumn("verificado", lit(null).cast("boolean"))

  private val source = srcDf(Seq(
    (1L, "F1", "2025-11-05", 100.0, "TRANSFERENCIA"), // new
    (2L, "F2", "2025-11-05", 100.0, "TRANSFERENCIA"), // unchanged (tolerance)
    (3L, "F3", "2025-11-05", 200.0, "TRANSFERENCIA"), // changed monto
    (4L, "F4", "2025-11-05", 100.0, "TARJETA"), // moved clean
    (5L, "F5", "2025-11-05", 100.0, "TRANSFERENCIA"), // moved conflict
    (10L, "F8", "2025-11-05", 50.0, "EFECTIVO"), // duplicate: first wins
    (11L, "F8", "2025-11-05", 60.0, "EFECTIVO"),
    (12L, "F9", "2025-11-05", 100.0, "EFECTIVO"))) // priority probe

  private val state = stDf(Seq(
    ("TRANSFERENCIA", "F2", "2025-11-05", 100.005, None, None, None),
    ("TRANSFERENCIA", "F3", "2025-11-05", 100.0, Some(true), None, None),
    ("TRANSFERENCIA", "F4", "2025-11-05", 100.0, None, None, None),
    ("TARJETA", "F5", "2025-11-05", 100.0, None, None, Some(true)),
    ("TRANSFERENCIA", "F6", "2025-11-03", 100.0, None, None, None), // deleted
    ("TRANSFERENCIA", "F7", "2025-10-01", 100.0, None, None, None), // out of win
    ("TARJETA", "F9", "2025-11-05", 100.0, None, None, None), // probe hit 1st
    ("EFECTIVO", "F9", "2025-11-05", 100.0, None, Some("sombra"), None))) // shadow

  // cache the routed outputs: 9 tests share them, and every collect would
  // otherwise re-execute the full join DAG
  private lazy val r1 = {
    val r = SyncEngine.run(source, state, W0, W1)
    r.copy(delta = r.delta.cache(), duplicates = r.duplicates.cache(),
      newState = r.newState.cache(), conflicts = r.conflicts.cache(),
      audit = r.audit.cache())
  }
  private lazy val actions: Map[String, String] = r1.delta
    .select(coalesce($"s_folio", $"e_folio"), $"action").as[(String, String)]
    .collect().toMap

  test("golden scenario matrix routes every delta class") {
    assert(actions("F1") === Actions.Nuevo)
    assert(actions("F2") === Actions.SinCambios)
    assert(actions("F3") === Actions.Actualizacion)
    assert(actions("F4") === Actions.CambioMetodo)
    assert(actions("F5") === Actions.Conflicto)
    assert(actions("F6") === Actions.Eliminacion)
    assert(actions("F7") === Actions.FueraVentana)
    assert(actions("F8") === Actions.Nuevo)
  }

  test("first-wins dedup keeps scan order winner and logs loser") {
    val kept = r1.delta.filter($"s_folio" === "F8")
      .select($"s_monto").as[Double].collect()
    assert(kept.toSeq === Seq(50.0))
    val dup = r1.duplicates.select($"folio", $"monto").as[(String, Double)]
      .collect()
    assert(dup.toSeq === Seq(("F8", 60.0)))
  }

  test("update keeps protected zone verbatim; new values land") {
    val f3 = r1.newState.filter($"folio" === "F3").collect().head
    assert(f3.getAs[Double]("monto") === 200.0)
    assert(f3.getAs[Boolean]("conciliado") === true)
  }

  test("clean move lands in target partition with empty protected zone") {
    val f4 = r1.newState.filter($"folio" === "F4").collect()
    assert(f4.length === 1)
    assert(f4.head.getAs[String]("partition") === "TARJETA")
    assert(f4.head.isNullAt(f4.head.fieldIndex("conciliado")))
  }

  test("conflicted move leaves state, lands in queue as Pendiente") {
    assert(r1.newState.filter($"folio" === "F5").count() === 0)
    val q = r1.conflicts.collect()
    assert(q.length === 1)
    val c = q.head
    assert(c.getAs[String]("folio") === "F5")
    assert(c.getAs[String]("estado") === "Pendiente")
    assert(c.getAs[String]("conflicto") ===
      "Cambio método pago: TARJETA → TRANSFERENCIA")
    assert(c.getAs[String]("conciliado") === "Sí") // recibo checked
  }

  test("deletion detection is log-only; out-of-window rows untouched") {
    assert(r1.newState.filter($"folio" === "F6").count() === 1)
    assert(r1.newState.filter($"folio" === "F7").count() === 1)
    val audited = r1.audit.filter($"accion" === Actions.Eliminacion)
      .select($"folio").as[String].collect()
    assert(audited.toSeq === Seq("F6"))
  }

  test("probe priority: first partition in fixed order wins; shadow survives") {
    // F9 lives under TARJETA and EFECTIVO; probe order hits TARJETA first
    // → movement TARJETA → EFECTIVO; the shadow EFECTIVO row rides along.
    assert(actions("F9") === Actions.CambioMetodo)
    val f9 = r1.delta.filter($"s_folio" === "F9").collect().head
    assert(f9.getAs[String]("e_partition") === "TARJETA")
    assert(r1.newState.filter($"folio" === "F9").count() === 2)

    // the shadow row leaves the one join unmatched with a NULL action...
    val efectivoF9 = $"folio" === "F9" && $"partition" === "EFECTIVO"
    val shadow = state.filter(efectivoF9)
      .select(r1.newState.columns.map(col): _*).collect().toSeq
    val inClassified = r1.classified.filter($"action".isNull)
      .select(r1.newState.columns.map(c => col(s"e_$c").as(c)): _*).collect()
    assert(inClassified.toSeq === shadow)
    // ...lands in the new state field for field, next to the moved row...
    assert(r1.newState.filter(efectivoF9).collect().count(_ == shadow.head) === 1)
    // ...and is no delta row, audit row or summary count
    assert(r1.delta.filter($"action".isNull ||
      ($"e_folio" === "F9" && $"e_partition" === "EFECTIVO"))
      .count() === 0)
    assert(r1.audit.filter($"folio" === "F9")
      .select($"accion", $"detalle").as[(String, String)].collect().toSeq ===
      Seq((Actions.CambioMetodo, "TARJETA → EFECTIVO")))
    val summary = r1.summary.as[(String, Long)].collect().toMap
    assert(!summary.contains(null))
    assert(summary.values.sum === r1.delta.count())
  }

  test("audit covers update/move/conflict/delete/duplicate") {
    val got = r1.audit.select($"accion").as[String].collect().toSet
    assert(got === Set(Actions.Actualizacion, Actions.CambioMetodo,
      Actions.Conflicto, Actions.Eliminacion, Actions.Duplicado))
    val f3audit = r1.audit.filter($"folio" === "F3").collect().head
    assert(f3audit.getAs[String]("detalle") === "Cambios en: Monto")
    assert(f3audit.getAs[String]("valores_anteriores") === "Monto: 100.00")
    assert(f3audit.getAs[String]("valores_nuevos") === "Monto: 200.00")
  }

  test("idempotency: state reaches a fixpoint by the second re-run") {
    // Run 2 on the produced state: conflict row was quarantined, so its
    // source row re-enters as NUEVO (reference behavior); the deleted-but-
    // kept row is re-logged (deletion detection is log-only and re-fires
    // every run); everything else is a no-op. Run 3 must be a fixpoint.
    val r2 = SyncEngine.run(source, r1.newState.localCheckpoint(), W0, W1)
    val acts2 = r2.delta.select(coalesce($"s_folio", $"e_folio"), $"action")
      .as[(String, String)].collect().toMap
    assert(acts2("F5") === Actions.Nuevo)
    assert(acts2("F6") === Actions.Eliminacion)
    assert(acts2.filter(_._1 != "F5").values.toSet ===
      Set(Actions.SinCambios, Actions.FueraVentana, Actions.Eliminacion))

    val r3 = SyncEngine.run(source, r2.newState.localCheckpoint(), W0, W1)
    val acts3 = r3.delta.select($"action").as[String].collect().toSet
    assert(acts3 ===
      Set(Actions.SinCambios, Actions.FueraVentana, Actions.Eliminacion))
    val s2 = r2.newState.collect().map(_.toString).sorted
    val s3 = r3.newState.collect().map(_.toString).sorted
    assert(s2.toSeq === s3.toSeq)
  }

  private def queueDf(rows: Seq[(String, String, String, String, String,
      String, String)]): DataFrame =
    rows.toDF("folio", "hoja_origen", "hoja_destino", "conciliado",
      "concepto_banco", "observaciones", "estado")
      .withColumn("conflicto", concat(lit("Cambio método pago: "),
        $"hoja_origen", lit(" → "), $"hoja_destino"))
      .withColumn("fecha", to_date(lit("2025-11-05")))
      .withColumn("cliente", lit("cli"))
      .withColumn("servicio", lit("srv"))
      .withColumn("monto", lit(100.0))
      .withColumn("banco", lit("BANCOMER"))

  test("apply-back: aceptar lands in destination, flag maps, idempotent") {
    // F5's conflict from the golden run: TARJETA → TRANSFERENCIA with
    // recibo=true. Accepting must reinstate it in TRANSFERENCIA with
    // the flag carried onto the DESTINATION's flag column (conciliado).
    val res = Seq(("F5", "aceptar", "ok")).toDF("folio", "accion", "nota")
    val (st2, q2) =
      SyncEngine.applyResolutions(r1.newState, r1.conflicts, res)
    val f5 = st2.filter($"folio" === "F5").collect()
    assert(f5.length === 1)
    assert(f5.head.getAs[String]("partition") === "TRANSFERENCIA")
    assert(f5.head.getAs[Boolean]("conciliado") === true)
    assert(f5.head.isNullAt(f5.head.fieldIndex("recibo")))
    // the fixture's empty tarjeta render ("Afiliación: ; Lote: ")
    // parses back to NULLs, never empty-string work
    assert(f5.head.isNullAt(f5.head.fieldIndex("afiliacion")))
    assert(f5.head.isNullAt(f5.head.fieldIndex("concepto_banco")))
    val qrow = q2.filter($"folio" === "F5").collect().head
    assert(qrow.getAs[String]("estado") === "Resuelto")
    assert(qrow.getAs[String]("observaciones") === "ok")
    // idempotent: a re-apply (or a raced duplicate resolution) is a
    // fixpoint — same state rows, queue already Resuelto stays put
    val (st3, q3) = SyncEngine.applyResolutions(st2, q2, res)
    assert(st3.collect().map(_.toString).sorted.toSeq ===
      st2.collect().map(_.toString).sorted.toSeq)
    assert(q3.collect().map(_.toString).sorted.toSeq ===
      q2.collect().map(_.toString).sorted.toSeq)
  }

  test("apply-back: ignorar reinstates origin; tarjeta render round-trips") {
    val queue = queueDf(Seq(
      ("F10", "TARJETA", "TRANSFERENCIA", "Sí",
        "Afiliación: 4771419; Lote: 7", "revisado", "Pendiente"),
      ("F11", "TRANSFERENCIA", "TARJETA", "No",
        "SPEI RECIBIDO", "", "Pendiente"), // stays Pendiente (undecided)
      ("F12", "TARJETA", "EFECTIVO", "Sí", "", "", "Resuelto"))) // done
    val empty = stDf(Seq.empty)
    val res = Seq(("F10", "ignorar", "error en origen"),
      ("F12", "aceptar", "late")).toDF("folio", "accion", "nota")
    val (st2, q2) = SyncEngine.applyResolutions(empty, queue, res)
    // F10 back in its ORIGIN partition with the typed work restored
    val rows = st2.collect().map(r => r.getAs[String]("folio") -> r).toMap
    assert(rows.keySet === Set("F10")) // F11 undecided, F12 not Pendiente
    val f10 = rows("F10")
    assert(f10.getAs[String]("partition") === "TARJETA")
    assert(f10.getAs[Boolean]("recibo") === true)
    assert(f10.getAs[String]("afiliacion") === "4771419")
    assert(f10.getAs[String]("lote") === "7")
    assert(f10.isNullAt(f10.fieldIndex("concepto_banco")))
    assert(f10.getAs[String]("observaciones") === "revisado")
    val q = q2.collect().map(r => r.getAs[String]("folio") -> r).toMap
    assert(q("F10").getAs[String]("estado") === "Resuelto")
    assert(q("F10").getAs[String]("observaciones") ===
      "revisado | error en origen")
    assert(q("F11").getAs[String]("estado") === "Pendiente")
    // already-Resuelto rows never re-flip or re-append notes
    assert(q("F12").getAs[String]("estado") === "Resuelto")
    assert(q("F12").getAs[String]("observaciones") === "")
  }

  test("apply-back: conflicting duplicate submissions collapse to one") {
    // a double-submitted review sheet sends BOTH aceptar and ignorar
    // for F10: exactly one state row may land, and the lexical-min
    // rule makes it the aceptar (destination) one
    val queue = queueDf(Seq(("F10", "TARJETA", "TRANSFERENCIA", "Sí",
      "", "", "Pendiente")))
    val res = Seq(("F10", "ignorar", "b"), ("F10", "aceptar", "a"),
      ("F10", "aceptar", "a")) // plus an exact duplicate row
      .toDF("folio", "accion", "nota")
    val (st2, q2) = SyncEngine.applyResolutions(stDf(Seq.empty), queue, res)
    val rows = st2.filter($"folio" === "F10").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("partition") === "TRANSFERENCIA")
    // the queue row is not fanned out either
    assert(q2.count() === 1)
    assert(q2.collect().head.getAs[String]("observaciones") === "a")
  }

  test("apply-back: never overwrites a folio already present in state") {
    // the folio re-entered the state (e.g. a later sync inserted it as
    // NUEVO); the resolution must not create a second row
    val queue = queueDf(Seq(("F2", "TARJETA", "TRANSFERENCIA", "No",
      "", "", "Pendiente")))
    val res = Seq(("F2", "aceptar", "x")).toDF("folio", "accion", "nota")
    val (st2, _) = SyncEngine.applyResolutions(r1.newState, queue, res)
    assert(st2.filter($"folio" === "F2").count() === 1)
    assert(st2.count() === r1.newState.count())
  }

  test("prepareSource quarantines poison rows, forgives partial ones") {
    val raw = Seq(
      ("F1", "5/11/2025", "$1,234.50"),   // clean
      ("F2", "not a date", "100.00"),     // bad fecha only → clean, NULL
      ("F3", "6/11/2025", "N/A"),         // bad monto only → clean, 0.00
      ("F4", "sin fecha", "ilegible"))    // both bad → rejected
      .toDF("folio", "fecha_raw", "monto_raw")
    val (clean, rejected) = SyncEngine.prepareSource(raw)
    assert(rejected.select($"folio").as[String].collect().toSeq === Seq("F4"))
    assert(rejected.columns.contains("motivo_rechazo"))
    val byFolio = clean
      .select($"folio", $"fecha".cast("string"), $"monto".cast("double"))
      .as[(String, Option[String], Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byFolio.keySet === Set("F1", "F2", "F3")) // partition: no loss
    assert(byFolio("F1") === ((Some("2025-11-05"), 1234.5)))
    assert(byFolio("F2") === ((None, 100.0)))
    assert(byFolio("F3") === ((Some("2025-11-06"), 0.0)))
  }

  test("cierres refresh preserves every manual column verbatim") {
    import graft.operators.Aggregates
    val cierres = Seq(
      ("2025-11-01", "7", 300.0, Some(true), Some("depositado en OXXO")),
      ("2025-11-02", "8", 120.0, Some(false), None),
      ("2025-11-03", "9", 50.0, None, Some("revisar ticket")))
      .toDF("fecha", "lote", "total_cierre", "depositado", "observaciones")
      .withColumn("fecha", to_date($"fecha"))
    val tarjetas = Seq(
      ("7", 100.0), ("7", 200.0), // lot 7 cuadra
      ("8", 120.5),               // lot 8 off by 0.50
      ("77", 10.0))               // lot without a closure row: ignored
      .toDF("lote", "monto")
    val r1 = Aggregates.refreshCierres(cierres, tarjetas)
      .withColumn("total_folios", $"total_folios".cast("double"))
    val flags = r1.select($"lote", $"cuadra").as[(String, String)]
      .collect().toMap
    assert(flags === Map("7" -> "✅", "8" -> "❌", "9" -> "❌")) // 9: no cards
    // protected zone: manual columns byte-identical before and after, and
    // a second refresh over the refreshed table is a fixpoint
    val manual = Aggregates.CierresManualCols.map(col)
    assert(r1.select(manual: _*).collect().map(_.toString).sorted.toSeq ===
      cierres.select(manual: _*).collect().map(_.toString).sorted.toSeq)
    val r2 = Aggregates.refreshCierres(
      r1.select((Aggregates.CierresManualCols :+ "total_folios" :+ "cuadra")
        .map(col): _*).drop("total_folios", "cuadra"), tarjetas)
      .withColumn("total_folios", $"total_folios".cast("double"))
    assert(r2.collect().map(_.toString).sorted.toSeq ===
      r1.collect().map(_.toString).sorted.toSeq)
  }
}
