"""Reference results computed outside the program, in DuckDB.

`nightly`: `SyncReplay` replays the keyed-upsert sync over the generator's
ground truth (typed values, not the raw strings the program parses), night
by night, and yields the expected action counts, audit and
conflict row counts, rejected rows and final state.

`reports`: `oracle_results` runs each query's DuckDB oracle SQL over
the generated tables and writes the result as parquet, plus the column
types the compare rules of `tools/check.py` care about.
"""
import json
import os

import duckdb

ACTIONS = ["NUEVO", "ACTUALIZACIÓN", "SIN_CAMBIOS", "CAMBIO MÉTODO PAGO",
           "CONFLICTO → REVISIÓN", "ELIMINACIÓN DETECTADA", "FUERA_VENTANA"]
AUDITED = ["ACTUALIZACIÓN", "CAMBIO MÉTODO PAGO", "CONFLICTO → REVISIÓN",
           "ELIMINACIÓN DETECTADA"]

STATE_COLS = """"partition", folio, fecha, cliente, servicio, banco, cents,
  conciliado, concepto_banco, observaciones, recibo, afiliacion, lote,
  verificado"""


def _nonblank(c):
    return f"coalesce(trim({c}) <> '', false)"


MANUAL_WORK = f"""CASE e.partition
  WHEN 'TRANSFERENCIA' THEN coalesce(e.conciliado, false)
    OR {_nonblank('e.concepto_banco')} OR {_nonblank('e.observaciones')}
  WHEN 'TARJETA' THEN coalesce(e.recibo, false)
    OR {_nonblank('e.afiliacion')} OR {_nonblank('e.lote')}
    OR {_nonblank('e.observaciones')}
  ELSE coalesce(e.verificado, false) OR {_nonblank('e.observaciones')} END"""


class SyncReplay:
    """Expected outcome of a sequence of sync runs against one state."""

    def __init__(self, state_parquet):
        self.con = duckdb.connect()
        self.con.execute(f"""CREATE TABLE st AS
            SELECT * EXCLUDE (monto),
                   CAST(round(monto * 100) AS BIGINT) AS cents
            FROM read_parquet('{state_parquet}')""")

    def step(self, truth_parquet, window_start, window_end):
        """Apply one run; returns its expected counts."""
        c = self.con
        c.execute(f"""CREATE OR REPLACE TABLE feed AS
            SELECT * FROM read_parquet('{truth_parquet}')""")
        rejected, clean, distinct = c.execute("""SELECT
            count(*) FILTER (WHERE rejected),
            count(*) FILTER (WHERE NOT rejected),
            count(DISTINCT folio) FILTER (WHERE NOT rejected) FROM feed"""
                                              ).fetchone()
        c.execute(f"""CREATE OR REPLACE TABLE delta AS
            WITH s AS (
              SELECT * FROM (SELECT *, row_number() OVER (
                PARTITION BY folio ORDER BY ord) AS rn
                FROM feed WHERE NOT rejected) WHERE rn = 1)
            SELECT s.folio AS s_folio, s.fecha AS s_fecha,
              s.cliente AS s_cliente, s.servicio AS s_servicio,
              s.banco AS s_banco, s.monto_cents AS s_cents,
              s.metodo AS s_metodo, e.*,
              CASE
                WHEN e.folio IS NULL THEN 'NUEVO'
                WHEN s.folio IS NULL THEN CASE
                  WHEN e.fecha BETWEEN DATE '{window_start}'
                                   AND DATE '{window_end}'
                  THEN 'ELIMINACIÓN DETECTADA' ELSE 'FUERA_VENTANA' END
                WHEN s.metodo <> e.partition THEN CASE
                  WHEN {MANUAL_WORK} THEN 'CONFLICTO → REVISIÓN'
                  ELSE 'CAMBIO MÉTODO PAGO' END
                WHEN s.fecha IS DISTINCT FROM e.fecha
                  OR s.cliente IS DISTINCT FROM e.cliente
                  OR s.servicio IS DISTINCT FROM e.servicio
                  OR abs(s.monto_cents - e.cents) >= 1
                  OR (e.partition = 'TRANSFERENCIA'
                      AND s.banco IS DISTINCT FROM e.banco)
                THEN 'ACTUALIZACIÓN'
                ELSE 'SIN_CAMBIOS' END AS action
            FROM s FULL OUTER JOIN st e ON s.folio = e.folio""")
        c.execute(f"""CREATE OR REPLACE TABLE st AS
            SELECT {STATE_COLS} FROM delta WHERE action IN
              ('SIN_CAMBIOS', 'ELIMINACIÓN DETECTADA', 'FUERA_VENTANA')
            UNION ALL
            SELECT "partition", s_folio, s_fecha, s_cliente, s_servicio,
              s_banco, s_cents, conciliado, concepto_banco, observaciones,
              recibo, afiliacion, lote, verificado
            FROM delta WHERE action = 'ACTUALIZACIÓN'
            UNION ALL
            SELECT s_metodo, s_folio, s_fecha, s_cliente, s_servicio,
              s_banco, s_cents, NULL, NULL, NULL, NULL, NULL, NULL, NULL
            FROM delta WHERE action IN ('NUEVO', 'CAMBIO MÉTODO PAGO')""")
        actions = dict(c.execute(
            "SELECT action, count(*) FROM delta GROUP BY 1").fetchall())
        duplicates = clean - distinct
        return {
            "actions": {a: actions.get(a, 0) for a in ACTIONS},
            "duplicates": duplicates,
            "rejected": rejected,
            "audit_rows": sum(actions.get(a, 0) for a in AUDITED) + duplicates,
            "conflict_rows": actions.get("CONFLICTO → REVISIÓN", 0),
        }

    def state_summary(self):
        return summarize_state(self.con, "st", "cents")


def summarize_state(con, table, cents_expr):
    """What the state checks compare: row count and amount total per
    partition, and a digest of the folio set."""
    per_part = con.execute(f"""SELECT "partition", count(*),
        sum({cents_expr})::BIGINT FROM {table} GROUP BY 1 ORDER BY 1"""
                           ).fetchall()
    rows, distinct, digest = con.execute(f"""SELECT count(*),
        count(DISTINCT folio), coalesce(bit_xor(hash(folio)), 0)::VARCHAR
        FROM {table}""").fetchone()
    return {"partitions": {p: [n, s] for p, n, s in per_part},
            "rows": rows, "distinct_folios": distinct, "folio_digest": digest}


def program_state_summary(parquet_dir):
    """The same summary over the state the program committed (exported as
    plain parquet by the harness)."""
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW ps AS
        SELECT * FROM read_parquet('{parquet_dir}/*.parquet')""")
    return summarize_state(con, "ps", "CAST(round(monto * 100) AS BIGINT)")


# ------------------------------------------------------------ query oracles

def type_class(duck_type):
    """The distinctions `tools/check.py` keeps after the pandas conversion:
    integer vs float (HUGEINT sums become float64), decimal scale, and the
    broad kind of everything else."""
    t = str(duck_type).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT", "FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal:" + t.rstrip(")").split(",")[-1].strip()
    if t in ("VARCHAR",):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.endswith("[]"):
        return "list"
    if t.startswith("STRUCT"):
        return "struct"
    if t == "BLOB":
        return "binary"
    return t.lower()


def oracle_results(data_dir, oracle_sql, names, out_dir):
    """Run each named oracle over the tables in `data_dir`; write each
    result to `out_dir/<name>/` and return {name: {cols, types, rows}} (or
    {name: {error}} when the oracle itself fails)."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"""CREATE VIEW {f[:-8]} AS
                SELECT * FROM read_parquet('{data_dir}/{f}')""")
    meta = {}
    for name in names:
        try:
            rel = con.sql(oracle_sql[name])
            cols, types = rel.columns, [type_class(t) for t in rel.types]
            os.makedirs(f"{out_dir}/{name}", exist_ok=True)
            rel.write_parquet(f"{out_dir}/{name}/part-0.parquet")
            rows = con.execute(f"""SELECT count(*) FROM
                read_parquet('{out_dir}/{name}/part-0.parquet')""").fetchone()[0]
            meta[name] = {"cols": cols, "types": types, "rows": rows}
        except Exception as e:  # reported as a failed check of every op
            meta[name] = {"error": str(e).splitlines()[0][:200]}
    with open(f"{out_dir}/oracle.json", "w") as fh:
        json.dump(meta, fh)
    return meta
