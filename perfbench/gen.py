"""Seeded input generation for the benchmark.

Everything the program reads is written here, as parquet, before the JVM
starts: the TPC-H-shaped `orders` / `customer` tables the report queries
read, and the raw bank-sync feeds of the `nightly` workload. The generator
also keeps the ground truth of every feed row (the values a correct sync
must end up with), which `reference.py` replays in DuckDB to check the
program's outputs.

Same seed, same bytes: every random draw comes from one
`numpy.random.Generator` seeded with the workload seed.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
HISTORY_START = dt.date(1995, 1, 1)
HISTORY_END = dt.date(2001, 8, 1)
NIGHTLY_FIRST_DAY = dt.date(2001, 6, 1)  # state holds every sale before it
LOOKBACK_DAYS = 10

# Raw payment-method strings and the class the sync must file them under.
METHODS = [
    ("Transferencia SPEI", "TRANSFERENCIA"),
    ("TRANSFERENCIA", "TRANSFERENCIA"),
    ("tarjeta de crédito", "TARJETA"),
    ("Tarjeta", "TARJETA"),
    ("EFECTIVO", "EFECTIVO"),
    ("efectivo", "EFECTIVO"),
    ("", "OTROS"),
    ("cheque", "OTROS"),
]
BANKS = ["BANCOMER", "SANTANDER", "BANAMEX", "BANORTE", "HSBC", "SPEI", ""]
SERVICES = ["tapete chico", "Sala 3 piezas", "Sala 3 pizas + 4 sillas",
            "Aveo", "sillon 3 plazas", "colchón individual"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def day(d):
    return (d - EPOCH).days


def date_of(n):
    return EPOCH + dt.timedelta(days=int(n))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ------------------------------------------------------------ TPC-H shape

def tpch(rng, n_orders, out_dir):
    """`orders` and `customer` with the testdata schemas and value ranges."""
    n_cust = max(1, n_orders // 10)
    start, end = day(HISTORY_START), day(HISTORY_END)
    orderdate = rng.integers(start, end + 1, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": pa.array(
            orderdate.astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(
            rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    write(orders, f"{out_dir}/orders.parquet")
    write(customer, f"{out_dir}/customer.parquet")
    events(rng, n_orders * 2 // 3, out_dir)


EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def events(rng, n, out_dir):
    """`events` with the testdata shape: a month of time-ordered events."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), f"{out_dir}/events.parquet")


# ------------------------------------------------------------ sync feeds

class Sales:
    """Ground truth of the sales sheet: one entry per folio."""

    def __init__(self, rng, n):
        start, end = day(HISTORY_START), day(HISTORY_END)
        self.folio = np.array([f"0-{k:06d}" for k in range(n)], dtype=object)
        # the same number of sales every day (62 or 63 at sf0.1), so the
        # seed changes values but not the volume a run syncs
        self.fecha = start + rng.permutation(np.arange(n) % (end - start + 1))
        self.cents = rng.integers(55000, 2300000, n)
        self.method = rng.integers(0, len(METHODS), n)
        self.cliente = rng.integers(0, 500, n)
        self.servicio = rng.integers(0, len(SERVICES), n)
        self.banco = rng.integers(0, len(BANKS), n)
        self.deleted = np.zeros(n, dtype=bool)

    def klass(self, idx):
        return np.array([METHODS[m][1] for m in self.method[idx]], dtype=object)


def cliente_name(i):
    return f"Cliente {i:03d}"


def fecha_raw(rng, fecha):
    """Mostly `d/M/yyyy` without zero padding, some ISO dates."""
    iso = rng.random(len(fecha)) < 0.15
    out = []
    for f, i in zip(fecha, iso):
        d = date_of(f)
        out.append(d.isoformat() if i else f"{d.day}/{d.month}/{d.year}")
    return out


def monto_raw(rng, cents):
    """Currency strings the way the sheet holds them."""
    form = rng.integers(0, 10, len(cents))
    out = []
    for c, f in zip(cents, form):
        plain = f"{c // 100}.{c % 100:02d}"
        money = f"${c // 100:,}.{c % 100:02d}"
        out.append(money if f < 5 else plain if f < 9 else f'"{money}"')
    return out


FEED_SCHEMA = pa.schema([
    ("ord", pa.int64()), ("folio", pa.string()), ("fecha_raw", pa.string()),
    ("cliente", pa.string()), ("servicio", pa.string()),
    ("banco", pa.string()), ("monto_raw", pa.string()),
    ("metodo_raw", pa.string())])

TRUTH_SCHEMA = pa.schema([
    ("ord", pa.int64()), ("folio", pa.string()), ("fecha", pa.date32()),
    ("cliente", pa.string()), ("servicio", pa.string()),
    ("banco", pa.string()), ("monto_cents", pa.int64()),
    ("metodo", pa.string()), ("rejected", pa.bool_())])


def feed_tables(rng, sales, idx, dup_share, junk_rows, tag):
    """Raw feed (what the program reads) and its truth (what the reference
    replays) for the sales rows `idx`, with seeded duplicate folios and
    unparseable rows mixed in."""
    idx = np.asarray(idx)
    rng.shuffle(idx)
    n = len(idx)
    dups = rng.choice(idx, round(n * dup_share), replace=False)
    rows = np.concatenate([idx, dups])
    is_dup = np.concatenate([np.zeros(n, bool), np.ones(len(dups), bool)])
    cents = sales.cents[rows] + np.where(is_dup, 5000, 0)
    fecha = sales.fecha[rows]
    cols = {
        "folio": list(sales.folio[rows]),
        "cliente": [cliente_name(c) for c in sales.cliente[rows]],
        "servicio": [SERVICES[s] for s in sales.servicio[rows]],
        "banco": [BANKS[b] for b in sales.banco[rows]],
        "metodo_raw": [METHODS[m][0] for m in sales.method[rows]],
    }
    truth_metodo = [METHODS[m][1] for m in sales.method[rows]]
    raw_fecha = fecha_raw(rng, fecha)
    raw_monto = monto_raw(rng, cents)
    rejected = [False] * len(rows)
    truth_fecha = [date_of(f) for f in fecha]
    truth_cents = list(cents)
    for j in range(junk_rows):
        cols["folio"].append(f"RECHAZO-{tag}-{j}")
        cols["cliente"].append("(ilegible)")
        cols["servicio"].append("")
        cols["banco"].append("")
        cols["metodo_raw"].append("cheque")
        truth_metodo.append("OTROS")
        raw_fecha.append("sin fecha")
        raw_monto.append("ilegible")
        rejected.append(True)
        truth_fecha.append(None)
        truth_cents.append(0)
    ords = np.arange(len(rejected), dtype=np.int64) * 2 + 1
    feed = pa.table({"ord": ords, "folio": cols["folio"],
                     "fecha_raw": raw_fecha, "cliente": cols["cliente"],
                     "servicio": cols["servicio"], "banco": cols["banco"],
                     "monto_raw": raw_monto,
                     "metodo_raw": cols["metodo_raw"]}, schema=FEED_SCHEMA)
    truth = pa.table({"ord": ords, "folio": cols["folio"],
                      "fecha": truth_fecha, "cliente": cols["cliente"],
                      "servicio": cols["servicio"], "banco": cols["banco"],
                      "monto_cents": truth_cents, "metodo": truth_metodo,
                      "rejected": rejected}, schema=TRUTH_SCHEMA)
    return feed, truth


def seeded_state(sales, idx):
    """The destination state as of the first night: every history sale in
    the partition of its method, with SyncFixture's protected zone (human
    work on the folio number k: k % 3, % 9 and % 2 by partition, k % 5 on
    every partition), which turns a method change into a conflict."""
    idx = np.asarray(idx)
    n = len(idx)
    part = sales.klass(idx)
    k3, k9, k5, k2 = idx % 3 == 0, idx % 9 == 0, idx % 5 == 0, idx % 2 == 0

    def pick(mask, values):
        return [v if m else None for m, v in zip(mask, values)]

    tr, tj = part == "TRANSFERENCIA", part == "TARJETA"
    ef = ~(tr | tj)
    return pa.table({
        "partition": part,
        "folio": sales.folio[idx],
        "fecha": [date_of(f) for f in sales.fecha[idx]],
        "cliente": [cliente_name(c) for c in sales.cliente[idx]],
        "servicio": [SERVICES[s] for s in sales.servicio[idx]],
        "banco": [BANKS[b] for b in sales.banco[idx]],
        "monto": sales.cents[idx] / 100.0,
        "conciliado": pick(tr & k3, [True] * n),
        "concepto_banco": pick(tr & k9, ["SPEI RECIBIDO"] * n),
        "observaciones": pick(k5, ["revisado"] * n),
        "recibo": pick(tj & k3, [True] * n),
        "afiliacion": pick(tj & k9, ["4771419"] * n),
        "lote": pick(tj & k2, [str(v) for v in idx % 50]),
        "verificado": pick(ef & k3, [True] * n),
    }, schema=pa.schema([
        ("partition", pa.string()), ("folio", pa.string()),
        ("fecha", pa.date32()), ("cliente", pa.string()),
        ("servicio", pa.string()), ("banco", pa.string()),
        ("monto", pa.float64()), ("conciliado", pa.bool_()),
        ("concepto_banco", pa.string()), ("observaciones", pa.string()),
        ("recibo", pa.bool_()), ("afiliacion", pa.string()),
        ("lote", pa.string()), ("verificado", pa.bool_())]))


# The night's mix follows SyncFixture, the sync scenario of the repository's
# oracle suite, read as rates per run: of the rows a night re-scans, 1/7
# have a new amount (+5.00), 1/13 a method of the next class, 1/17 another
# bank (an update on TRANSFERENCIA only), 1/23 another cliente and 1/31 a
# fecha one day later, each drawn independently; 1/19 of the state rows in
# the window are gone from the sheet; 1/101 of the feed rows repeat a folio
# (+50.00). New sales come out near SyncFixture's 1/11 by themselves: one
# day of the 11-day window. SyncFixture has no unparseable rows; each feed
# carries 3. No sample of a real nightly feed is in the repository, so that
# a sheet sees SyncFixture's rates every night is an assumption.
EDIT_RATES = {"cents": 1 / 7, "method": 1 / 13, "banco": 1 / 17,
              "cliente": 1 / 23, "fecha": 1 / 31}
DELETE_RATE = 1 / 19
DUP_RATE = 1 / 101
JUNK_ROWS = 3


def nightly(rng, n_orders, nights, out_dir):
    """State as of NIGHTLY_FIRST_DAY plus one raw feed per night. Night k
    syncs the 10-day lookback window ending NIGHTLY_FIRST_DAY + k: rows
    already synced are re-scanned, today's sales are new, and the seeded
    edits of EDIT_RATES land on the sheet (they stay for later nights).
    A deleted row stays in the state and is detected again every night
    while it is in the window, so each night deletes DELETE_RATE of one
    day's sales (yesterday's), and the history's window starts with the
    same share deleted."""
    sales = Sales(rng, n_orders)
    first = day(NIGHTLY_FIRST_DAY)
    write(seeded_state(sales, np.flatnonzero(sales.fecha < first)),
          f"{out_dir}/state0.parquet")

    def delete(rows):
        sales.deleted[rows[rng.random(len(rows)) < DELETE_RATE]] = True
    delete(np.flatnonzero((sales.fecha >= first - LOOKBACK_DAYS)
                          & (sales.fecha < first - 1)))
    for k in range(nights):
        today = first + k
        lo = today - LOOKBACK_DAYS
        delete(np.flatnonzero((sales.fecha == today - 1) & ~sales.deleted))
        old = np.flatnonzero((sales.fecha >= lo) & (sales.fecha < today)
                             & ~sales.deleted)
        edit = {f: old[rng.random(len(old)) < r] for f, r in EDIT_RATES.items()}
        sales.cents[edit["cents"]] += 500
        # METHODS holds two spellings per class, in class order
        sales.method[edit["method"]] = (sales.method[edit["method"]] + 2) % len(METHODS)
        sales.banco[edit["banco"]] = (sales.banco[edit["banco"]] + 1) % len(BANKS)
        sales.cliente[edit["cliente"]] = (sales.cliente[edit["cliente"]] + 1) % 500
        sales.fecha[edit["fecha"]] = np.minimum(sales.fecha[edit["fecha"]] + 1, today)
        live = np.flatnonzero((sales.fecha >= lo) & (sales.fecha <= today)
                              & ~sales.deleted)
        feed, truth = feed_tables(rng, sales, live, DUP_RATE, JUNK_ROWS, f"n{k}")
        write(feed, f"{out_dir}/feed/night-{k:03d}.parquet")
        write(truth, f"{out_dir}/truth/night-{k:03d}.parquet")
