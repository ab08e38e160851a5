"""Correctness checks of a run's outputs.

Suite ops: each op's full result (dumped untimed by the harness) is
compared with the DuckDB oracle SQL the registry carries for it; an op
without oracle SQL fails the check.

Nightly: the mart a run ends with is compared, row for row, with the
closed form of the revised-figures POS model (the same model as the
harness's `PosModel`, written out again here).
"""
import datetime
import decimal
import glob
import os

M64 = (1 << 64) - 1
D0 = datetime.date(2024, 7, 1)
REGIONS = ["north", "south", "east"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---- the POS model
def _splitmix(z):
    z = (z + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def mix(*xs):
    h = 0
    for x in xs:
        h = _splitmix(h ^ (x & M64))
    return h - (1 << 64) if h >= 1 << 63 else h


def is_error(seed, store):
    return mix(seed, store, 1) % 50 == 0


def base(seed, store, epoch_day):
    return mix(seed, store, epoch_day, 2) % 1000


def region(seed, store):
    r = mix(seed, store, 3) % 4
    return None if r == 0 else REGIONS[r - 1]


def epoch_day(d):
    return (d - datetime.date(1970, 1, 1)).days


def k(seed, store, d, night):
    return base(seed, store, epoch_day(d)) + 100 * (night - (d - D0).days)


def fetched(seed, store, d, night):
    """One decoded record of the envelope, or None for an error store."""
    if is_error(seed, store):
        return None
    return (store * 100000 + epoch_day(d), store, d.isoformat(),
            k(seed, store, d, night), region(seed, store) or "unknown")


def closed_form(seed, stores, night):
    """The mart after `night` nights: date i was last fetched on night
    min(i + 1, night), so every date but the newest carries its one
    revision."""
    rows = set()
    for i in range(night + 1):
        d = D0 + datetime.timedelta(days=i)
        for s in range(stores):
            r = fetched(seed, s, d, min(i + 1, night))
            if r is not None:
                rows.add(r)
    return rows


def check_mart(mart_dir, seed, stores, night):
    import duckdb
    con = duckdb.connect()
    got = con.execute(
        "SELECT id, store_id, CAST(sale_d AS VARCHAR), k, region FROM "
        f"read_parquet('{mart_dir}/sale_d=*/*.parquet', hive_partitioning = 1)"
    ).fetchall()
    want = closed_form(seed, stores, night)
    gset = set(got)
    if len(got) == len(gset) and gset == want:
        return None
    return (f"mart after night {night}: {len(got)} rows ({len(gset)} distinct), "
            f"want {len(want)}; missing {sorted(want - gset)[:2]}, "
            f"extra {sorted(gset - want)[:2]}")


# ---- suite results
def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "nan" if v != v else float(f"{v:.9g}") + 0.0  # + 0.0 folds -0.0
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int((v - datetime.datetime(1970, 1, 1)) / datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return tuple((kk, _norm(x)) for kk, x in sorted(v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _plain(t):
    """Arrow types whose Python values need no normalizing."""
    import pyarrow as pa
    return pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)


def canonical(tbl):
    """Column names and rows of an Arrow table, normalized and sorted."""
    cols = sorted(tbl.column_names)
    columns = []
    for c in cols:
        col = tbl.column(c)
        vals = col.to_pylist()
        columns.append(vals if _plain(col.type) else [_norm(v) for v in vals])
    rows = list(zip(*columns))
    # any total order will do: both sides are normalized the same way
    rows.sort(key=repr)
    return cols, rows


def read_dump(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result files in {path}")
    return pq.read_table(files, coerce_int96_timestamp_unit="us")


def check_suite(check_dir, data_dir, oracle_sql, ops):
    """Returns ({op: rows}, [failure strings])."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    rows, fails = {}, []
    for op in ops:
        try:
            got = read_dump(os.path.join(check_dir, op))
        except Exception as e:  # the op threw in the harness: already a failure there
            fails.append(f"{op}: no result ({e})")
            continue
        rows[op] = got.num_rows
        if op not in oracle_sql:
            fails.append(f"{op}: no oracle SQL to check it against")
            continue
        want = con.execute(oracle_sql[op]).arrow()
        gc, gr = canonical(got)
        wc, wr = canonical(want)
        if gc != wc:
            fails.append(f"{op}: columns {gc} != oracle {wc}")
        elif gr != wr:
            diff = next((i for i, (a, b) in enumerate(zip(gr, wr)) if a != b), min(len(gr), len(wr)))
            fails.append(f"{op}: {len(gr)} rows vs oracle {len(wr)}; first diff at {diff}: "
                         f"{gr[diff] if diff < len(gr) else None} vs {wr[diff] if diff < len(wr) else None}")
    return rows, fails
