#!/usr/bin/env python3
"""Degenerate-input fixture generator for the edge sweep (round 13).

At 100 TB some nightly slice WILL be empty, some corpus drop WILL
arrive with every optional column null, and some partition WILL hold
exactly one row — but the driver's correctness gate only ever runs the
well-populated sf fixtures, so none of the 113 graded queries had ever
executed against a degenerate input. This tool writes schema-exact
degenerate variants of the ten tables; tools/edge_sweep.py then runs
the UNCHANGED Verify + DuckDB compare over them, so every engine-vs-
oracle divergence on degenerate shapes surfaces through the same gate
that grades the normal shapes.

Variants (each a full 10-table dir):
  empty   — every table 0 rows (schema-only parquet)
  onerow  — every table exactly 1 fully-populated row, all tables
            mutually join-consistent (the one lineitem row references
            the one order/part/supplier; the one event belongs to the
            one customer; ids chosen inside every query's filter
            windows where that decides reachability)
  nulls   — 3 rows per table: one fully populated, one with every
            semantically-optional column NULL (text/lang/source,
            props/value/event_type, measures, embedding), one with
            empty-but-non-null containers ('' text, [] embedding) —
            the three null-shapes SQL treats differently
  nullkeys — 2 rows per table: one fully populated, one with every
            join/group KEY (`*key`/`*_id`) NULL while payloads stay
            real (round 15): the shape `nulls` never makes, and the
            one that exposed the NOT IN oracle class, the primitive
            typed-boundary NOT_NULL job kills, and the NULL-merge-key
            ill-definedness (SCALING.md "Round-15 NULL-key probe")
  dupdims — dimension tables carry their key TWICE with different
            payloads (the late-arriving dim update every warehouse
            eventually ingests, round 15): enrichment joins must
            update each fact row ONCE with a deterministic pick, not
            fan out — caught q15's raw-join oracle the day it ran
  dupfacts — fact tables carry their PRIMARY key twice with identical
            key/FK/timestamp columns and different payloads (round
            16): the redelivered/revised-batch shape no ordering
            column can rank — caught six pick-one ambiguities the day
            it ran (per-record vs GROUP BY doc_id oracles, PPJoin's
            per-doc window blending same-id rows, SCD2's unresolved
            full-tie)
  whitespace — every string column '  ' on one row, '  <v>  ' padded
            on another (round 16): whitespace-only and whitespace-
            padded are different shapes than emptystr's '' — caught
            Spark's CSV WRITER trimming leading/trailing whitespace
            by default (ignore*WhiteSpace true on write, false on
            read): '  ' round-tripped as ''
  naninf  — every DOUBLE column NaN on one row, alternating +-Inf on
            another, [NaN, Inf, -Inf, 0] embeddings (round 16): the
            non-finite measures a bad upstream division ships at
            100 TB — caught a whole-job ANSI CAST kill (q113), the
            NaN-greater-than-everything guard bypass (q34 paired a
            NaN vector with its block), NaN-as-p90 percentiles, the
            silent floor(NaN)=band-0 privacy class, and DuckDB 1.0's
            own TRY_CAST(NaN AS DECIMAL) raise
  emptystr — every STRING column '' with keys intact (round 15): the
            all-empty text/props/name shape; caught DuckDB's ->> 
            hard-error on non-JSON input, the CSV ''-vs-NULL lossy
            round trip, and the zero-byte export invisible to
            Spark's binaryFile reader
  orphans — fact tables (orders/lineitem/events) carry a second row
            with every key/FK bumped +77000: its own PK stays unique,
            every FK dangles (late or trimmed dims). Inner joins must
            drop it, left joins null-fill it, anti/exists probes
            classify it, and no "derive the dim from the facts"
            pruning may drop data the oracle still sees
  liar    — internally INCONSISTENT rows beside the full one: derived
            columns that contradict their sources (LIAR, +70000) and
            domain-violating measures (OUTLAW, +71000) — a query that
            derives a value from `text` on one side of a gate but
            trusts `n_chars` on the other diverges here
  canon   — canonical EQUIVALENCE: the same visual strings in NFC
            (+62000) and NFD (+63000), plus zero-width weaves and a
            defective leading combining mark (+64000), in every
            string-bearing table; both engines byte-compare, pinned
            in UnicodeEquivalenceSpec

Usage: python3 tools/edge_fixtures.py <out_root>
Writes <out_root>/{empty,onerow,nulls,nullkeys,...}/<table>.parquet
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
from datetime import datetime

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}

TS = datetime(1995, 6, 15, 12, 0, 0)  # inside the fixtures' date windows

ONEROW = {
    "region": {"r_regionkey": 0, "r_name": "ASIA"},
    "nation": {"n_nationkey": 1, "n_name": "JAPAN", "n_regionkey": 0},
    "customer": {"c_custkey": 7, "c_name": "Customer#7", "c_nationkey": 1,
                 "c_acctbal": 711.56, "c_mktsegment": "BUILDING"},
    "supplier": {"s_suppkey": 3, "s_name": "Supplier#3", "s_nationkey": 1,
                 "s_acctbal": 4032.68},
    "part": {"p_partkey": 11, "p_name": "lime green part", "p_brand": "Brand#13",
             "p_type": "PROMO BRUSHED", "p_size": 9, "p_retailprice": 911.0},
    "orders": {"o_orderkey": 101, "o_custkey": 7, "o_orderstatus": "O",
               "o_totalprice": 172799.49, "o_orderdate": TS,
               "o_orderpriority": "1-URGENT"},
    "lineitem": {"l_orderkey": 101, "l_partkey": 11, "l_suppkey": 3,
                 "l_linenumber": 1, "l_quantity": 17.0,
                 "l_extendedprice": 21168.23, "l_discount": 0.04, "l_tax": 0.02,
                 "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS},
    "events": {"event_id": 1001, "ts": TS, "user_id": 7, "event_type": "view",
               "value": 3.5, "props": '{"k":"v"}'},
    "documents": {"doc_id": 42, "text": "the quick brown fox jumps over the lazy dog",
                  "lang": "en", "source": "web", "n_chars": 43},
    "embeddings": {"vec_id": 42, "embedding": [0.1, 0.2, 0.3, 0.4], "label": 0},
}

# semantically-optional columns (keys/dates stay non-null: a null KEY is
# a different contract, exercised where queries define it, not here)
OPTIONAL = {
    "region": ["r_name"],
    "nation": ["n_name"],
    "customer": ["c_name", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_name", "s_acctbal"],
    "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus"],
    "events": ["event_type", "value", "props"],
    "documents": ["text", "lang", "source"],
    "embeddings": ["embedding"],
}

# empty-but-non-null container shapes ('' vs NULL, [] vs NULL)
EMPTYISH = {
    "documents": {"text": "", "lang": "", "source": ""},
    "events": {"props": "{}", "event_type": ""},
    "embeddings": {"embedding": []},
}

# domain-edge values (variant "extremes"): negative keys, boundary
# dates, money at the wide end of the DECIMAL(18,2) contract, strings
# carrying CSV/JSON-hostile bytes (embedded quote, comma, newline).
# Keys stay join-consistent via bump_keys.
EXTREME = {
    "region": {"r_name": 'AM"ER,ICA\nB'},
    "nation": {"n_name": 'JA"PA,N\nX'},
    "customer": {"c_name": 'Cust "X", the\n2nd', "c_acctbal": -999999999.99,
                 "c_mktsegment": "BUILD,ING"},
    "supplier": {"s_acctbal": 0.01},
    "part": {"p_name": 'part "quoted", with\nnewline', "p_size": 0,
             "p_retailprice": 0.0},
    "orders": {"o_totalprice": 99999999999.99,
               "o_orderdate": datetime(1900, 1, 1, 0, 0, 0),
               "o_orderpriority": '5-LOW,"ISH"'},
    "lineitem": {"l_quantity": 0.0, "l_extendedprice": 99999999.99,
                 "l_discount": 1.0, "l_tax": 0.0,
                 "l_shipdate": datetime(2199, 12, 31, 23, 59, 59)},
    "events": {"ts": datetime(1970, 1, 1, 0, 0, 0), "value": -0.0,
               "props": '{"k":"a\\"b,c\\nd"}'},
    "documents": {"text": 'He said "hi, there"\nthen left, fast',
                  "source": "we\nb"},
    "embeddings": {"embedding": [1e30, -1e30, 1e-30, 0.0]},
}

# multibyte/RTL/emoji content (variant "unicode"): chars-vs-bytes
# semantics through the text tier (token counts, fingerprints,
# masking, CSV), plus non-ASCII in every string dimension column.
UNICODE = {
    "region": {"r_name": "ÅSIÄ"},
    "nation": {"n_name": "ÜNÎCØDÉ 国"},
    "customer": {"c_name": "Müller 北京 🦀", "c_mktsegment": "BÂTIMENT"},
    "supplier": {"s_name": "供应商#3"},
    "part": {"p_name": "café crème 部品", "p_type": "PROMO BRÛSSÉD"},
    "orders": {"o_orderpriority": "1-緊急"},
    "lineitem": {"l_returnflag": "Ñ", "l_linestatus": "Ø"},
    "events": {"event_type": "点击", "props": '{"k":"héllo"}'},
    "documents": {"text": "héllo wörld 你好 世界 🦀 مرحبا بالعالم éé 1つ",
                  "lang": "zh", "source": "ウェブ"},
    "embeddings": {},
}


def bump_keys(row, delta):
    out = dict(row)
    for k, v in out.items():
        if k.endswith(("key", "_id")) or k in ("event_id",):
            if isinstance(v, int):
                out[k] = v + delta
    return out


def write(outdir, name, rows):
    sch = SCHEMAS[name]
    cols = {f.name: [r.get(f.name) for r in rows] for f in sch}
    tbl = pa.table({n: pa.array(v, type=sch.field(n).type) for n, v in cols.items()},
                   schema=sch)
    pq.write_table(tbl, f"{outdir}/{name}.parquet")


DIM_TABLES = frozenset(["region", "nation", "customer", "supplier", "part"])

# fact tables for the dupfacts variant: the redelivered/revised-batch
# shape duplicates PRIMARY keys here (dupdims owns the dim side)
FACT_TABLES = frozenset(["orders", "lineitem", "events", "documents",
                         "embeddings"])


def dup_dim_row(full):
    """Same keys, every payload changed — the late-arriving dim update
    (r15 dupdims variant)."""
    out = dict(full)
    for k, v in out.items():
        if not (k.endswith("key") or k.endswith("_id")):
            if isinstance(v, str):
                out[k] = v + "_v2"
            elif isinstance(v, float):
                out[k] = v + 1.0
            elif isinstance(v, int):
                out[k] = v + 1
    return out


NAN = float("nan")
INF = float("inf")


def nan_row(full):
    """Every double NaN (keys +88000), list-of-float columns
    [NaN, Inf, -Inf, 0] — the r16 naninf probe row. None when the
    table has no double columns."""
    out = bump_keys(full, 88000)
    changed = False
    for k, v in list(out.items()):
        if isinstance(v, float) and not isinstance(v, bool):
            out[k] = NAN
            changed = True
        elif isinstance(v, list) and v and isinstance(v[0], float):
            out[k] = [NAN, INF, -INF, 0.0]
            changed = True
    return out if changed else None


def inf_row(full):
    """Doubles alternating +Inf/-Inf (keys +89000) — the r16 naninf
    probe's second row. None when the table has no double columns."""
    out = bump_keys(full, 89000)
    changed = False
    flip = True
    for k, v in list(out.items()):
        if isinstance(v, float) and not isinstance(v, bool):
            out[k] = INF if flip else -INF
            flip = not flip
            changed = True
    return out if changed else None


def spaces_row(full):
    """Every string column '  ' (keys +60000) — whitespace-ONLY is a
    different shape than emptystr's '': split-on-space yields three
    empty tokens, not zero (r16 whitespace probe). None when the table
    has no string columns."""
    out = bump_keys(full, 60000)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = "  "
            changed = True
    return out if changed else None


def padded_row(full):
    """Every string column '  <original>  ' (keys +61000) — padded
    values are DIFFERENT keys than their trimmed forms, and the shape
    that exposed Spark's CSV writer trimming by default (r16
    whitespace probe). None when the table has no string columns."""
    out = bump_keys(full, 61000)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = f"  {v}  "
            changed = True
    return out if changed else None


def nfc_row(full):
    """Every string column augmented with canonically-composable
    graphemes, normalized to NFC (keys +62000) — one half of the r17
    canonical-equivalence pair. The suffix covers: precomposed latin
    (Pâté), multi-combining-mark stacking order (ṩ ấ), ring (Å), and a
    Hangul syllable (간) whose NFD is Jamo. None when the table has no
    string columns."""
    import unicodedata
    out = bump_keys(full, 62000)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = unicodedata.normalize("NFC", v + " Pâté ṩấÅ간")
            changed = True
    return out if changed else None


def nfd_row(full):
    """The SAME visual strings as nfc_row, in NFD (keys +63000) —
    byte-different spellings of identical graphemes. Dedup/join/group
    keys built from these must be decided identically by both engines
    (both byte-compare → two distinct values, or both fold → one).
    None when the table has no string columns."""
    import unicodedata
    out = bump_keys(full, 63000)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = unicodedata.normalize("NFD", v + " Pâté ṩấÅ간")
            changed = True
    return out if changed else None


def zerowidth_row(full):
    """Zero-width characters woven into every string column plus a
    DEFECTIVE leading combining mark (keys +64000): ZWSP U+200B is not
    Java-regex \\s, ZWJ/ZWNJ are invisible token glue, and a combining
    acute with no base character is a legal-but-degenerate sequence
    grapheme iterators must not trip on. None when the table has no
    string columns."""
    out = bump_keys(full, 64000)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = ("\u0301" + v + "\u200b z\u200dw\u200cj")
            changed = True
    return out if changed else None


def dup_fact_row(full):
    """Identical key/FK/timestamp columns, every other payload mutated
    — the intra-batch duplicate-key fact (r16 dupfacts probe): a
    redelivered/revised record whose copies no ordering column can
    rank. Key rule matches nullkey_row's (`*key`/`*_id`), which also
    preserves FKs, so join consistency survives; l_linenumber is part
    of lineitem's composite PK, so it is preserved too (mutating it
    would turn the dup into a second legitimate line); datetimes are
    left untouched by construction (only str/float/int mutate)."""
    out = dict(full)
    for k, v in out.items():
        if not (k.endswith(("key", "_id")) or k in ("event_id", "l_linenumber")):
            if isinstance(v, str):
                out[k] = v + "_v2"
            elif isinstance(v, float):
                out[k] = v + 1.0
            elif isinstance(v, int):
                out[k] = v + 1
            elif isinstance(v, list):
                out[k] = [x + 1.0 for x in v]
    return out


def emptystr_row(full):
    """Every string column '' (keys/ids intact), ids bumped clear of
    the real and planted ranges — the r15 empty-string probe row."""
    out = dict(full)
    changed = False
    for k, v in out.items():
        if isinstance(v, str):
            out[k] = ""
            changed = True
    return bump_keys(out, 50000) if changed else None


def nullkey_row(full):
    """Every `*key`/`*_id` column NULL, payloads untouched — the
    promoted r15 probe row, written by the `nullkeys` variant."""
    out = dict(full)
    for k in out:
        if k.endswith(("key", "_id")) or k == "event_id":
            out[k] = None
    return out


def nulltime_rows():
    """table -> rows for the `nulltime` variant (promoted r18 probe).
    NULL and boundary TIME values with live payloads, plus engineered
    rank ties: no other variant nulls a timestamp, so
    Spark's bare-ASC NULLS-FIRST vs DuckDB's NULLS-LAST divergence in
    window order keys — and the INT96→ns wrap past 2262 in pyarrow
    readers — was unexercised until this shape found 13 of them."""
    from datetime import datetime as _dt
    EPOCH = _dt(1970, 1, 1, 0, 0, 0)
    PRE70 = _dt(1969, 12, 31, 23, 59, 59)    # negative epoch micros
    FARFUT = _dt(9999, 12, 31, 23, 59, 59)   # past pandas' ns range
    TS2 = _dt(1995, 6, 15, 12, 10, 0)
    out = {name: [dict(full)] for name, full in ONEROW.items()}
    ev = ONEROW["events"]
    out["events"] += [
        # NULL ts interleaved with REAL ts on the SAME user: the
        # window chain (lag / session break / SCD2 run) must place it
        dict(ev, event_id=1002, ts=None, event_type="click", value=1.5),
        dict(ev, event_id=1003, ts=TS2, event_type="purchase", value=9.0),
        dict(ev, event_id=1004, ts=EPOCH, event_type="view", value=0.5),
        dict(ev, event_id=1005, ts=PRE70, event_type="click", value=0.25),
        dict(ev, event_id=1006, ts=FARFUT, event_type="view", value=2.0),
        # a user whose EVERY ts is NULL: rank among null-peers falls
        # entirely to the secondary keys
        dict(ev, event_id=1007, user_id=8, ts=None, event_type="view",
             value=1.0),
        dict(ev, event_id=1008, user_id=8, ts=None, event_type="click",
             value=2.0),
    ]
    od = ONEROW["orders"]
    out["orders"] += [
        dict(od, o_orderkey=102, o_orderdate=None, o_totalprice=100.0),
        dict(od, o_orderkey=103, o_orderdate=EPOCH, o_totalprice=200.0),
        dict(od, o_orderkey=104, o_orderdate=PRE70, o_totalprice=300.0),
        dict(od, o_orderkey=105, o_orderdate=FARFUT, o_totalprice=400.0),
        # q48 tie: 1997 holds exactly these two orders — equal totals
        # in one order_year for segment 'BUILDING' (cust 7) and
        # segment NULL (cust 8) force rank()'s ASC segment tiebreak
        dict(od, o_orderkey=106, o_custkey=7, o_totalprice=5000.0,
             o_orderdate=_dt(1997, 3, 1, 0, 0, 0)),
        dict(od, o_orderkey=107, o_custkey=8, o_totalprice=5000.0,
             o_orderdate=_dt(1997, 3, 2, 0, 0, 0)),
    ]
    li = ONEROW["lineitem"]
    out["lineitem"] += [
        dict(li, l_linenumber=2, l_shipdate=None, l_quantity=5.0,
             l_extendedprice=1000.0),
        dict(li, l_linenumber=3, l_shipdate=EPOCH, l_quantity=1.0,
             l_extendedprice=10.0),
        dict(li, l_linenumber=4, l_shipdate=PRE70, l_quantity=1.0,
             l_extendedprice=20.0),
        dict(li, l_linenumber=5, l_shipdate=FARFUT, l_quantity=1.0,
             l_extendedprice=30.0),
        # q23/q71 tie: two revenue groups under suppkey 3 with EQUAL
        # revenue (2000.0, discount 0), one with NULL l_partkey — the
        # rank-2/rank-3 assignment falls to the partkey ASC tiebreak
        dict(li, l_linenumber=6, l_partkey=None, l_quantity=1.0,
             l_extendedprice=2000.0, l_discount=0.0),
        dict(li, l_linenumber=7, l_partkey=12, l_quantity=1.0,
             l_extendedprice=2000.0, l_discount=0.0),
    ]
    cu = ONEROW["customer"]
    out["customer"] += [
        # the q48 tie's NULL-segment customer (live key, joins fire)
        dict(cu, c_custkey=8, c_name="Customer#8", c_mktsegment=None),
    ]
    return out


def jsonhostile_rows():
    """events rows for the `jsonhostile` variant (r18 JSON probe):
    hostile `props` payloads through the three JSON-extraction paths
    (q21 get_json_object, q38 envelope decode, q106 VARIANT). First
    run found the TRY_CAST-lexicon divergence (DuckDB accepts '1e2'
    and '0x1F' as BIGINT; Spark is strictly integral — oracles now
    carry a regexp integral guard) and pinned the variant dup-key
    precondition (VariantEdgeSpec). The dup-key row here keeps k
    values BELOW q106's >=50 filter on purpose: Spark's variant
    rejects the whole doc while ->> extracts the first binding, and
    the contract (unique keys) is spec-pinned, not oracle-modeled."""
    ev = ONEROW["events"]
    return [
        dict(ev),
        dict(ev, event_id=2001, props='{"k":1,"k":2}'),              # dup key (sub-filter)
        dict(ev, event_id=2002, props='{"k":9223372036854775808}'),  # 2^63 overflow
        dict(ev, event_id=2003, props='{"k":"1e2"}'),                # sci-notation string
        dict(ev, event_id=2004, props='{"k":" 42 "}'),               # padded integral
        dict(ev, event_id=2005, props='{"k":null}'),                 # JSON null literal
        dict(ev, event_id=2006, props='{"k":{"n":7}}'),              # nested object
        dict(ev, event_id=2007, props='{"k":[1,2,3]}'),              # array value
        dict(ev, event_id=2008, props='{"k":1e2}'),                  # JSON float number
        dict(ev, event_id=2009, props='{"k":true}'),                 # boolean
        dict(ev, event_id=2010, props='{"k":-0}'),                   # negative zero
        dict(ev, event_id=2011, props='{"K":5}'),                    # case-sensitive key
        dict(ev, event_id=2012, props='{"k":99,"other":"x"}'),       # normal + extra key
        dict(ev, event_id=2013, props='{"k":"0x1F"}'),               # hex string
        dict(ev, event_id=2014, props='{ "k" : 7 }'),                # whitespace-laden
        dict(ev, event_id=2015, props='{"k":123456789012345678}'),   # big in-range int
    ]


def degenerate_rows(name):
    """The union of every adversarial row shape, id-rebased to +20000
    so neither the real sf ids (≤ ~6000) nor their planted-dup images
    (real + 100000 — HardenQueries/NorthQueries DupOffset) collide:
    degenerate ids land in ~[18900, 25000], their dup images in
    ~[118900, 125000]. Used by the `mixed` variant."""
    full = ONEROW[name]
    nulled = bump_keys(full, 21000)
    for c in OPTIONAL[name]:
        nulled[c] = None
    emptyish = bump_keys(full, 22000)
    for c, v in EMPTYISH.get(name, {}).items():
        emptyish[c] = v
    hostile = bump_keys(full, 23000)
    hostile.update(EXTREME.get(name, {}))
    uni = bump_keys(full, 24000)
    uni.update(UNICODE.get(name, {}))
    rows = [bump_keys(full, 20000), nulled, emptyish, hostile, uni]
    if name == "embeddings":
        zerovec = bump_keys(full, 25000)
        zerovec["embedding"] = [0.0, 0.0, 0.0, 0.0]
        rows.append(zerovec)
    # the r16 shapes, woven into the REAL data too (the whole point of
    # `mixed`): a duplicate-PK fact beside its original inside the
    # live corpus (dup of the +20000 row — its image lands at the same
    # +20000 ids, deliberately), NaN/±Inf measures inside real
    # percentile/agg distributions (+88000/89000), and whitespace-only
    # + padded strings inside real tokenizer/join streams
    # (+60000/61000) — all id ranges clear of real (≤ ~6000), planted
    # (+100000), and each other
    if name in FACT_TABLES:
        rows.append(dup_fact_row(bump_keys(full, 20000)))
    for r in (nan_row(full), inf_row(full),
              spaces_row(full), padded_row(full)):
        if r is not None:
            rows.append(r)
    return rows


def append_rows(outdir, base_sf, rows_by_table):
    """Write each REAL sf table with the given extra rows appended
    (schema-aligned to the real file; an empty row list copies the
    table through unchanged). Shared by `mixed` and `skew` — the two
    real-data variants must never diverge on the append mechanics
    (r14 review)."""
    import os
    os.makedirs(outdir, exist_ok=True)
    for name in SCHEMAS:
        real = pq.read_table(f"{base_sf}/{name}.parquet") \
            .replace_schema_metadata(None)
        rows = rows_by_table[name]
        if not rows:
            pq.write_table(real, f"{outdir}/{name}.parquet")
            continue
        cols = {f.name: [r.get(f.name) for r in rows] for f in SCHEMAS[name]}
        extra = pa.table(
            {n: pa.array(v, type=SCHEMAS[name].field(n).type)
             for n, v in cols.items()}, schema=SCHEMAS[name]) \
            .select(real.column_names).cast(real.schema)
        pq.write_table(pa.concat_tables([real, extra]),
                       f"{outdir}/{name}.parquet")
    print(f"wrote {outdir} (base {base_sf})")


def write_mixed(outdir, base_sf):
    """`mixed`: the REAL sf tables with every degenerate row woven in —
    exercises the interactions the tiny variants can't (a null text
    inside a real LSH corpus, a zero vector among real embeddings, one
    domain-edge money value in thousands of lineitems)."""
    append_rows(outdir, base_sf,
                {name: degenerate_rows(name) for name in SCHEMAS})


def skew_rows(base_sf):
    """`skew`: one hot key per table holding a large share of the rows —
    the routine 100-TB hazard no other variant exercises. Hot user
    30007 gets 1000 events (50% of the corpus), hot customer 30007 gets
    750 orders (33%), one hot order fans out to 500 lineitems all on
    one part/supplier (hot dim key), a 20-copy identical-text document
    clique (20 + its 20 planted-dup images = band buckets of ~40 rows —
    deliberately UNDER q29's maxBucket=64, so LSH recall keeps parity
    with the exact all-pairs oracle; the OVER-cap regime is pinned in
    TextOpsSpec, not here, because the cap is a documented recall
    trade the oracle doesn't model), and 20 identical embeddings (one
    hot IVF cell / LSH bucket, massive top-k ties broken by pinned id
    order). Ids at +30000: clear of base ids (≤ ~6000), the mixed
    variant's +20000..25000, and both ranges' +100000 dup images."""
    ts0 = datetime(1995, 6, 1, 0, 0, 0)
    from datetime import timedelta
    docs_text = ("graftskew alpha beta gamma delta epsilon zeta eta "
                 "theta iota kappa lambda")
    rows = {
        "customer": [{"c_custkey": 30007, "c_name": "Customer#hot",
                      "c_nationkey": 1, "c_acctbal": 1000.0,
                      "c_mktsegment": "BUILDING"}],
        "supplier": [{"s_suppkey": 30003, "s_name": "Supplier#hot",
                      "s_nationkey": 1, "s_acctbal": 500.0}],
        "part": [{"p_partkey": 30011, "p_name": "hot part",
                  "p_brand": "Brand#30", "p_type": "PROMO HOT",
                  "p_size": 7, "p_retailprice": 99.99}],
        "region": [], "nation": [],
        "orders": [
            {"o_orderkey": 31000 + i, "o_custkey": 30007,
             "o_orderstatus": "O",
             "o_totalprice": round(100.0 + (i % 500) * 1.37, 2),
             "o_orderdate": datetime(1995, 5, 1) + timedelta(days=i % 90),
             "o_orderpriority": "1-URGENT"}
            for i in range(750)],
        "events": [
            {"event_id": 33000 + i, "ts": ts0 + timedelta(seconds=i * 2500),
             "user_id": 30007,
             "event_type": ["view", "click", "purchase"][i % 3],
             "value": round(i * 0.01, 2), "props": '{"k":"v"}'}
            for i in range(1000)],
        "documents": [
            {"doc_id": 30001 + i, "text": docs_text, "lang": "en",
             "source": "web", "n_chars": len(docs_text)}
            for i in range(20)],
    }
    # 500-line fanout on the hot order + 1 line for each other hot order
    li = [{"l_orderkey": 31000, "l_partkey": 30011, "l_suppkey": 30003,
           "l_linenumber": 1 + i, "l_quantity": float(i % 50 + 1),
           "l_extendedprice": round(10.0 + i * 0.25, 2),
           "l_discount": 0.04, "l_tax": 0.02,
           "l_returnflag": "NRA"[i % 3], "l_linestatus": "OF"[i % 2],
           "l_shipdate": datetime(1995, 5, 4) + timedelta(days=i % 88)}
          for i in range(500)]
    li += [{"l_orderkey": 31000 + i, "l_partkey": 30011, "l_suppkey": 30003,
            "l_linenumber": 1, "l_quantity": 5.0,
            "l_extendedprice": round(20.0 + i * 0.11, 2),
            "l_discount": 0.1, "l_tax": 0.05,
            "l_returnflag": "N", "l_linestatus": "O",
            "l_shipdate": datetime(1995, 5, 2) + timedelta(days=i % 90)}
           for i in range(1, 750)]
    rows["lineitem"] = li
    # 20 copies of a REAL embedding (64-dim, one hot cell/bucket);
    # slice before materializing — to_pylist() on the full table would
    # convert every row's vector just to copy row 0 (r14 review)
    emb = pq.read_table(f"{base_sf}/embeddings.parquet") \
        .slice(0, 1).to_pylist()[0]
    rows["embeddings"] = [
        {"vec_id": 30001 + i, "embedding": emb["embedding"],
         "label": emb["label"]} for i in range(20)]
    return rows


def write_skew(outdir, base_sf):
    append_rows(outdir, base_sf, skew_rows(base_sf))


# `liar` variant: derived/metadata columns contradict their sources
# (n_chars=999999 on a 43-char text, label flipped on an unchanged
# embedding), ids +70000 ...
LIAR = {
    "documents": {"n_chars": 999999},
    "embeddings": {"label": 7},
}

# ... and domain-violating measures (negative quantity/price with
# positive extendedprice, discount 2.0, negative value), ids +71000
OUTLAW = {
    "lineitem": {"l_quantity": -5.0, "l_extendedprice": 100.0,
                 "l_discount": 2.0, "l_tax": -0.5},
    "orders": {"o_totalprice": -42.0},
    "events": {"value": -1e12},
    "customer": {"c_acctbal": -0.0},
    "part": {"p_size": -1, "p_retailprice": -9.99},
}

# `orphans` variant: the fact tables whose second row's FKs dangle
ORPHANED = frozenset(["orders", "lineitem", "events"])


def main(root, base_sf="/root/testdata/sf0.001"):
    import os
    write_mixed(os.path.join(root, "mixed"), base_sf)
    write_skew(os.path.join(root, "skew"), base_sf)
    for variant in ("empty", "onerow", "nulls", "nullkeys", "nulltime",
                    "jsonhostile", "dupdims", "dupfacts", "emptystr",
                    "extremes", "unicode", "naninf", "whitespace",
                    "orphans", "liar", "canon"):
        d = os.path.join(root, variant)
        os.makedirs(d, exist_ok=True)
        for name in SCHEMAS:
            full = ONEROW[name]
            if variant == "empty":
                rows = []
            elif variant == "onerow":
                rows = [full]
            elif variant == "nulls":
                nulled = bump_keys(full, 1000)
                for c in OPTIONAL[name]:
                    nulled[c] = None
                emptyish = bump_keys(full, 2000)
                for c, v in EMPTYISH.get(name, {}).items():
                    emptyish[c] = v
                rows = [full, nulled, emptyish]
            elif variant == "nullkeys":
                rows = [full, nullkey_row(full)]
            elif variant == "nulltime":
                rows = nulltime_rows()[name]
            elif variant == "jsonhostile":
                rows = jsonhostile_rows() if name == "events" else [full]
            elif variant == "dupdims":
                rows = [full] + ([dup_dim_row(full)]
                                 if name in DIM_TABLES else [])
            elif variant == "dupfacts":
                rows = [full] + ([dup_fact_row(full)]
                                 if name in FACT_TABLES else [])
            elif variant == "naninf":
                rows = [full] + [r for r in (nan_row(full), inf_row(full))
                                 if r is not None]
            elif variant == "whitespace":
                rows = [full] + [r for r in (spaces_row(full),
                                             padded_row(full))
                                 if r is not None]
            elif variant == "orphans":
                rows = [full] + ([bump_keys(full, 77000)]
                                 if name in ORPHANED else [])
            elif variant == "liar":
                rows = [full]
                for delta, over in ((70000, LIAR), (71000, OUTLAW)):
                    if name in over:
                        r = bump_keys(full, delta)
                        r.update(over[name])
                        rows.append(r)
            elif variant == "canon":
                rows = [full] + [r for r in (nfc_row(full), nfd_row(full),
                                             zerowidth_row(full))
                                 if r is not None]
            elif variant == "emptystr":
                e = emptystr_row(full)
                rows = [full] + ([e] if e is not None else [])
            elif variant == "extremes":
                hostile = bump_keys(full, 3000)
                hostile.update(EXTREME.get(name, {}))
                negkeys = bump_keys(full, -1100)  # all key columns negative
                rows = [full, hostile, negkeys]
                if name == "embeddings":
                    # an all-zero vector: non-null, non-empty, zero norm
                    # (the degenerate shape IS NOT NULL/len>0 misses)
                    zerovec = bump_keys(full, 5000)
                    zerovec["embedding"] = [0.0, 0.0, 0.0, 0.0]
                    rows.append(zerovec)
            else:  # unicode
                uni = bump_keys(full, 4000)
                uni.update(UNICODE.get(name, {}))
                rows = [full, uni]
            write(d, name, rows)
        print(f"wrote {d}")


if __name__ == "__main__":
    main(sys.argv[1])
