"""Seeded input generators for the benchmark.

One SBS-1 generator serves both ingest feeds and the query corpus, so the
lines the socket source frames and the lines the batch queries parse share
one shape. `flight_id` (field 6) carries the line's sequence number, which is
also its source offset on a single connection. The fixture tables follow the
schemas of the engine's parquet fixtures (region ... embeddings).
"""
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MALFORMED_EVERY = 100  # the feed holds exactly n // 100 malformed lines
BASE_MS = 1786543200000  # 2026-08-12 14:00:00 UTC, the corpus' first event
STEP_MS = 3  # event clock advance per line: unique per aircraft and line


_SECONDS = {}


def _ts(ms):
    s, milli = divmod(ms, 1000)
    day = _SECONDS.get(s)
    if day is None:
        t = time.gmtime(s)
        day = _SECONDS[s] = (f"{t.tm_year:04d}/{t.tm_mon:02d}/{t.tm_mday:02d}",
                             f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d}")
    return day[0], f"{day[1]}.{milli:03d}"


class Aircraft:
    def __init__(self, rng, k):
        self.hex = f"{rng.randrange(0x100000, 0xFFFFFF):06X}"
        self.aid = 10000 + k
        self.callsign = (rng.choice(["UAL", "DAL", "AAL", "SWA", "BAW", "DLH"])
                         + str(rng.randrange(10, 9999))).ljust(8)
        self.lat = rng.uniform(30.0, 48.0)
        self.lon = rng.uniform(-120.0, -75.0)
        self.dlat = rng.uniform(-2e-5, 2e-5)
        self.dlon = rng.uniform(-2e-5, 2e-5)
        self.alt = rng.randrange(1000, 41000, 25)
        self.squawk = f"{rng.randrange(0, 8)}{rng.randrange(0, 8)}{rng.randrange(0, 8)}{rng.randrange(0, 8)}"


def sbs1_lines(seed, n, malformed=False, n_aircraft=300):
    """`n` SBS-1 lines (str, no newline). With `malformed`, exactly
    n // MALFORMED_EVERY of them have 21 or 23 fields; their positions are
    seeded. Returns (lines, sorted malformed positions)."""
    rng = random.Random(seed)
    fleet = [Aircraft(rng, k) for k in range(n_aircraft)]
    bad = set(rng.sample(range(n), n // MALFORMED_EVERY)) if malformed else set()
    out = []
    for i in range(n):
        a = fleet[rng.randrange(n_aircraft)]
        gd, gt = _ts(BASE_MS + i * STEP_MS)
        ld, lt = _ts(BASE_MS + i * STEP_MS + rng.randrange(5, 40))
        tt = rng.choice((1, 3, 3, 3, 4, 4, 5, 6, 7, 8))
        f = [""] * 22
        f[0:10] = ["MSG", str(tt), "111", str(a.aid), a.hex, str(i), gd, gt, ld, lt]
        if tt == 1:
            f[10] = a.callsign
        elif tt == 3:
            a.lat += a.dlat * 60
            a.lon += a.dlon * 60
            if rng.random() < 0.002:  # a position glitch for the jump screen
                a.lat += rng.uniform(-1.0, 1.0)
            f[11] = str(a.alt)
            f[14] = f"{a.lat:.5f}"
            f[15] = f"{a.lon:.5f}"
            f[18:22] = ["0", "0", "0", "0"]
        elif tt == 4:
            f[12] = str(rng.randrange(120, 520))
            f[13] = str(rng.randrange(0, 360))
            f[16] = str(rng.randrange(-30, 31) * 64)
        elif tt == 5:
            a.alt = max(0, a.alt + rng.randrange(-2, 3) * 25)
            f[11] = str(a.alt)
            f[18:22] = ["0", "0", "0", "0"]
        elif tt == 6:
            sq = "7700" if rng.random() < 0.001 else a.squawk
            f[17] = sq
            f[18:22] = ["0", "1" if sq == "7700" else "0", "0", "0"]
        elif tt == 7:
            f[11] = str(a.alt)
        else:
            f[21] = "0"
        line = ",".join(f)
        if i in bad:  # drop or add a field: arity 21 or 23
            line = line.rsplit(",", 1)[0] if i % 2 else line + ",0"
        out.append(line)
    return out, sorted(bad)


def feed_bytes(lines):
    return ("\n".join(lines) + "\n").encode("ascii")


# --- fixture tables (the query sweep's warehouse inputs) -------------------

WORDS = ("key agg row scan slow fast table value part hash a the line sort "
         "window batch spark order data column join small customer query big "
         "stream merge filter group vector").split()


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def tables(seed, out_dir):
    """Writes the ten fixture tables under `out_dir`, with the row counts of
    the engine's sf0.01 fixture."""
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_ev = 15000, 10000
    n_doc = n_emb = 500
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ms = pa.timestamp("ms")

    _write(f"{out_dir}/region.parquet",
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out_dir}/nation.parquet",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION{k:02d}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet",
           {"c_custkey": np.arange(1, n_cust + 1),
            "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[r.integers(0, 5, n_cust)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(f"{out_dir}/supplier.parquet",
           {"s_suppkey": np.arange(1, n_supp + 1),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    colors = np.array(["almond", "azure", "blush", "coral", "ivory", "khaki",
                       "linen", "olive", "peach", "sienna"])
    types = np.array([f"{a} {b}" for a in ("STANDARD", "SMALL", "LARGE", "PROMO")
                      for b in ("BRASS", "COPPER", "STEEL", "TIN")])
    _write(f"{out_dir}/part.parquet",
           {"p_partkey": np.arange(1, n_part + 1),
            "p_name": [" ".join(x) for x in colors[r.integers(0, 10, (n_part, 2))]],
            "p_brand": [f"Brand#{a}{b}" for a, b in r.integers(1, 6, (n_part, 2))],
            "p_type": types[r.integers(0, len(types), n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(r.uniform(900, 2100, n_part), 2)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    day = 86400000
    t0 = 694224000000  # 1992-01-01
    odate = t0 + r.integers(0, 2400, n_ord) * day
    _write(f"{out_dir}/orders.parquet",
           {"o_orderkey": np.arange(1, n_ord + 1),
            "o_custkey": r.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000, 400000, n_ord), 2),
            "o_orderdate": pa.array(odate, ms),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ms), ("o_orderpriority", s)]))
    per = r.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(1, n_ord + 1), per)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet",
           {"l_orderkey": okey,
            "l_partkey": r.integers(1, n_part + 1, n_li),
            "l_suppkey": r.integers(1, n_supp + 1, n_li),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(np.repeat(odate, per) + r.integers(1, 122, n_li) * day, ms)},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ms)]))
    ev_ns = np.sort(1704067200 * 10**9 + r.integers(0, 30 * 86400 * 10**9, n_ev))
    _write(f"{out_dir}/events.parquet",
           {"event_id": np.arange(n_ev),
            "ts": pa.array(ev_ns, pa.timestamp("ns")),
            "user_id": r.integers(0, 150, n_ev),
            "event_type": np.array(["click", "view", "purchase", "signup", "error"])[r.integers(0, 5, n_ev)],
            "value": np.round(r.uniform(0, 200, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", pa.timestamp("ns")), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))
    words = np.array(WORDS)
    texts = []
    for d in range(n_doc):
        if d >= 20 and r.random() < 0.15:  # near-duplicate of an earlier doc
            toks = texts[int(r.integers(0, d))].split()
            toks[int(r.integers(0, len(toks)))] = str(words[r.integers(0, len(words))])
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(20, 80)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(f"{out_dir}/documents.parquet",
           {"doc_id": np.arange(n_doc), "text": texts,
            "lang": langs[r.integers(0, len(langs), n_doc)],
            "source": [f"src{k}" for k in r.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    labels = r.integers(0, 8, n_emb)
    centers = r.normal(0, 0.1, (8, 64))
    emb = (centers[labels] + r.normal(0, 0.03, (n_emb, 64))).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet",
           {"vec_id": np.arange(n_emb),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": labels.astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
