"""Seeded input generator for the benchmark.

Fixture tables: the ten parquet tables the engine's queries read (a
TPC-H-like star schema, an event stream, documents and embeddings), one
file and one row group per table, written from a fixed seed so that every
checkout reads the same bytes. The generator is the benchmark's own, so a
change to the engine cannot change its inputs.

NDJSON arrivals: for each benchmark seed, directories of newline-delimited
JSON in the reference's at-rest format (plain and gzip files, about 1%
corrupt lines, Zipf-skewed keys), with the expected result of the
sorted-group reduce computed here.
"""
import gzip
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _choice(rng, pool, n):
    return pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)],
                    pa.string())


def _days(base, offsets):
    return (np.datetime64(base, "us")
            + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(sf):
    """The ten tables at scale factor `sf`, as pyarrow tables."""
    rng = np.random.default_rng([FIXTURE_SEED, int(round(sf * 100000))])
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    names = [f"{ADJS[a]} {NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_li))})
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few tokens changed
            toks = texts[int(rng.integers(0, i))].split()
            toks = [w for w in toks if w != "dup"]
            for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append("dup")
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    langs = np.where(rng.random(n_doc) < 0.4, "en",
                     np.asarray(["zh", "es", "fr", "de"])[rng.integers(0, 4, n_doc)])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write_fixtures(sf, out_dir):
    """Writes the tables of scale factor `sf` as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")


# --- NDJSON arrivals -------------------------------------------------------

def arrivals(seed, n_dirs=4, files_per_dir=4, lines_per_file=4000,
             n_keys=2000, corrupt_frac=0.01):
    """Arrival files of one seed: {relative path: bytes}, plus the expected
    reduce result {key: (n, sum, min, max)} and the corrupt-line count."""
    rng = np.random.default_rng([seed, 7])
    weights = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    weights /= weights.sum()
    files, groups, corrupt = {}, {}, 0
    for d in range(n_dirs):
        for f in range(files_per_dir):
            keys = rng.choice(n_keys, lines_per_file, p=weights)
            vals = rng.integers(0, 1000, lines_per_file)
            bad = rng.random(lines_per_file) < corrupt_frac
            lines = []
            for i in range(lines_per_file):
                key, v = f"k{int(keys[i]):05d}", int(vals[i])
                rec = json.dumps({"key": key, "v": v, "ts": 1700000000 + d * 86400 + i,
                                  "note": VOCAB[(i + v) % len(VOCAB)]})
                if bad[i]:
                    lines.append(rec[: len(rec) // 2])
                    corrupt += 1
                    continue
                lines.append(rec)
                n, s, lo, hi = groups.get(key, (0, 0, v, v))
                groups[key] = (n + 1, s + v, min(lo, v), max(hi, v))
            body = ("\n".join(lines) + "\n").encode()
            name = f"arrival-{d:03d}/part-{f:03d}.jsonl"
            if f % 2 == 1:
                buf = io.BytesIO()
                with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
                    gz.write(body)
                files[name + ".gz"] = buf.getvalue()
            else:
                files[name] = body
    return files, groups, corrupt


def write_arrivals(seed, out_dir):
    """Writes one seed's arrivals under `out_dir`; returns the expected
    (groups, hash, corrupt lines) of the read-back reduce output."""
    files, groups, corrupt = arrivals(seed)
    for rel, data in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
    rows = [(k, f'{{"n":{n},"sum":{s},"min":{lo},"max":{hi}}}')
            for k, (n, s, lo, hi) in groups.items()]
    return len(rows), table_hash(rows), corrupt


def digest(files):
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode())
        h.update(files[rel])
    return h.hexdigest()


# --- the benchmark's order-insensitive hash, for string rows ---------------
# Mirrors RowHash.scala for rows whose columns are all non-null strings,
# given in column-name order.

M64 = (1 << 64) - 1


def _fnv_bytes(h, data):
    for b in data:
        h = ((h ^ b) * 0x100000001b3) & M64
    return h


def _mix(x):
    x = ((x ^ (x >> 30)) * 0xbf58476d1ce4e5b9) & M64
    x = ((x ^ (x >> 27)) * 0x94d049bb133111eb) & M64
    return x ^ (x >> 31)


def row_hash(cols):
    h = 0xcbf29ce484222325
    for c in cols:
        raw = c.encode()
        h = _fnv_bytes(h, bytes([5]) + len(raw).to_bytes(8, "little") + raw)
    return _mix(h)


def table_hash(rows):
    total = sum(row_hash(r) for r in rows) & M64
    return total - (1 << 64) if total >= 1 << 63 else total
