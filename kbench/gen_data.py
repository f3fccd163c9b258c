"""Seeded generator for the benchmark's input data.

`tables(out_dir, scale, seed)` writes the ten TPC-H-ish parquet tables the
engine's RDF mapping and Battery entries read (same names, columns and
physical types as the project's test data). `ntriples(...)` writes the
N-Triples batches of the `load_update` workload together with the answers
its lookups must return.

Everything is a pure function of its arguments: the same seed gives the
same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge window "
         "order column join vector").split()
COLORS = "red blue green black white small large tiny".split()
ITEMS = "widget bolt ring anvil gear spring valve plate".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

US_PER_DAY = 86_400_000_000

# The benchmark's tables: TPC-H sf0.01 proportions (1,500 customers, 15,000
# orders, 60,000 line items; about one million quads once mapped to RDF),
# from a fixed seed. Run seeds vary the ops, not the tables.
SCALE = 0.01
DATA_SEED = 42


def _days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01"))
               .astype(int))


def _ts(micros):
    return pa.array(micros.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(scale):
    """Row counts per table at `scale` (1.0 = TPC-H sf1 proportions)."""
    n = lambda k: max(1, int(round(k * scale)))
    return {"region": 5, "nation": 25, "customer": n(150_000), "supplier": n(10_000),
            "part": n(200_000), "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": n(50_000), "embeddings": n(50_000)}


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def tables(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = table_sizes(scale)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = sz["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = sz["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})

    np_ = sz["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": [f"{COLORS[a]} {ITEMS[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})

    no = sz["orders"]
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, no) * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    nl = sz["lineitem"]
    s0, s1 = _days(1995, 1, 2), _days(2001, 11, 4)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, np_, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, nl) * US_PER_DAY)})

    ne = sz["events"]
    start = _days(2024, 1, 1) * US_PER_DAY
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // ne, ne)
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(1, ne // 66), ne).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})

    nd = sz["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 90))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    nv = sz["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return sz


XSD = "http://www.w3.org/2001/XMLSchema#"


def ntriples(out_dir, seed, subjects_create, subjects_batch, batches):
    """N-Triples for one `load_update` pass: `create.nt` plus `batch_<i>.nt`.

    Each subject carries an IRI link, an integer, a string longer than seven
    bytes (so it needs the dictionary) and a language-tagged literal; its
    IRI starts with the batch's prefix. Returns the files, their quad counts
    and, per batch, the lookups and counts with their expected answers (term
    lexical forms).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    files, checks = [], []
    total_batch = {}
    for b in range(batches + 1):
        n = subjects_create if b == 0 else subjects_batch
        name = "create.nt" if b == 0 else f"batch_{b}.nt"
        prefix = f"urn:kb:{seed}:b{b}:"
        subs = [f"{prefix}s{i}" for i in range(n)]
        expected = {}
        lines = []
        for i, s in enumerate(subs):
            age = int(rng.integers(0, 100_000))
            title = _text(rng, int(rng.integers(2, 6)))
            lang = ("en", "de", "fr")[int(rng.integers(0, 3))]
            other = subs[int(rng.integers(0, n))]
            rows = [("urn:kb:p:age", f'"{age}"^^<{XSD}integer>', str(age)),
                    ("urn:kb:p:title", f'"{title} {s}"', f"{title} {s}"),
                    ("urn:kb:p:label", f'"{title}"@{lang}', title),
                    ("urn:kb:p:knows", f"<{other}>", other)]
            lines += [f"<{s}> <{p}> {o} ." for p, o, _ in rows]
            expected[s] = [[p, lex] for p, _, lex in rows]
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append({"file": name, "quads": len(lines), "bytes": os.path.getsize(path)})
        total_batch[b] = n
        picks = [subs[int(i)] for i in rng.choice(n, size=min(3, n), replace=False)]
        checks.append({
            "lookups": [{"subject": s, "rows": expected[s]} for s in picks],
            "batch": b, "prefix": prefix, "batch_count": n,
            "age_count": sum(total_batch.values())})
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(checks, f)
    return files, checks
