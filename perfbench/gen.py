"""Seeded snapshot generator for the graft benchmark.

Writes the ten snapshot tables graft reads (`region` ... `embeddings`,
one single-file parquet each, the same schemas and encodings as the
repo's sf0.1 testdata) into a directory.  Everything is a function of the
seed, so the same seed gives byte-identical files.

The distributions are those measured on the sf0.1 testdata (see
README.md, "Inputs"): uniform order prices, dates, statuses and
priorities; about four lines per order on random order keys; documents of
10-99 words drawn uniformly from the testdata's 30-word vocabulary, 5%
of them another document with " dup" appended; isotropic unit-vector
embeddings with random labels.

Datasets:
  base       sf0.1 row counts (150k orders, 600k lineitem, 5k documents,
             2k embeddings).
  amplified  base, with
             - orders amplified x4 from base: copy c shifts every order
               key by c*150000, jitters each price by up to +-5% and each
               date by up to +-15 days, so distinct values grow with the
               row count;
             - 2.5k documents and 2k embeddings amplified x2 from the
               first base rows: the copy of each original is, by a seeded
               draw, an exact copy, a near copy (" dup" appended, as in the
               testdata / the vector jittered) or a distinct fresh row;
             - `pairs`, a near-duplicate pair table of planted clusters.
             The draws are returned as the planted truth.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS, N_VECS, DIM = 5000, 2000, 64
N_CURATION_DOCS = 2500
# amplification factors of the `amplified` dataset
ORDERS_X, CURATION_X = 4, 2
# copy c of document/vector i gets id c*ID_SHIFT + i
ID_SHIFT = 1_000_000

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
# the testdata corpus: 10-99 words drawn uniformly from these 30, and 5%
# of the documents another document with " dup" appended
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
DOC_WORDS = (10, 99)
DUP_SHARE = 0.05
DUP_SUFFIX = " dup"

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000
ORDER_DAYS = 2405                 # 1995-01-01 .. 2001-08-01


def _ts(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_text(rng):
    n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _concat(parts):
    return {k: pa.concat_arrays([p[k] for p in parts]) for k in parts[0]}


def _base(rng):
    """The sf0.1 tables, drawn in a fixed order from one generator."""
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PART) % 1000) / 10.0),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS, N_ORDERS) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
    }
    n = N_LINEITEM
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n) * DAY_US),
    }
    t["events"] = {
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, N_EVENTS))),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }
    texts = [_doc_text(rng) for _ in range(N_DOCS)]
    dups = rng.choice(N_DOCS, size=int(DUP_SHARE * N_DOCS), replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + DUP_SUFFIX
    t["documents"] = {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    }
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(_unit(rng.normal(0.0, 1.0, (N_VECS, DIM)))), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS, dtype=np.int32)),
    }
    return t


def _scaled(rng, base, k):
    """Orders amplified xK from base: shifted keys, jittered prices and dates."""
    t = dict(base)
    o = base["orders"]
    keys = o["o_orderkey"].to_numpy()
    price = o["o_totalprice"].to_numpy()
    date = o["o_orderdate"].cast(pa.int64()).to_numpy()
    copies = [o]
    for c in range(1, k):
        copy = dict(o)
        copy["o_orderkey"] = pa.array(keys + c * N_ORDERS)
        copy["o_totalprice"] = pa.array(np.round(price * rng.uniform(0.95, 1.05, N_ORDERS), 2))
        copy["o_orderdate"] = _ts(date + rng.integers(-15, 16, N_ORDERS) * DAY_US)
        copies.append(copy)
    t["orders"] = _concat(copies)
    return t


KINDS = ["exact", "near", "distinct"]
KIND_P = [0.3, 0.5, 0.2]


def _curation(rng, base, k):
    """Documents and embeddings at their sf0.1 row counts, built from the
    first 1/K of the originals amplified xK with planted exact / near /
    distinct copies; plus a planted near-duplicate pair table."""
    t = dict(base)
    n_docs, n_vecs = N_CURATION_DOCS // k, N_VECS // k
    d = base["documents"]
    texts = d["text"].to_pylist()[:n_docs]
    lang0, src0 = d["lang"].to_pylist()[:n_docs], d["source"].to_pylist()[:n_docs]
    ids, out, langs, srcs = list(range(n_docs)), list(texts), list(lang0), list(src0)
    doc_kinds = rng.choice(len(KINDS), size=(k - 1, n_docs), p=KIND_P)
    for c in range(1, k):
        for i in range(n_docs):
            kind = doc_kinds[c - 1, i]
            txt = texts[i] if kind == 0 else texts[i] + DUP_SUFFIX if kind == 1 else _doc_text(rng)
            ids.append(c * ID_SHIFT + i)
            out.append(txt)
            langs.append(lang0[i])
            srcs.append(src0[i])
    t["documents"] = {
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array(out),
        "lang": pa.array(langs),
        "source": pa.array(srcs),
        "n_chars": pa.array(np.array([len(x) for x in out], dtype=np.int64)),
    }
    e = base["embeddings"]
    vecs = np.stack(e["embedding"].to_numpy(zero_copy_only=False)[:n_vecs]).astype(np.float64)
    labels = e["label"].to_numpy()[:n_vecs]
    vec_kinds = rng.choice(len(KINDS), size=(k - 1, n_vecs), p=KIND_P)
    all_ids, all_vecs, all_labels = [np.arange(n_vecs)], [vecs.astype(np.float32)], [labels]
    for c in range(1, k):
        kinds = vec_kinds[c - 1]
        v = vecs.copy()
        near = kinds == 1
        v[near] = v[near] + rng.normal(0.0, 0.01, (int(near.sum()), DIM))
        fresh = kinds == 2
        v[fresh] = rng.normal(0.0, 1.0, (int(fresh.sum()), DIM))
        all_ids.append(np.arange(n_vecs) + c * ID_SHIFT)
        all_vecs.append(_unit(v))
        all_labels.append(labels)
    t["embeddings"] = {
        "vec_id": pa.array(np.concatenate(all_ids).astype(np.int64)),
        "embedding": pa.array(list(np.concatenate(all_vecs)), type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(all_labels).astype(np.int32)),
    }
    pairs, components = _pairs(rng)
    t["pairs"] = pairs
    planted = {
        "components": components,
        "doc_kinds": {KINDS[j]: int((doc_kinds == j).sum()) for j in range(3)},
        "vec_kinds": {KINDS[j]: int((vec_kinds == j).sum()) for j in range(3)},
        # per original: the copies that must be found as its duplicates
        "doc_dup_copies": [[c * ID_SHIFT + i for c in range(1, k) if doc_kinds[c - 1, i] < 2]
                           for i in range(n_docs)],
        "doc_exact_copies": [[c * ID_SHIFT + i for c in range(1, k) if doc_kinds[c - 1, i] == 0]
                             for i in range(n_docs)],
        "vec_dup_copies": [[c * ID_SHIFT + i for c in range(1, k) if vec_kinds[c - 1, i] < 2]
                           for i in range(n_vecs)],
    }
    return t, planted


N_CLUSTERS = 4000


def _pairs(rng):
    """A near-duplicate pair table of planted clusters: each cluster of 2-10
    ids is a chain in random id order (so labels need several propagation
    rounds) plus random extra intra-cluster edges. Returns the table and the
    truth, one (min id, size, id sum) per cluster."""
    sizes = rng.integers(2, 11, N_CLUSTERS)
    ids = rng.choice(50 * ID_SHIFT, size=int(sizes.sum()), replace=False).astype(np.int64)
    a, b, truth = [], [], []
    start = 0
    for m in sizes:
        c = ids[start:start + m]
        start += m
        a.extend(c[:-1]); b.extend(c[1:])
        n_extra = int(m // 2)
        a.extend(c[rng.integers(0, m, n_extra)]); b.extend(c[rng.integers(0, m, n_extra)])
        truth.append([int(c.min()), int(m), int(c.sum())])
    a, b = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    keep = a != b
    lo, hi = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
    edges = np.unique(np.stack([lo, hi], axis=1), axis=0)
    edges = edges[rng.permutation(len(edges))]
    return {"id_a": pa.array(edges[:, 0]), "id_b": pa.array(edges[:, 1])}, truth


def fingerprint(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".parquet"):
            continue
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


# the base tables of the last seed generated, the generator state after
# them, and where each base table was written: datasets of one seed share them
_base_memo = {}


def generate(out_dir, seed, kind):
    """Writes dataset `kind` ('base' | 'amplified') for `seed` into
    out_dir (skipped when a complete copy is already there) and returns its
    manifest: row counts, fingerprint and planted truth."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    if seed not in _base_memo:
        rng = np.random.default_rng([seed, 0x6a7f])
        _base_memo.clear()
        _base_memo[seed] = (_base(rng), rng.bit_generator.state, {})
    tables, state, written = _base_memo[seed]
    rng = np.random.default_rng()
    rng.bit_generator.state = state
    planted = {}
    if kind == "amplified":
        tables, planted = _curation(rng, _scaled(rng, tables, ORDERS_X), CURATION_X)
    elif kind != "base":
        raise ValueError(f"unknown dataset kind {kind}")
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        # a base table another dataset of this seed already wrote is linked
        if written.get(name, (None,))[0] is cols:
            os.link(written[name][1], path)
        else:
            _write(out_dir, name, cols)
            written.setdefault(name, (cols, path))
    manifest = {
        "seed": seed, "kind": kind,
        "rows": {name: len(next(iter(cols.values()))) for name, cols in tables.items()},
        "fingerprint": fingerprint(out_dir),
        "planted": planted,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return manifest
