"""Output checks, run after the timed region.

- Catalog operations are compared with DuckDB running the entry's own
  oracle SQL (`SparkEntry.oracleSql`) over the same generated parquet.
- Agent calls are compared with the SQL twin shipped in the agent script.
- Rows-only dedup / ANN / components operations are checked against the
  planted truth of the generated corpus, the way `SelfCheck` does it.
- Packing is checked by recomputing its shard assignment.

`check_results` returns {op key: None | "reason it failed"}.
"""
import datetime
import decimal
import hashlib
import math
import os
import re

import duckdb

import gen

EPOCH = datetime.datetime(1970, 1, 1)
# planted-recall floors (the operators are approximate where noted)
MINHASH_NEAR_RECALL = 0.99   # J >= 0.93 copies; banded LSH miss rate ~1e-9
ANN_RECALL = 0.9             # IVF probes 4 of 16 cells


def canon(v):
    """A DuckDB value in the harness's canonical form."""
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH
        return f"ts:{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"date:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and math.isnan(a) or isinstance(b, float) and math.isnan(b):
            return isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def _by_name(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [[r[i] for i in order] for r in rows]


class Checker:
    def __init__(self, dirs, manifests, tmp):
        self.dirs = dirs
        self.manifests = manifests
        self.tmp = tmp
        self.cons = {}

    def con(self, ds):
        if ds not in self.cons:
            c = duckdb.connect(config={"threads": 2, "temp_directory": self.tmp})
            for name in sorted(os.listdir(self.dirs[ds])):
                if name.endswith(".parquet"):
                    path = os.path.join(self.dirs[ds], name)
                    c.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
            self.cons[ds] = c
        return self.cons[ds]

    def query(self, ds, sql):
        rel = self.con(ds).sql(sql)
        return list(rel.columns), [[canon(v) for v in r] for r in rel.fetchall()]

    def compare_rows(self, got, ds, sql):
        exp_cols, exp_rows = self.query(ds, sql)
        got_cols, got_rows = _by_name(got["columns"], got["rows"])
        exp_cols, exp_rows = _by_name(exp_cols, exp_rows)
        if got_cols != exp_cols:
            return f"columns {got_cols} != {exp_cols}"
        if len(got_rows) != len(exp_rows):
            return f"rowcount {len(got_rows)} != {len(exp_rows)}"
        for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
            if not same(g, e):
                return f"row {i}: got {g} expected {e}"
        return None

    def check(self, res):
        chk, value, ds = res["check"], res["value"], res["dataset"]
        kind = chk["kind"]
        if kind == "oracle" or (kind == "sql" and isinstance(value, dict)):
            return self.compare_rows(value, ds, chk["sql"])
        if kind == "sql":
            _, rows = self.query(ds, chk["sql"])
            return None if same(value, rows[0][0]) else f"got {value} expected {rows[0][0]}"
        if kind == "expect":
            return None if str(value).lower() == chk["expect"] else f"got {value} expected {chk['expect']}"
        if kind == "schema":
            exp = sorted([t, c] for t in gen.TABLES
                         for c in self.con(ds).sql(f"SELECT * FROM {t} LIMIT 0").columns)
            return None if value["rows"] == exp else "schema report differs from the snapshot"
        if kind == "png":
            return None if value.get("png") and value.get("bytes", 0) > 0 else "not a PNG"
        if kind == "insights_text":
            return self.insights_text(value, ds, chk["sql"])
        if kind == "planted":
            return getattr(self, "planted_" + chk["truth"])(value, self.manifests[ds]["planted"])
        if kind == "packing":
            return self.packing(value, ds, int(chk["budget"]))
        return f"unknown check {kind}"

    def insights_text(self, text, ds, bar_sql):
        _, rows = self.query(ds, bar_sql)
        totals = [r[1] for r in rows]
        labels = ["Total number of groups", "Highest total", "Lowest total", "Average total", "Grand total"]
        got = [float(re.search(re.escape(lb) + r": (-?[\d.]+)", text).group(1)) for lb in labels]
        exp = [len(rows), totals[0], totals[-1], sum(totals) / len(totals), sum(totals)]
        ok = all(abs(g - e) <= 0.0051 + 1e-9 * abs(e) for g, e in zip(got, exp))
        return None if ok else f"insights {got} expected {exp}"

    @staticmethod
    def _recall(found, planted):
        hit = sum(1 for p in planted if p in found)
        return hit, len(planted)

    def planted_doc_pairs(self, value, truth):
        found = {tuple(p) for p in value["pairs"]}
        exact = [(i, c) for i, cs in enumerate(truth["doc_exact_copies"]) for c in cs]
        dup = [(i, c) for i, cs in enumerate(truth["doc_dup_copies"]) for c in cs]
        he, ne = self._recall(found, exact)
        hd, nd = self._recall(found, dup)
        if he < ne:
            return f"exact copies found {he}/{ne}"
        if hd < MINHASH_NEAR_RECALL * nd:
            return f"near-dup recall {hd}/{nd} below {MINHASH_NEAR_RECALL}"
        return None

    def planted_components(self, value, truth):
        got = sorted(tuple(r) for r in _by_name(value["columns"], value["rows"])[1])
        # columns by name: component, id_sum, n
        exp = sorted((c, s, n) for c, n, s in truth["components"])
        return None if got == exp else f"{len(got)} components, {len(exp)} planted, or members differ"

    def planted_ann(self, value, truth):
        hits = {}
        for q, nb in value["rows"]:
            hits.setdefault(q, set()).add(nb)
        planted = [(q, c) for q in range(0, 200, 4) for c in truth["vec_dup_copies"][q]]
        found = sum(1 for q, c in planted if c in hits.get(q, ()))
        if planted and found < ANN_RECALL * len(planted):
            return f"ANN recall {found}/{len(planted)} below {ANN_RECALL}"
        return None

    def packing(self, value, ds, budget):
        _, rows = _by_name(value["columns"], value["rows"])  # doc_id, n_tokens, shard_id
        _, exp = self.query(ds, "SELECT doc_id, len(string_split(text, ' ')) FROM documents ORDER BY doc_id")
        if sorted([r[0], r[1]] for r in rows) != exp:
            return "token counts differ from the SQL twin"
        order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
        prefix = 0
        for doc, n, shard in order:
            if shard != prefix // budget:
                return f"doc {doc} in shard {shard}, expected {prefix // budget}"
            prefix += n
        return None


def check_results(results, dirs, manifests, tmp):
    checker = Checker(dirs, manifests, tmp)
    out = {}
    for key, res in results.items():
        try:
            out[key] = checker.check(res)
        except Exception as e:  # a checker error is a failed check, never a pass
            out[key] = f"check error: {type(e).__name__}: {e}"
    return out
