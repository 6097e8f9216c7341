"""Seeded agent script: one session of the procurement agent's tool calls,
each call with the SQL twin (DuckDB dialect) its forced result is checked
against.

The session is the reference agent's flow: inspect the schema, validate and
run SQL, keyword-search the documents, filter orders to a date window and
org units (registered as the intermediary table), then chart aggregates
and insights over that intermediary.
"""
import random

from gen import PRIORITIES, WORDS

CONCEPT_WORDS = [w for w in WORDS if len(w) > 3]
GROUPS = ["o_orderstatus", "o_orderpriority"]


def _concepts(rnd):
    """AND of 1-2 concepts, each an OR of 1-3 synonyms."""
    return [rnd.sample(CONCEPT_WORDS, rnd.randint(1, 3)) for _ in range(rnd.randint(1, 2))]


def _keyword_twin(concepts):
    where = " AND ".join(
        "(" + " OR ".join(f"contains(text, '{w}')" for w in group) + ")" for group in concepts)
    return f"SELECT doc_id, lang, source, n_chars FROM documents WHERE {where} ORDER BY doc_id"


def _session(rnd):
    year = rnd.randint(1995, 2000)
    months = rnd.randint(6, 24)
    y1, m1 = year + (months // 12), 1 + months % 12
    frm, until = f"{year}-01-01", f"{y1}-{m1:02d}-01"
    units = sorted(rnd.sample(PRIORITIES, rnd.randint(2, 4)))
    unit_list = ", ".join(f"'{u}'" for u in units)
    filtered = (f"(SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{frm}' "
                f"AND o_orderdate < TIMESTAMP '{until}' AND o_orderpriority IN ({unit_list}))")
    group = rnd.choice(GROUPS)
    lo = rnd.randint(1, 40) * 10000
    width = rnd.choice([25000, 50000, 100000])
    # both SQL shapes, so every script has the same mix
    sql_a = (f"SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders "
             f"WHERE o_totalprice >= {lo} GROUP BY o_orderpriority ORDER BY o_orderpriority")
    sql_b = (f"SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders "
             f"JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
             f"WHERE o_totalprice >= {lo} GROUP BY n_name ORDER BY n_name")
    bogus = f"o_{rnd.choice(CONCEPT_WORDS)}_{rnd.randint(0, 99)}"
    k1, k2 = _concepts(rnd), _concepts(rnd)
    bar = (f"SELECT {group}, SUM(o_totalprice) AS total_budget, COUNT(*) AS n_packages "
           f"FROM {filtered} GROUP BY {group} ORDER BY total_budget DESC, {group}")
    calls = [
        {"tool": "schema_report", "check": "schema"},
        {"tool": "sql_validate", "sql": sql_a, "check": "expect", "expect": "true"},
        {"tool": "sql_validate", "sql": sql_b, "check": "expect", "expect": "true"},
        {"tool": "sql_validate", "sql": f"SELECT {bogus} FROM orders", "check": "expect", "expect": "false"},
        {"tool": "sql_run", "sql": sql_a, "check": "sql", "twin": sql_a},
        {"tool": "sql_run", "sql": sql_b, "check": "sql", "twin": sql_b},
        {"tool": "keyword_search", "concepts": k1, "check": "sql", "twin": _keyword_twin(k1)},
        {"tool": "keyword_search", "concepts": k2, "check": "sql", "twin": _keyword_twin(k2)},
        {"tool": "filter_range", "from": frm, "until": until, "units": units, "check": "sql",
         "twin": f"SELECT COUNT(*) FROM {filtered}"},
        {"tool": "bar", "group": group, "check": "sql", "twin": bar},
        {"tool": "pie", "group": "o_orderstatus", "check": "sql",
         "twin": (f"SELECT o_orderstatus, COUNT(*) AS n_packages, "
                  f"CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share "
                  f"FROM {filtered} GROUP BY o_orderstatus ORDER BY o_orderstatus")},
        {"tool": "monthly", "check": "sql",
         "twin": (f"SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, SUM(o_totalprice) AS total_budget, "
                  f"COUNT(*) AS n_packages FROM {filtered} GROUP BY 1 ORDER BY 1")},
        {"tool": "hist_month", "check": "sql",
         "twin": (f"SELECT CAST(month(o_orderdate) AS BIGINT) AS month_num, COUNT(*) AS n_packages "
                  f"FROM {filtered} GROUP BY 1 ORDER BY 1")},
        {"tool": "hist_numeric", "width": width, "check": "sql",
         "twin": (f"SELECT CAST(floor(o_totalprice / {width}) AS BIGINT) AS bin, COUNT(*) AS n_packages "
                  f"FROM {filtered} GROUP BY 1 ORDER BY 1")},
        {"tool": "insights", "check": "sql",
         "twin": (f"SELECT COUNT(*) AS n_packages, min(o_totalprice) AS min_budget, "
                  f"max(o_totalprice) AS max_budget, SUM(o_totalprice) AS total_budget, "
                  f"SUM(o_totalprice) / COUNT(*) AS mean_budget FROM {filtered}")},
        {"tool": "insights_text", "group": group, "check": "insights_text", "twin": bar},
        {"tool": "chart_png", "group": group, "check": "png"},
    ]
    for i, c in enumerate(calls):
        c["key"] = f"{i:02d}.{c['tool']}"
        if "expect" in c:
            c["expect"] = str(c["expect"])
    return calls


def script(seed):
    """The agent script for a seed: one seeded session of 17 calls. The
    warm-up runs it a few times; the measured passes repeat it."""
    return {"calls": _session(random.Random(seed * 7919 + 17))}
