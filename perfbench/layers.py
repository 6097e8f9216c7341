"""Span-tree arithmetic for the traced run: per-layer self time, driver
time and Spark counters, plus the latency percentile with its refusal rule.

A span is a dict with `id`, `parent` (-1 for a root), `layer`, `kind`,
`start` and `end` (milliseconds). `stats` maps a span id (as a string) to
the Spark counters of the jobs that ran in that span's job group, with
`job_intervals` as [start, end] pairs in the same clock.
"""
import math

LAYERS = ["api", "sources", "operators.quantile", "operators.stats", "operators.graph",
          "operators.dedup", "operators.ann", "operators.text", "operators.sample"]
BASE_METRICS = ["calls", "wall_ms", "self_ms", "driver_ms", "jobs", "tasks", "task_ms",
                "max_task_ms", "queue_ms", "shuffle_write_b", "pin_b", "failed"]
# the layers whose shuffles, spills and GC an optimisation is most likely to move
DEEP_LAYERS = ["operators.quantile", "operators.stats", "operators.graph", "operators.dedup"]
DEEP_METRICS = ["shuffle_read_b", "spill_b", "gc_ms"]
UNITS = {"calls": "count", "jobs": "count", "tasks": "count", "failed": "count",
         "shuffle_write_b": "B", "pin_b": "B", "shuffle_read_b": "B", "spill_b": "B"}
SUMMED = ["jobs", "tasks", "task_ms", "queue_ms", "shuffle_write_b", "pin_b",
          "shuffle_read_b", "spill_b", "gc_ms"]


def metric_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    out = []
    for layer in LAYERS:
        names = BASE_METRICS + (DEEP_METRICS if layer in DEEP_LAYERS else [])
        out += [(f"{layer}.{m}", UNITS.get(m, "ms")) for m in names]
    out.append(("operators.dedup.candidate_yield", "ratio"))
    out.append(("trace.overhead_s", "s"))
    return out


def _beta_cdf(x, a, b, steps=4000):
    """Regularized incomplete beta I_x(a, b), by the midpoint rule."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = x / steps
    return sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)) * h
               for t in ((k + 0.5) * h for k in range(steps)))


def percentile(samples, p, min_beyond=0):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of the
    order statistics, which does not jump when two neighbouring samples
    swap places (the plain order statistic does, with few samples).
    Refuses (ValueError) when fewer than `min_beyond` samples lie beyond
    rank ceil(p*n), so a tail percentile is never read off too short a run.
    A failed call is passed as math.inf: it misses every latency limit and
    is never a fast sample."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    beyond = n - max(1, math.ceil(p * n))
    if beyond < min_beyond:
        raise ValueError(f"p{round(p * 100)} needs {min_beyond} samples beyond it, "
                         f"{n} samples leave {beyond}")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    weights = [cdf[i + 1] - cdf[i] for i in range(n)]
    if any(w > 1e-12 and math.isinf(x) for w, x in zip(weights, xs)):
        return math.inf
    return sum(w * x for w, x in zip(weights, xs) if w > 1e-12)


def _length(intervals):
    """Total length of the union of [a, b] intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _minus(region, holes):
    """[a, b] minus the union of `holes`, as a list of intervals."""
    a, b = region
    out, cur = [], a
    for x, y in sorted(holes):
        x, y = max(x, a), min(y, b)
        if y <= cur:
            continue
        if x > cur:
            out.append((cur, x))
        cur = max(cur, y)
    if cur < b:
        out.append((cur, b))
    return out


def layer_metrics(spans, stats, n_passes=1):
    """Per-layer metrics over the given spans, averaged per traced pass
    (`max_task_ms` is the maximum instead).

    self_ms:   span time not spent in a child span, summed over the layer;
    wall_ms:   time in the layer's outermost spans (nested same-layer spans
               are counted once);
    driver_ms: self time during which none of the span's own jobs ran.
    """
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: {m: 0.0 for m in BASE_METRICS + DEEP_METRICS} for layer in LAYERS}
    for s in spans:
        layer = out.get(s["layer"])
        if layer is None:
            continue
        dur = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            layer["wall_ms"] += dur
        if s["kind"] == "op":
            layer["calls"] += 1
        layer["self_ms"] += dur - _length(kids)
        st = stats.get(str(s["id"]), {})
        self_region = _minus((s["start"], s["end"]), kids)
        busy = sum(_length([(max(a, x), min(b, y)) for a, b in st.get("job_intervals", [])
                            if min(b, y) > max(a, x)]) for x, y in self_region)
        layer["driver_ms"] += _length(self_region) - busy
        for m in SUMMED:
            layer[m] += st.get(m, 0)
        layer["failed"] += st.get("failed_jobs", 0) + st.get("failed_tasks", 0)
        layer["max_task_ms"] = max(layer["max_task_ms"], st.get("max_task_ms", 0))
    for layer in out.values():
        for m in layer:
            if m != "max_task_ms":
                layer[m] /= max(1, n_passes)
    return out
