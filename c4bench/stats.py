"""Summary rules of the benchmark: quartiles, the tail percentile, metric
names, and the reduction of one run's raw samples to its metrics."""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def valid_name(name):
    """A metric or workload name: letters, digits, `_`, `.` and `-`,
    starting with a letter or digit, at most 64 characters."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them;
    a single value is its own quartiles."""
    if not values:
        raise ValueError("no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest of p99, p95, p90, p75 that has at least ten of `n`
    samples beyond it; p50 when none has."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 50.0


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(raw, setup_s):
    """The end-to-end metrics of one run (untraced passes only), and the
    details the full report carries: sample counts and the tail's name."""
    passes = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    ops = [o for o in raw["ops"] if not o["traced"]]
    totals = [o["build_s"] + o["exec_s"] for o in ops]
    per_op = {}
    for o in ops:
        per_op.setdefault(o["op"], []).append(o["build_s"] + o["exec_s"])
    tail_p = tail_percentile(len(totals))
    metrics = {
        "setup_s": setup_s,
        "wall_s": _median(passes),
        "query_geomean_s": geomean([statistics.median(v) for v in per_op.values()]),
        "batch_p50_s": percentile(totals, 50.0),
        "batch_tail_s": percentile(totals, tail_p),
    }
    detail = {
        "passes": len(passes), "samples": len(totals),
        "batch_tail_percentile": f"p{tail_p:g}",
        "wall_s_quartiles": quartiles(passes),
        "per_op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
    }
    return metrics, detail


def per_layer(raw, names, error_rate):
    """Every per-layer metric in `names`: the median over traced passes,
    zero for a layer this workload does not run."""
    walls = {t: [p["wall_s"] for p in raw["passes"] if p["traced"] == t]
             for t in (True, False)}
    values = dict(raw.get("layers_once", {}))
    keys = {k for layer in raw["layers"] for k in layer}
    for k in keys:
        values[k] = _median([layer[k] for layer in raw["layers"] if k in layer])
    if walls[True] and walls[False]:
        values["trace.overhead_s"] = _median(walls[True]) - _median(walls[False])
    values["error_rate"] = error_rate
    return {n: float(values.get(n, 0.0)) for n in names}
