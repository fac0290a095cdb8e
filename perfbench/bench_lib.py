"""Pure parts of the benchmark: op sequences drawn from the seed, the
percentile rule, answer checking and failure accounting, and span self
times. `run.py` uses them; `test_bench.py` tests them.
"""
import math
import random

MIN_BEYOND = 10


def query_order(seed, selection, repeat, rounds, units=1):
    """The query_mix ops, per work unit: every selected query once in a
    seed-shuffled order (first calls), then `rounds` passes over the
    `repeat` subset, each in its own seed-shuffled order (calls a session
    memo may serve)."""
    out = []
    for u in range(units):
        first = list(selection)
        random.Random(f"query_mix:{seed}:{u}").shuffle(first)
        out += first
        for r in range(rounds):
            again = list(repeat)
            random.Random(f"query_mix:{seed}:{u}:repeat{r}").shuffle(again)
            out += again
    return out


def replay_order(seed, days, unit=0):
    """Airflow clear-and-rerun of the backfilled days in a seed-permuted
    order."""
    order = list(days)
    random.Random(f"dag_backfill:{seed}:{unit}").shuffle(order)
    return order


def hd_quantile(values, p, grid=20000):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all
    order statistics, the i-th weighted by the Beta(p(n+1), (1-p)(n+1))
    mass on ((i-1)/n, i/n]. Unlike a single rank it does not jump when two
    neighbouring samples trade places, so it is steadier on small samples.
    For the p used here both Beta parameters are at least 1, so the
    density is bounded and a midpoint sum integrates it."""
    ordered = sorted(values)
    n = len(ordered)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    mass = [0.0] * n
    for k in range(grid):
        x = (k + 0.5) / grid
        mass[min(n - 1, int(x * n))] += math.exp(
            log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) / grid
    return sum(m * v for m, v in zip(mass, ordered)) / sum(mass)


def tail_percentile(n, cap=0.9):
    """The highest whole percentile, at most `cap`, that leaves at least
    MIN_BEYOND of `n` samples beyond it; the median when no percentile
    above it does. Returns a fraction, e.g. 0.9."""
    for pct in range(round(cap * 100), 50, -1):
        if n - math.ceil(pct / 100 * n) >= MIN_BEYOND:
            return pct / 100
    return 0.5


def check_op(record, expected):
    """Failure reason of one op record, or None when it passed: a throw,
    or a row count / content hash that differs from the pinned answer."""
    if record.get("status") != "ok":
        return f"error: {record.get('error', 'unknown')}"
    if expected is None:
        return None
    if record.get("rows") != expected["rows"]:
        return f"rows {record.get('rows')} != expected {expected['rows']}"
    if str(record.get("hash")) != str(expected["hash"]):
        return f"hash {record.get('hash')} != expected {expected['hash']}"
    return None


def account(records, expected_for):
    """Split op records into timed passes and failures. A failed op counts
    in `failed` and contributes no time. Returns (attempted, failures,
    passed) where failures is a list of (record, reason)."""
    failures, passed = [], []
    for r in records:
        reason = check_op(r, expected_for(r))
        if reason is None:
            passed.append(r)
        else:
            failures.append((r, reason))
    return len(records), failures, passed


def op_stats(passed):
    """Median and tail CPU time of the passed ops (Harrell-Davis
    estimates), with the tail's percentile and the sample count."""
    times = [r["cpu_s"] for r in passed]
    if not times:
        return None
    p = tail_percentile(len(times))
    return {"p50": hd_quantile(times, 0.5), "tail": hd_quantile(times, p),
            "tail_pct": p, "n": len(times)}


def self_times(spans):
    """Self time in seconds per span kind: each span's duration minus the
    part of it that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_us"], s["end_us"]
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            lo, hi = max(c["start_us"], cursor), min(c["end_us"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0, end - start - covered) / 1e6
    return out
