"""Metric math for the graft benchmark: percentile selection, listener
latency and backlog from a progress trace, the stratified key sample,
and span roll-ups. Pure functions, so they can be unit-tested."""
import math
import random
import statistics


def tail_percentile(n, cap):
    """The highest whole percentile, at most `cap`, that has at least
    ten samples beyond it; None when that is below the median (n < 20)."""
    if n < 20:
        return None
    return min(float(cap), math.floor(100.0 * (n - 10) / n))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def summary(values, cap):
    """Sample count, median, and the highest percentile (at most `cap`)
    with ten samples beyond it, or the maximum when there is none."""
    if not values:
        return {"n": 0, "p50": None, "tail_percentile": None, "tail": None}
    pct = tail_percentile(len(values), cap)
    return {"n": len(values), "p50": percentile(values, 50),
            "tail_percentile": pct if pct else 100.0,
            "tail": percentile(values, pct) if pct else max(values)}


def median(values):
    return statistics.median(values) if values else None


def due_ms(live, block):
    return live["t_live_ms"] + (block - live["b_first"]) * 1000.0 / live["rate"]


def batch_end_ms(p):
    return p["ts_ms"] + p["durations"].get("triggerExecution", 0)


def measured(live):
    """Live batches that commit a measured block (after the warm-up)."""
    first = live.get("b_measured", live["b_first"])
    return [p for p in sorted(live["progress"], key=lambda p: p["batch"])
            if p["end_block"] >= first]


def event_latencies(live):
    """Per-event latency (ms) from each measured block's due time to the
    end of the batch that committed it. Every event of a block shares it."""
    out = []
    events = live["block_events"]
    first = live.get("b_measured", live["b_first"])
    for p in measured(live):
        end = batch_end_ms(p)
        for b in range(max(p["start_block"] + 1, first), p["end_block"] + 1):
            i = b - live["b_first"]
            if i < len(events):
                out.extend([end - due_ms(live, b)] * events[i])
    return out


def backlog_series(live):
    """Blocks already due but not yet committed when each measured live
    batch starts, in batch order."""
    out = []
    for p in measured(live):
        elapsed = p["ts_ms"] - live["t_live_ms"]
        head = live["b_first"] - 1 if elapsed < 0 else min(
            live["b_last"], live["b_first"] + math.floor(elapsed * live["rate"] / 1000.0))
        out.append(max(0, head - p["start_block"]))
    return out


def backlog_growth(series):
    """Mean backlog over the last quarter of batches minus the first
    quarter: near 0 when the listener keeps up, growing with the run
    length when it does not."""
    if len(series) < 4:
        return 0.0
    q = len(series) // 4
    return statistics.mean(series[-q:]) - statistics.mean(series[:q])


def stratified_sample(keys, share, seed):
    """Seeded fixed-share sample of `keys` (name -> reference seconds).
    `q_` and `s_` keys are sampled separately so they keep their sweep
    proportions; within each, keys are ordered by reference time and
    cut into equal bins, one key drawn per bin, so every sample spans
    the whole cost range."""
    rng = random.Random(seed)
    out = []
    for prefix in ("q_", "s_"):
        group = sorted((k for k in keys if k.startswith(prefix)), key=lambda k: (keys[k], k))
        m = max(1, round(share * len(group))) if group else 0
        for i in range(m):
            lo, hi = i * len(group) // m, (i + 1) * len(group) // m
            out.append(group[rng.randrange(lo, hi)])
    return sorted(out)


def self_ms(span, spans):
    """A span's duration minus the part of its interval its children cover."""
    iv = sorted((max(c["start_ms"], span["start_ms"]), min(c["end_ms"], span["end_ms"]))
                for c in spans if c["parent"] == span["id"])
    covered, cur = 0.0, None
    for a, b in iv:
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        covered += cur[1] - cur[0]
    return span["end_ms"] - span["start_ms"] - covered


def subtree(spans, root_id):
    """Ids of `root_id` and all its descendants."""
    ids, frontier = {root_id}, [root_id]
    while frontier:
        nxt = [s["id"] for s in spans if s["parent"] in frontier]
        ids.update(nxt)
        frontier = nxt
    return ids


def rollup(spans, ids, count):
    return sum(s["counts"].get(count, 0.0) for s in spans if s["id"] in ids)
