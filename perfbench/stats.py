"""Statistics and span arithmetic for the benchmark report."""
import math

BEYOND = 10  # samples a reported percentile needs above it


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1). Refuses a percentile with
    fewer than BEYOND samples above it, so a tail figure always rests on
    at least that many observations."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    i = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - 1 - i < BEYOND:
        raise ValueError(f"p{q * 100:g} of {len(xs)} samples has "
                         f"{len(xs) - 1 - i} beyond it, needs {BEYOND}")
    return xs[i]


def tail(values, quantiles=(0.99, 0.95, 0.9, 0.75)):
    """The highest of `quantiles` the sample rule allows, as (q, value),
    or None when even the lowest has too few samples beyond it."""
    for q in quantiles:
        if len(values) >= min_samples(q):
            return q, percentile(values, q)
    return None


def min_samples(q):
    """Smallest sample count for which `percentile(_, q)` is allowed."""
    n = 1
    while n - max(1, math.ceil(q * n)) < BEYOND:
        n += 1
    return n


def exclusive(spans, depth):
    """Wall time charged to each span kind: every instant covered by some
    span goes to the deepest kind open at that instant (`depth` lists the
    kinds outermost first). Nested spans are thus charged only for the
    time their children do not cover, and spans that overlap each other,
    such as concurrent stages, are counted once, so the result sums to the
    union of all the spans. Each span is a dict with kind, start, end."""
    order = {k: i for i, k in enumerate(depth)}
    events = sorted(ev for s in spans if s["end"] > s["start"]
                    for ev in ((s["start"], 1, order[s["kind"]]),
                               (s["end"], -1, order[s["kind"]])))
    open_ = [0] * len(depth)
    out = {k: 0 for k in depth}
    prev = None
    for t, step, level in events:
        if prev is not None and t > prev:
            deepest = max((i for i, n in enumerate(open_) if n), default=None)
            if deepest is not None:
                out[depth[deepest]] += t - prev
        open_[level] += step
        prev = t
    return out


# Which spans may contain which: a listener span is attached to the
# innermost span of these kinds whose window holds its start.
CONTAINERS = {
    "batch": ("build", "action"),
    "job": ("batch", "build", "action", "release", "iteration"),
    "stage": ("job",),
}
SLACK_US = 1000  # listener times have millisecond resolution


def attach(spans):
    """Give every listener span (parent -1) its parent by time window.
    The query loop is serial, so the innermost harness or listener span
    open at a span's start is its cause. Stages go to their own job when
    it was recorded. Returns the spans as dicts with id/parent/start/end
    and kind; spans that fall outside every iteration keep parent -1."""
    out, next_id = [], -2
    for s in spans:
        d = dict(s, start=s["start_us"], end=s["end_us"])
        if d["parent"] == -1 and d["kind"] != "iteration":
            d["id"] = next_id
            next_id -= 1
        out.append(d)
    by_job = {d["job"]: d for d in out if d["kind"] == "job"}
    by_query = {}
    for d in out:
        by_query.setdefault((d["sweep"], d["query"]), []).append(d)
    for d in out:
        if d["parent"] != -1 or d["kind"] not in CONTAINERS:
            continue
        if d["kind"] == "stage" and d["job"] in by_job:
            d["parent"] = by_job[d["job"]]["id"]
            continue
        best = None
        for c in by_query[(d["sweep"], d["query"])]:
            if (c["kind"] in CONTAINERS[d["kind"]] and c is not d and
                    c["start"] - SLACK_US <= d["start"] < c["end"] + SLACK_US):
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
        if best is not None:
            d["parent"] = best["id"]
    return out
