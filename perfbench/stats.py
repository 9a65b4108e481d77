"""Statistics the benchmark reports: percentiles with a stated tail, span
self time, and interval arithmetic over job spans."""

# Highest first; a percentile is reported only with >= MIN_BEYOND samples
# above it.
PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(k) - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th."""
    return n - max(1, -(-n * p // 100))


def reportable(n, p, min_beyond=MIN_BEYOND):
    """Whether the p-th percentile of n samples has `min_beyond` above it."""
    return n > 0 and samples_beyond(n, p) >= min_beyond


def highest_reportable(n, min_beyond=MIN_BEYOND):
    """The highest percentile in PERCENTILES with enough samples beyond."""
    for p in PERCENTILES:
        if reportable(n, p, min_beyond):
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, children):
    """Length of `span`'s interval that its children cover."""
    s0, e0 = span["start_us"], span["end_us"]
    return union_length([(max(s0, c["start_us"]), min(e0, c["end_us"])) for c in children])


def self_times(spans):
    """Self time (seconds) of every span: its duration minus the part of
    its interval its child spans cover. Returns {span id: seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_us"] - s["start_us"] - covered(s, kids.get(s["id"], []))) / 1e6
            for s in spans}


def self_time_by_kind(spans):
    """Summed self time (seconds) per span kind."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]]
    return out
