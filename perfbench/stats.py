"""Statistics and trace arithmetic shared by the runner and compare mode.

Pure functions over plain lists and dicts, so the tests can feed them
synthetic runs.
"""
import statistics

MIN_TAIL = 10  # samples a reported percentile must have beyond it


def percentile(values, p):
    """The ``p``-th percentile (0-100) of ``values`` by linear
    interpolation between closest ranks, and the sample count."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = (n - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo), n


def highest_supported_percentile(n, tail=MIN_TAIL):
    """The highest percentile with at least ``tail`` samples beyond it,
    or None when ``n`` is too small for any."""
    if n <= tail:
        return None
    return 100.0 * (n - tail) / n


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (a single value is its own quartiles)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


# --- spans ---------------------------------------------------------------

def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in intervals
                     if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children count once)."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered(lo, hi, [(c["start_ms"], c["end_ms"])
                                        for c in children])


def attach_orphans(spans, kinds=("plan", "batch")):
    """Give spans of ``kinds`` recorded without a parent the innermost
    query-level span (build or execute) whose interval holds their
    start. Those come from asynchronous listeners that cannot see which
    query caused them. Spans that fall outside every query are dropped.
    """
    hosts = sorted((s for s in spans if s["kind"] in ("build", "execute")),
                   key=lambda s: s["start_ms"])
    out = []
    for s in spans:
        if s["kind"] in kinds and not s["parent"]:
            host = next((h for h in hosts
                         if h["start_ms"] <= s["start_ms"] <= h["end_ms"]), None)
            if host is None:
                continue
            s = dict(s, parent=host["id"])
        out.append(s)
    return out


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def descendants(root_id, kids):
    stack, out = [root_id], []
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


# --- compare verdict -----------------------------------------------------

def pair_wins(parent, change, better):
    """Share of pairs (same index) the change wins; ties count for
    neither side but stay in the denominator."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    return wins / len(pairs)


def verdict(parent, change, better, bound):
    """Judge one end-to-end metric on one workload.

    * ``improved``: the change wins at least nine tenths of the pairs and
      the medians differ by more than the parent's quartile distance;
    * ``unresolved``: either side's spread exceeds the bound, unless every
      run of the change reads better than every run of the parent;
    * ``regressed``: the change's median is worse by more than the bound;
    * ``unchanged`` otherwise.
    """
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    sign = -1.0 if better == "lower" else 1.0
    gain = sign * (cmed - pmed)
    wins = pair_wins(parent, change, better)
    if wins >= 0.9 and gain > (pq3 - pq1):
        return "improved"
    all_better = (max(change) < min(parent) if better == "lower"
                  else min(change) > max(parent))
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved"
    if -gain > bound * abs(pmed):
        return "regressed"
    return "unchanged"
