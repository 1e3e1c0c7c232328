"""Seeded serve schedule and the statistics the runner reports.

Pure functions only (no I/O), so the tests can pin them.
"""
import math

import numpy as np

# serve_api grid: DataGen.sampleGrid(days=DAYS, latPoints=NLAT, lonPoints=NLON),
# mirrored from ServeApi in the harness
NLAT, NLON, DAYS = 32, 32, 365
KEY_UNIVERSE = NLAT * NLON  # cells; x4 with the three point metrics = 4x the 1,024-entry LRU
CACHE_ENTRIES = 1024
RATE_PER_S = 2.0            # fixed open-loop arrival rate (below half of capacity on 4 vCPU)
HIT_SHARE = 0.25            # share of keyed requests that repeat an earlier key (assumed)
REPEAT_GAP_S = 3.0
SLO_MS = 2000.0             # the reference's access target
# (route, share) of the open loop. The route classes are the serve surface's;
# the shares and HIT_SHARE are assumptions, not measured traffic (the repo
# has none; perfbench/README.md compares them with the two mixes it does
# have). Every window holds these shares exactly
# (largest remainder), and exactly HIT_SHARE of the keyed (point and point
# metric) requests repeat an earlier key, so a seed changes keys, order and
# arrival times but not the mix or the hit count: with ~30 requests a window,
# a drawn mix or a drawn hit count would move the median. For the same reason
# stats boxes (20 x 10 degrees) and reference periods (45 days) have one size.
MIX = (("point", 0.52), ("region", 0.14), ("stats", 0.12),
       ("metric", 0.20), ("metric_grid", 0.02))
POINT_METRICS = ("monthly", "anomaly", "percentiles")
GRID_METRICS = ("climatology", "monthly")


def lat(i):
    return i * (180.0 / (NLAT - 1)) - 90.0


def lon(j):
    return j * (360.0 / NLON) - 180.0


def route_counts(n):
    """Requests per route for a window of n: MIX shares, largest remainder."""
    exact = [share * n for _, share in MIX]
    counts = [math.floor(x) for x in exact]
    by_rest = sorted(range(len(MIX)), key=lambda i: (counts[i] - exact[i], i))
    for i in by_rest[:n - sum(counts)]:
        counts[i] += 1
    return counts


def build(seed, seconds, rate=RATE_PER_S):
    """The open-loop schedule of one window: [(due_s, route, path)].

    Arrivals are jittered periodic: round(rate * seconds) slots of 1/rate
    seconds, one arrival uniform within each. (Poisson arrivals bunched
    differently per seed and moved the median by a third at ~30 requests.)"""
    rng = np.random.default_rng(seed)
    n = max(1, round(rate * seconds))
    due = (np.arange(n) + rng.uniform(0.0, 1.0, n)) * (seconds / n)
    names = [m[0] for m in MIX]
    routes = [names[r] for r in
              rng.permutation(np.repeat(np.arange(len(MIX)), route_counts(n)))]
    same = {r: [k for k in range(n) if routes[k] == r] for r in ("point", "metric")}
    repeats = set()
    for ks in same.values():
        # a repeat comes REPEAT_GAP_S after its original, which has finished
        # by then: a real hit, not a wait on the same in-flight computation
        ok = [k for k in ks if due[k] - due[ks[0]] >= REPEAT_GAP_S]
        repeats.update(rng.choice(ok, size=min(len(ok), round(HIT_SHARE * len(ks))),
                                  replace=False).tolist())
    fresh_cells = iter(rng.permutation(KEY_UNIVERSE).tolist())
    metric_k = grid_k = 0
    out = []
    for k in range(n):
        route = routes[k]
        if k in repeats:
            # the path of an earlier request of this route: a cache hit
            earlier = [j for j in same[route] if due[j] <= due[k] - REPEAT_GAP_S]
            out.append((float(due[k]), route, out[earlier[int(rng.integers(len(earlier)))]][2]))
            continue
        i, j = divmod(next(fresh_cells), NLON) if route in ("point", "metric") else (0, 0)
        la, lo = lat(i), lon(j)
        if route == "point":
            path = f"/api/v1/data/datasets/grid/point?lat={la!r}&lon={lo!r}"
        elif route == "stats":
            x, y = int(rng.integers(-180, 160)), int(rng.integers(-90, 80))
            path = (f"/api/v1/data/datasets/grid/stats?min_lon={x}&min_lat={y}"
                    f"&max_lon={x + 20}&max_lat={y + 10}")
        elif route == "region":
            x, y = int(rng.integers(-180, 174)), int(rng.integers(-90, 84))
            path = (f"/api/v1/data/datasets/grid/region?min_lon={x}&min_lat={y}"
                    f"&max_lon={x + 6}&max_lat={y + 6}")
        elif route == "metric":
            m = POINT_METRICS[metric_k % len(POINT_METRICS)]
            metric_k += 1
            path = f"/api/v1/metrics/temporal/grid?metric={m}&lat={la!r}&lon={lo!r}"
        else:
            # a reference period no other request shares: always a cache miss
            m = GRID_METRICS[grid_k % len(GRID_METRICS)]
            grid_k += 1
            d0 = np.datetime64("2020-01-01") + int(rng.integers(0, 300))
            d1 = d0 + 45
            path = f"/api/v1/metrics/temporal/grid?metric={m}&ref_start={d0}&ref_end={d1}"
        out.append((float(due[k]), route, path))
    return out


def tail(values, target=99.0, min_beyond=10):
    """The highest percentile <= ``target`` with at least ``min_beyond``
    samples above it (nearest-rank). Returns (percentile, value, beyond);
    with too few samples for any percentile it returns (100.0, max, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return (0.0, float("nan"), 0)
    pct = target
    if n - math.ceil(pct / 100.0 * n) < min_beyond:
        pct = math.floor(100.0 * (n - min_beyond) / n)
    if pct <= 0:
        return (100.0, xs[-1], 0)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return (float(pct), xs[rank - 1], n - rank)


def median(values):
    xs = sorted(values)
    if not xs:
        return float("nan")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def slo_miss(status, latency_ms):
    """A request misses the SLO when it failed (no response, refused, any
    non-200 status) or took at least SLO_MS."""
    return status != 200 or latency_ms is None or latency_ms >= SLO_MS


def self_times(spans):
    """Per-layer self time (seconds) from spans: a span's duration minus its
    child spans, and minus the union of the Spark jobs it submitted, which
    count as layer ``spark``. Returns {layer: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["layer"] == "spark":
            continue
        t0, t1 = s["start_ns"], s["end_ns"]
        kids = children.get(s["id"], [])
        own = sum(k["end_ns"] - k["start_ns"] for k in kids if k["layer"] != "spark")
        jobs = sorted((max(t0, k["start_ns"]), min(t1, k["end_ns"]))
                      for k in kids if k["layer"] == "spark")
        spark = 0
        cur0 = cur1 = None
        for a, b in jobs:
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    spark += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            spark += cur1 - cur0
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, t1 - t0 - own - spark) / 1e9
        out["spark"] = out.get("spark", 0.0) + spark / 1e9
    return out


def accounted_ratio(self_s, untraced_wall_s):
    """Share of the untraced run's wall time that the traced run's layer
    self times account for. Tracing and a warmer JVM move it the way they
    move trace.overhead_ratio; a gap between the two is work no span covers."""
    return self_s / untraced_wall_s if untraced_wall_s > 0 else 0.0
