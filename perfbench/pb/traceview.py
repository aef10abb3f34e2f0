"""Per-layer self time from the spans of a traced run.

Every instant of the timed phase is charged to exactly one span: the
deepest span active at that instant (the latest-started on ties). The
self times of one tree therefore add up to its root's wall time. The
main loop (`workload` and below) is one tree; dashboard requests run
concurrently and form trees of their own, each store read being charged
to the request the single-threaded server was answering at that moment
(the in-flight request that completes first after the read).
"""
import bisect
import heapq
from collections import defaultdict


def exclusive_times(spans, root):
    """{span name: self ns} over the tree under `root` (a span dict)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    nodes, depth = [], {}
    stack = [(root, 0)]
    while stack:
        s, d = stack.pop()
        nodes.append(s)
        depth[s["id"]] = d
        stack.extend((c, d + 1) for c in children.get(s["id"], ()))
    lo, hi = root["start_ns"], root["end_ns"]
    points = []
    for s in nodes:
        a, b = max(s["start_ns"], lo), min(s["end_ns"], hi)
        if b > a:
            points.append((a, 1, s))
            points.append((b, 0, s))
    points.sort(key=lambda p: (p[0], p[1]))
    active, ended, out = [], set(), defaultdict(int)
    prev = None
    for t, kind, s in points:
        while active and active[0][2] in ended:
            heapq.heappop(active)
        if prev is not None and active and t > prev:
            out[active[0][3]] += t - prev
        if kind == 1:
            heapq.heappush(active, (-depth[s["id"]], -s["start_ns"], s["id"], s["name"]))
        else:
            ended.add(s["id"])
        prev = t
    return out


def attach_reads(requests, reads):
    """Give each store-read span the id of the request it served; returns
    {request id: [read spans]}. `requests` are spans with `send_ns`."""
    by_done = sorted(requests, key=lambda r: r["end_ns"])
    ends = [r["end_ns"] for r in by_done]
    out = defaultdict(list)
    for rd in reads:
        i = bisect.bisect_left(ends, rd["end_ns"])
        while i < len(by_done) and by_done[i]["send_ns"] > rd["start_ns"]:
            i += 1
        if i < len(by_done):
            out[by_done[i]["id"]].append(rd)
    return out


def layer_of(name):
    if name.startswith("store."):
        return "store"
    if name.startswith("streaming."):
        return "streaming"
    if name.startswith("source."):
        return "sources"
    if name.startswith("catalog."):
        return "operators/plans (catalog)"
    if name.startswith("serving."):
        return "serving"
    return "harness loop"


def table(spans, requests):
    """Rows (name, layer, count, total ms, self ms) for the main tree, then
    for the serving trees, with each tree's wall time."""
    roots = [s for s in spans if s["name"] == "workload"]
    rows = []
    counts, totals = defaultdict(int), defaultdict(int)
    for s in spans:
        counts[s["name"]] += 1
        totals[s["name"]] += s["end_ns"] - s["start_ns"]
    main_wall = 0
    if roots:
        root = roots[0]
        main_wall = root["end_ns"] - root["start_ns"]
        self_ns = exclusive_times([s for s in spans if not s["name"].startswith("store.read")
                                   and s["name"] != "serving.request"], root)
        for name in sorted(self_ns, key=lambda n: -self_ns[n]):
            rows.append(("main", name, layer_of(name), counts[name], totals[name] / 1e6,
                         self_ns[name] / 1e6))
    reads = [s for s in spans if s["name"].startswith("store.read")]
    assigned = attach_reads(requests, reads)
    serve_self, read_self = 0, defaultdict(int)
    serve_wall = 0
    for r in requests:
        tree = [r] + [dict(x, parent=r["id"]) for x in assigned.get(r["id"], ())]
        ex = exclusive_times(tree, r)
        serve_wall += r["end_ns"] - r["start_ns"]
        serve_self += ex.get("serving.request", 0)
        for k, v in ex.items():
            if k != "serving.request":
                read_self[k] += v
    if requests:
        rows.append(("serving", "serving.request", "serving", len(requests), serve_wall / 1e6,
                     serve_self / 1e6))
        for k in sorted(read_self, key=lambda n: -read_self[n]):
            rows.append(("serving", k, "store", counts[k], totals[k] / 1e6, read_self[k] / 1e6))
    return rows, main_wall / 1e6, serve_wall / 1e6, assigned


def render(rows, main_wall_ms, serve_wall_ms):
    lines = [f"{'tree':8} {'span':38} {'layer':26} {'count':>7} {'total_ms':>11} "
             f"{'self_ms':>11} {'share':>6}"]
    for tree, name, layer, n, total, own in rows:
        wall = main_wall_ms if tree == "main" else serve_wall_ms
        share = 100.0 * own / wall if wall else 0.0
        lines.append(f"{tree:8} {name:38} {layer:26} {n:7d} {total:11.1f} {own:11.1f} "
                     f"{share:5.1f}%")
    main_self = sum(r[5] for r in rows if r[0] == "main")
    serve_self = sum(r[5] for r in rows if r[0] == "serving")
    lines.append(f"main loop wall {main_wall_ms:.1f} ms = sum of self {main_self:.1f} ms; "
                 f"dashboard requests wall {serve_wall_ms:.1f} ms = sum of self {serve_self:.1f} ms")
    return "\n".join(lines)
