"""Lateness accounting on the open-loop schedule: event `i` is due at
`t0 + i * 1e9 / rate` ns; a cycle adds events [first, last) at `add_ns`
and has them committed on every branch at `commit_ns`."""


def due_ns(t0_ns, i, rate):
    return t0_ns + i * 1_000_000_000 // rate


def event_times(cycles, t0_ns, rate):
    """Per event: (freshness ms = commit - due, generator lateness ms =
    add - due)."""
    fresh, late = [], []
    for c in cycles:
        for i in range(c["first"], c["last"]):
            due = due_ns(t0_ns, i, rate)
            fresh.append((c["commit_ns"] - due) / 1e6)
            late.append((c["add_ns"] - due) / 1e6)
    return fresh, late


def request_times(reads):
    """Per request: (latency ms from due to reply, queue wait ms from due
    to send) — a request that failed counts as missing every limit, so
    its latency is infinite."""
    lat, wait = [], []
    for r in reads:
        ok = r["status"] == 200
        lat.append((r["done_ns"] - r["due_ns"]) / 1e6 if ok else float("inf"))
        wait.append((r["send_ns"] - r["due_ns"]) / 1e6)
    return lat, wait
