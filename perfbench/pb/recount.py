"""Independent recount of the streaming metrics from the wire messages the
pipeline received, and the comparison of the store and the dashboard's
endpoints against it. Written from the reference's key language, not
from the engine's code:

  visitCounter_<minute>       visits per minute           (INCRBY)
  set_dthr_<minute>           distinct users per minute   (SADD)
  set_experiments_<minute>    distinct experiments/minute (SADD)
  set_var_<variant>           distinct users per variant  (SADD)
  hll_dthr_<minute>           distinct users per minute   (PFADD / HLL upsert)
"""
import datetime
import json
import re
from collections import defaultdict
from itertools import combinations

_WIRE = re.compile(r'"uid": (\d+), "experiment_id": (\d+), "variant": "([^"]*)", '
                   r'"timestamp": "(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):\d\dZ"')


class Recount:
    def __init__(self):
        self.visits = defaultdict(int)
        self.users = defaultdict(set)
        self.experiments = defaultdict(set)
        self.variants = defaultdict(set)

    def add(self, line):
        m = _WIRE.search(line)
        if not m:
            raise ValueError(f"not a wire message: {line!r}")
        uid, exp, variant, y, mo, d, h, mi = m.groups()
        minute = f"{y}_{mo}_{d}T{h}_{mi}"
        self.visits[minute] += 1
        self.users[minute].add(uid)
        self.experiments[minute].add(exp)
        self.variants[variant].add(uid)


def recount(lines):
    rc = Recount()
    for line in lines:
        if line.strip():
            rc.add(line)
    return rc


def expected_store(rc):
    counters = {f"visitCounter_{m}": n for m, n in rc.visits.items()}
    sets = {f"set_dthr_{m}": u for m, u in rc.users.items()}
    sets.update({f"set_experiments_{m}": e for m, e in rc.experiments.items()})
    sets.update({f"set_var_{v}": u for v, u in rc.variants.items()})
    hll = {f"hll_dthr_{m}": len(u) for m, u in rc.users.items()}
    return counters, sets, hll


def compare_store(rc, store):
    """Mismatches between the dumped store and the recount. The store
    keeps real PFADD members (`store["hll"]`), so their counts must match
    exactly."""
    counters, sets, hll = expected_store(rc)
    bad = []
    if store["counters"] != counters:
        bad.append(("counters", sorted(set(store["counters"].items()) ^ set(counters.items()))[:5]))
    got_sets = {k: set(v) for k, v in store["sets"].items()}
    for k in sorted(set(got_sets) | set(sets)):
        if got_sets.get(k) != sets.get(k):
            bad.append((k, len(got_sets.get(k, ())), len(sets.get(k, ()))))
    if store["hll"] != hll:
        bad.append(("hll", sorted(set(store["hll"].items()) ^ set(hll.items()))[:5]))
    return bad


def _iso(minute):
    return minute.strftime("%Y-%m-%dT%H:%M:00Z")


def _key(minute):
    return minute.strftime("%Y_%m_%dT%H_%M")


def expected_endpoints(rc, now, last=10):
    """The five endpoints' JSON as parsed objects, for the closed minutes
    now-1 .. now-last (recent first). `now` is a datetime."""
    now = now.replace(second=0, microsecond=0)
    minutes = [now - datetime.timedelta(minutes=k) for k in range(1, last + 1)]

    def series(f):
        return [{"timestamp": _iso(m), "metric": f(_key(m))} for m in minutes]

    variants = sorted(rc.variants)
    return {
        "visits": series(lambda k: rc.visits.get(k, 0)),
        "users": series(lambda k: len(rc.users.get(k, ()))),
        "experiments": series(lambda k: len(rc.experiments.get(k, ()))),
        "variantsOverlap": [
            {"dimensions": [a, b], "metric": len(rc.variants[a] & rc.variants[b])}
            for a, b in combinations(variants, 2)],
        "times": [_iso(m) for m in minutes],
    }


def compare_endpoint(expected, body):
    """True when the served JSON equals the expected JSON."""
    try:
        return json.loads(body) == expected
    except ValueError:
        return False
