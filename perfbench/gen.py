"""Workload inputs, made from the seed alone, and the answers they must get.

Each ``plan_<workload>`` returns a Plan: the parameters, the untimed warm
requests and the timed requests the client process runs in order. The
same seed always gives the same plan. ``value`` recomputes what the store
must return for any (key, ts) the generator wrote.
"""
import hashlib
import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

# store_serve sizes. Set-up ingests keys x ts entries in batches of `width`
# timestamps; the reviewer compacts every `rick` (= bucket) and, once
# `outdate_range` has accumulated, ages out the oldest rick-range; then a
# tail of `tail` timestamps stays uncompacted. The kv and kc caches hold
# 256 entries each (StoreOptions defaults); the hot set is 8 (key, ts)
# pairs in 8 (key, bucket) blocks, so it fits both, while reads range over
# the 40,000 live entries.
SERVE = dict(keys=1000, ts=40, width=10, rick=10, outdate_range=40, tail=10,
             hot_keys=8, probes=50, scan_keys=200, scan_ts=12, min_samples=50)


@dataclass
class Plan:
    params: dict
    warm: list
    ops: list

    def text(self):
        lines = [f"set {k} {v}" for k, v in self.params.items()]
        lines += ["warm " + " ".join(map(str, w)) for w in self.warm]
        lines += ["op " + " ".join(map(str, o)) for o in self.ops]
        return "\n".join(lines) + "\n"


def key(i):
    return f"k{i:06d}"


def value(seed, k, ts):
    """The value the generator writes at (key, ts)."""
    return hashlib.sha256(f"{seed}:{k}:{ts}".encode()).hexdigest()[:24]


# user bytes of one entry: key + 8-byte ts + 24-byte value
ENTRY_BYTES = len(key(0)) + 8 + 24


def batch_max_ts():
    """Max ts of each set-up batch the reviewer sees."""
    c = SERVE
    return [ts0 + c["width"] - 1 for ts0 in range(0, c["ts"], c["width"])]


def live_from():
    """First ts retention keeps: the bucket after the last outdate."""
    c = SERVE
    cutoff = 0
    for acts in simulate_reviewer(batch_max_ts(), c["rick"], c["outdate_range"]):
        for a in acts.split():
            if a.startswith("outdate:"):
                cutoff = (int(a.split(":")[1]) + 1) // c["rick"]
    return cutoff * c["rick"]


def plan_store_serve(seed, seconds, cores):
    """Rounds of 8 uniform gets over the compacted live entries, one hot get
    (a kv-cache hit), one get of a hot key at another timestamp of its
    block (a kc-cache hit), one 50-probe multiGet and one time x key
    rectangle scan, in a seeded order.

    The uniform gets follow the reference's read benchmark, which reads
    keys x timestamps of a filled store uniformly. The hot share (2 in 10
    gets on 8 pairs) is an assumption: enough reads to keep both caches
    busy, few enough that the uniform gets hold ranks 11-50 of the 50
    gets. p50 (rank 25) and p80 (rank 40) therefore both measure uncached
    gets (shard and bucket pruning, a block-layer probe, block decode and
    a rick probe), away from the edge to the cached classes; the cache
    hits show in the per-layer metrics."""
    c = SERVE
    rng = random.Random(seed)
    lo, hi = live_from(), c["ts"] + c["tail"]
    # the hot pairs lie in one compacted bucket
    b0 = rng.randrange(lo // c["rick"], c["ts"] // c["rick"]) * c["rick"]
    hot = [(k, b0 + rng.randrange(c["rick"]))
           for k in rng.sample(range(c["keys"]), c["hot_keys"])]
    ops = []
    for _ in range(401):
        rnd = [("get", rng.randrange(c["keys"]), rng.randrange(lo, c["ts"]))
               for _ in range(8)]
        rnd.append(("get",) + rng.choice(hot))
        k, t = rng.choice(hot)
        rnd.append(("get", k, rng.choice([x for x in range(b0, b0 + c["rick"]) if x != t])))
        probes = []
        for _ in range(c["probes"]):
            probes += [rng.randrange(c["keys"]), rng.randrange(lo, hi)]
        rnd.append(("mget",) + tuple(probes))
        k0 = rng.randrange(c["keys"] - c["scan_keys"])
        t0 = rng.randrange(lo, hi - c["scan_ts"])
        rnd.append(("scan", t0, t0 + c["scan_ts"], k0, k0 + c["scan_keys"]))
        rng.shuffle(rnd)
        ops += rnd
    # the first round warms every read path untimed, and every hot
    # pair is read once so both caches hold the hot set before timing
    n = len(rnd)  # requests per round
    warm = ops[:n] + [("get", k, t) for k, t in hot]
    ops = ops[n:]
    params = dict(workload="store_serve", seed=seed, seconds=seconds, cores=cores, round=n,
                  **{k: c[k] for k in ("keys", "ts", "width", "rick", "outdate_range",
                                       "tail", "min_samples")})
    return Plan(params, warm, ops)


def load_slice():
    with open(os.path.join(HERE, "ops_slice.json")) as f:
        return json.load(f)


def plan_ops_sf001(seed, seconds, cores, data_dir):
    """The fixed operator slice in a seeded order, after the warm-up
    operators (outside the slice) that take JIT and planner warm-up out of
    whichever slice operators happen to run first."""
    s = load_slice()
    names = sorted(s["expected_rows"])
    random.Random(seed).shuffle(names)
    params = dict(workload="ops_sf001", seed=seed, seconds=seconds, cores=cores, data=data_dir)
    return Plan(params, [(n,) for n in s["warm"]], [(n,) for n in names])


def simulate_reviewer(max_ts_seq, rick, outdate_range):
    """SimpleTimestampReviewer's actions for each batch's max ts, written
    from its contract: compact once every `rick` units of progress; age
    out whole rick-ranges once `outdate_range` units have accumulated."""
    compacted, outdated, out = 0, 0, []
    for m in max_ts_seq:
        acts = []
        if m - compacted + 1 >= rick:
            acts.append(f"compact:{compacted}:{m}")
            compacted = m + 1
        if m - outdated + 1 >= outdate_range:
            steps = (m - outdated + 1 - outdate_range) // rick + 1
            outdated += steps * rick
            acts.append(f"outdate:{outdated - 1}")
        out.append(" ".join(acts))
    return out
