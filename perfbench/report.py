"""From a run record to checked results and metrics.

The client process records raw facts: timed samples with their results,
and in a traced run the spans, jobs and stages. Everything derived from
them lives here: the percentile rule, span self time, job-to-span
attribution, the correctness checks and both metric sets.
"""
import math
import os

import gen

COMPACT_GROUP = "helixstore-compact-"
FAMILIES = ("ann", "dedup", "doc", "emb", "helix", "knn", "mm", "pipeline", "q",
            "sample", "source", "stream", "text", "ts")


# ---------------------------------------------------------------- helpers

def percentile(values, q):
    """Nearest-rank percentile. Above the median it needs at least ten
    samples beyond the reported rank, so a p90 needs 100 samples."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if q > 0.5 and len(xs) - rank < 10:
        raise ValueError(f"p{q * 100:g} of {len(xs)} samples has "
                         f"{len(xs) - rank} beyond it; needs 10")
    return xs[rank - 1]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_us"], span["end_us"]
    covered = union_length([(max(s, c["start_us"]), min(e, c["end_us"]))
                            for c in children
                            if c["end_us"] > s and c["start_us"] < e])
    return (e - s) - covered


def job_owner(job, span_ids):
    """The span a job is charged to. A background compaction job carries
    the store's job group and, inherited by the compaction thread, the
    property of whatever span was open when that thread was created: the
    group wins. Returns "compact", a span id, or None (unattributed)."""
    if job.get("group", "").startswith(COMPACT_GROUP):
        return "compact"
    sid = job.get("span", "")
    if sid and int(sid) in span_ids:
        return int(sid)
    return None


def family(name):
    head = name.split("_")[0]
    return "q" if head[0] == "q" and (head == "q" or head[1:].isdigit()) else head


def artifact_prefix(staged_dir):
    """`helixq2-0cbb6590e2e86307` -> `helixq2`."""
    return staged_dir.split("-")[0]


# ------------------------------------------------------------------ checks

def check(workload, rec, plan):
    """Compare every result with what the generator wrote. Returns
    (attempted, failed, notes)."""
    samples, counters = rec["samples"], rec["counters"]
    seed = plan.params["seed"]
    failed, notes = 0, []

    def bad(why):
        nonlocal failed
        failed += 1
        if len(notes) < 5:
            notes.append(why)

    attempted = len(samples)
    for x in samples:
        if x["result"].startswith("ERROR"):
            bad(f"{x['op']} {x['tag']}: {x['result'][:200]}")
    if workload == "store_serve":
        c = gen.SERVE
        puts = [x for x in samples if x["op"] == "put"]
        want = gen.simulate_reviewer(gen.batch_max_ts(), c["rick"], c["outdate_range"])
        if len(puts) != len(want):
            bad(f"{len(puts)} set-up batches, expected {len(want)}")
        for x, w in zip(puts, want):
            if not x["result"].startswith("ERROR") and x["result"] != w:
                bad(f"put {x['tag']}: actions {x['result']!r}, expected {w!r}")
        for x in samples:
            if x["result"].startswith("ERROR") or x["op"] == "put":
                continue
            args = list(map(int, x["tag"].split()))
            if x["op"] == "get":
                if x["result"] != gen.value(seed, gen.key(args[0]), args[1]):
                    bad(f"get {x['tag']}: wrong value")
            elif x["op"] == "mget":
                want_v = [gen.value(seed, gen.key(k), t)
                          for k, t in zip(args[0::2], args[1::2])]
                if x["result"].split(",") != want_v:
                    bad(f"multiGet of {len(want_v)} probes: wrong values")
            elif x["op"] == "scan":
                t0, t1, k0, k1 = args
                if int(x["result"]) != (t1 - t0) * (k1 - k0):
                    bad(f"scan {x['tag']}: {x['result']} rows, "
                        f"expected {(t1 - t0) * (k1 - k0)}")
        # retention: the full scan counts the live entries only, and an
        # entry of the aged-out bucket reads as absent
        live = c["keys"] * (c["ts"] + c["tail"] - gen.live_from())
        attempted += 2
        if int(counters["live_rows"]) != live:
            bad(f"full scan: {counters['live_rows']} rows, expected {live}")
        if counters["aged_get"] != "null":
            bad(f"get of an aged-out entry returned {counters['aged_get']!r}")
    elif workload == "ops_sf001":
        expected = gen.load_slice()["expected_rows"]
        ran = {x["tag"] for x in samples}
        for name in expected:
            if name not in ran:
                bad(f"{name}: not run")
        for x in samples:
            if not x["result"].startswith("ERROR") and \
                    int(x["result"]) != expected[x["tag"]]:
                bad(f"{x['tag']}: {x['result']} rows, expected {expected[x['tag']]}")
        attempted += 1
        if int(counters["timed_builds"]) != 0:
            bad(f"{counters['timed_builds']} artifacts built during the timed pass")
    return attempted, failed, notes


# ----------------------------------------------------- end-to-end metrics

PRIMARY = {"store_serve": "get", "ops_sf001": "query"}


def rows_of(s):
    """Rows a timed read returned; 0 for set-up puts."""
    r = s["result"]
    if r.startswith("ERROR"):
        return 0
    if s["op"] == "get":
        return 0 if r == "null" else 1
    if s["op"] == "mget":
        return sum(1 for v in r.split(",") if v != "null")
    if s["op"] in ("scan", "query"):
        return int(r)
    return 0


def end_to_end(workload, rec, data_dir):
    samples, counters = rec["samples"], rec["counters"]
    lat = [(x["end_us"] - x["start_us"]) / 1e3 for x in samples
           if x["op"] == PRIMARY[workload]]
    loop_s = (rec["loop_end_us"] - rec["loop_start_us"]) / 1e6
    rows = sum(rows_of(x) for x in samples)
    if workload == "store_serve":
        on_disk = int(counters["store_bytes"])
        user = int(counters["live_rows"]) * gen.ENTRY_BYTES
    else:
        on_disk = int(counters["stage_bytes"])
        user = sum(os.path.getsize(os.path.join(data_dir, f))
                   for f in os.listdir(data_dir) if f.endswith(".parquet"))
    return {
        "setup_s": rec["loop_start_us"] / 1e6 - rec["jvm_start_ms"] / 1e3,
        "p50_ms": percentile(lat, 0.5),
        "p80_ms": percentile(lat, 0.8),
        "rows_per_s": rows / loop_s,
        "bytes_per_user_byte": on_disk / user,
    }


# ------------------------------------------------------ per-layer metrics

def per_layer_names(artifact_prefixes):
    names = [
        "store.put.busy_s", "store.put.jobs_per_call", "store.put.files_per_call",
        "store.outdate.busy_s",
        "lifecycle.put_reviewed.p50_ms", "lifecycle.put_reviewed.jobs_per_call",
        "lifecycle.compact_actions",
        "lifecycle.outdate_actions",
        "store.compact.busy_s", "store.compact.task_s", "store.compact.overlap_share",
        "store.await_s", "store.write_bytes_per_user_byte",
        "store.get.busy_s", "store.get.p50_ms", "store.get.jobs_per_call",
        "store.get.input_bytes_per_call", "store.get.zero_job_share", "store.get.kc_hits",
        "store.multiget.p50_ms", "store.multiget.jobs_per_call",
        "store.multiget.input_bytes_per_call",
        "store.scan.rows_per_s", "store.scan.jobs_per_call", "store.scan.input_bytes_per_row",
        "store.scan.shuffle_bytes_per_row", "store.scan.task_s_per_row",
        "ops.plan_s", "ops.plan_share", "ops.plan_jobs", "ops.schema_jobs",
        "ops.exec_s", "ops.task_s", "ops.gc_s", "ops.shuffle_bytes", "ops.input_bytes",
        "ops.jobs", "ops.stages", "ops.tasks", "ops.idle_share", "ops.query.self_s",
    ]
    for f in FAMILIES:
        names += [f"ops.{f}.plan_s", f"ops.{f}.exec_s"]
    names += ["staging.build_s"]
    names += [f"staging.{p}.build_s" for p in artifact_prefixes]
    names += ["staging.timed_builds", "spark.session_s", "spark.unattributed_task_s"]
    return names


class Trace:
    """Jobs and stages of a traced run, charged to spans."""

    def __init__(self, rec):
        self.spans = rec["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        stages = {st["id"]: st for st in rec["stages"]}
        # a stage's tasks run once; a later job that lists it skipped it
        first_job = {}
        for j in sorted(rec["jobs"], key=lambda j: j["id"]):
            for sid in j["stages"]:
                first_job.setdefault(sid, j["id"])
        self.jobs = rec["jobs"]
        self.owner = {j["id"]: job_owner(j, self.by_id) for j in self.jobs}
        self.job_stages = {j["id"]: [stages[s] for s in j["stages"]
                                     if first_job[s] == j["id"] and s in stages]
                           for j in self.jobs}

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def jobs_of(self, owner_ids):
        return [j for j in self.jobs if self.owner[j["id"]] in owner_ids]

    def stage_sum(self, jobs, field):
        return sum(st[field] for j in jobs for st in self.job_stages[j["id"]])

    def per_call(self, name, field):
        """(calls, jobs per call, `field` summed per call) for a leaf span."""
        spans = self.named(name)
        jobs = self.jobs_of({s["id"] for s in spans})
        n = max(1, len(spans))
        return len(spans), len(jobs) / n, self.stage_sum(jobs, field) / n


def dur_s(spans):
    return sum(s["end_us"] - s["start_us"] for s in spans) / 1e6


def per_layer(workload, rec, cores, artifact_prefixes):
    t = Trace(rec)
    samples, counters = rec["samples"], rec["counters"]
    m = dict.fromkeys(per_layer_names(artifact_prefixes), 0.0)

    def lat_ms(op):
        xs = [(s["end_us"] - s["start_us"]) / 1e3 for s in samples if s["op"] == op]
        return percentile(xs, 0.5) if xs else 0.0

    # store.put: the tail put is its own span. Inside putReviewed the
    # store's write is every job after the max-ts probe job (`head at
    # Lifecycle.scala`), and its time runs from the probe's end to the end
    # of the last write job. What follows is the reviewer's actions: an
    # outdate takes the compaction mutex, so it waits for a background
    # blockCompact the same call may just have scheduled; that time is
    # store.outdate.busy_s, not write time.
    put_spans = t.named("store.put")
    pr_spans = t.named("lifecycle.put_reviewed")
    pr_jobs = t.jobs_of({s["id"] for s in pr_spans})
    probes = {j["id"] for j in pr_jobs if j["first_stage"].startswith("head at Lifecycle")}
    write_jobs = [j for j in pr_jobs if j["id"] not in probes]
    probe_end, write_end = {}, {}
    for j in pr_jobs:
        ends = probe_end if j["id"] in probes else write_end
        ends[t.owner[j["id"]]] = max(ends.get(t.owner[j["id"]], 0), j["end_ms"] * 1000)
    actions = {s["tag"]: s["result"] for s in samples if s["op"] == "put"}
    put_jobs = t.jobs_of({s["id"] for s in put_spans}) + write_jobs
    put_calls = len(put_spans) + len(pr_spans)
    write = {}  # putReviewed span id -> (write start, write end)
    for s in pr_spans:
        w0 = probe_end.get(s["id"], s["start_us"])
        write[s["id"]] = (w0, write_end.get(s["id"], w0))
    if put_calls:
        m["store.put.busy_s"] = dur_s(put_spans) + sum(
            e - b for b, e in write.values()) / 1e6
        m["store.put.jobs_per_call"] = len(put_jobs) / put_calls
        m["store.put.files_per_call"] = int(counters.get("put_files", 0)) / put_calls
    m["store.outdate.busy_s"] = sum(
        s["end_us"] - write[s["id"]][1] for s in pr_spans
        if "outdate:" in actions.get(s["tag"], "")) / 1e6
    if pr_spans:
        m["lifecycle.put_reviewed.p50_ms"] = lat_ms("put")
        m["lifecycle.put_reviewed.jobs_per_call"] = len(pr_jobs) / len(pr_spans)
        acts = " ".join(actions.values()).split()
        m["lifecycle.compact_actions"] = sum(a.startswith("compact:") for a in acts)
        m["lifecycle.outdate_actions"] = sum(a.startswith("outdate:") for a in acts)

    # compaction runs in the background: its jobs carry the store's group
    bg = t.jobs_of({"compact"})
    spans_bg = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in bg]
    m["store.compact.busy_s"] = union_length(spans_bg) / 1e6
    m["store.compact.task_s"] = t.stage_sum(bg, "run_ms") / 1e3
    if pr_spans and spans_bg:
        m["store.compact.overlap_share"] = sum(
            any(s["start_us"] < e and b < s["end_us"] for b, e in spans_bg)
            for s in pr_spans) / len(pr_spans)
    m["store.await_s"] = dur_s(t.named("store.await"))
    if workload == "store_serve":
        c = gen.SERVE
        written = c["keys"] * (c["ts"] + c["tail"]) * gen.ENTRY_BYTES
        m["store.write_bytes_per_user_byte"] = \
            t.stage_sum(put_jobs + bg, "output_bytes") / written

    n, jpc, inb = t.per_call("store.get", "input_bytes")
    if n:
        gets = t.named("store.get")
        with_jobs = {t.owner[j["id"]] for j in t.jobs_of({s["id"] for s in gets})}
        m["store.get.busy_s"] = dur_s(gets)
        m["store.get.p50_ms"] = lat_ms("get")
        m["store.get.jobs_per_call"] = jpc
        m["store.get.input_bytes_per_call"] = inb
        m["store.get.zero_job_share"] = sum(s["id"] not in with_jobs for s in gets) / n
    m["store.get.kc_hits"] = int(counters.get("kc_hits", 0))
    n, jpc, inb = t.per_call("store.multiget", "input_bytes")
    if n:
        m["store.multiget.p50_ms"] = lat_ms("mget")
        m["store.multiget.jobs_per_call"] = jpc
        m["store.multiget.input_bytes_per_call"] = inb
    scans = t.named("store.scan")
    if scans:
        rows = sum(rows_of(s) for s in samples if s["op"] == "scan")
        jobs = t.jobs_of({s["id"] for s in scans})
        m["store.scan.rows_per_s"] = rows / dur_s(scans)
        m["store.scan.jobs_per_call"] = len(jobs) / len(scans)
        m["store.scan.input_bytes_per_row"] = t.stage_sum(jobs, "input_bytes") / rows
        m["store.scan.shuffle_bytes_per_row"] = \
            t.stage_sum(jobs, "shuffle_write_bytes") / rows
        m["store.scan.task_s_per_row"] = t.stage_sum(jobs, "run_ms") / 1e3 / rows

    # operators: plan build and execution spans under each ops.query
    plans, execs = t.named("ops.plan"), t.named("ops.exec")
    if plans:
        plan_jobs = t.jobs_of({s["id"] for s in plans})
        ops_jobs = t.jobs_of({s["id"] for s in plans + execs + t.named("ops.query")})
        m["ops.plan_s"] = dur_s(plans)
        m["ops.exec_s"] = dur_s(execs)
        m["ops.plan_share"] = m["ops.plan_s"] / (m["ops.plan_s"] + m["ops.exec_s"])
        m["ops.plan_jobs"] = len(plan_jobs)
        m["ops.schema_jobs"] = sum(j["first_stage"].startswith("parquet at")
                                   for j in plan_jobs)
        m["ops.task_s"] = t.stage_sum(ops_jobs, "run_ms") / 1e3
        m["ops.gc_s"] = t.stage_sum(ops_jobs, "gc_ms") / 1e3
        m["ops.shuffle_bytes"] = t.stage_sum(ops_jobs, "shuffle_write_bytes")
        m["ops.input_bytes"] = t.stage_sum(ops_jobs, "input_bytes")
        m["ops.jobs"] = len(ops_jobs)
        m["ops.stages"] = sum(len(t.job_stages[j["id"]]) for j in ops_jobs)
        m["ops.tasks"] = t.stage_sum(ops_jobs, "tasks")
        wall = (rec["loop_end_us"] - rec["loop_start_us"]) / 1e6
        m["ops.idle_share"] = 1 - m["ops.task_s"] / (wall * cores)
        m["ops.query.self_s"] = sum(self_time(q, t.children.get(q["id"], []))
                                    for q in t.named("ops.query")) / 1e6
        for s in plans:
            m[f"ops.{family(s['tag'])}.plan_s"] += (s["end_us"] - s["start_us"]) / 1e6
        for s in execs:
            m[f"ops.{family(s['tag'])}.exec_s"] += (s["end_us"] - s["start_us"]) / 1e6
    staged = counters.get("staged") or {}
    m["staging.build_s"] = sum(staged.values())
    for d, secs in staged.items():
        m[f"staging.{artifact_prefix(d)}.build_s"] += secs
    m["staging.timed_builds"] = int(counters.get("timed_builds", 0))
    m["spark.session_s"] = rec["session_ready_us"] / 1e6 - rec["jvm_start_ms"] / 1e3
    m["spark.unattributed_task_s"] = t.stage_sum(t.jobs_of({None}), "run_ms") / 1e3
    return m


UNITS = (("bytes_per_call", "bytes"), ("bytes_per_row", "bytes"),
         ("task_s_per_row", "s"), ("per_user_byte", "ratio"), ("per_call", "count"),
         ("rows_per_s", "rows/s"), ("share", "ratio"), ("_ms", "ms"), ("_s", "s"),
         ("bytes", "bytes"), ("kc_hits", "count"), ("actions", "count"),
         ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("timed_builds", "count"))


def unit_of(name):
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    raise KeyError(name)
