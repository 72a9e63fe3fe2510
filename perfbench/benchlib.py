"""Workload plans, metrics and output checks for the benchmark.

Pure functions over plain data: `run.py` feeds them the plan it wrote and
the raw observations the JVM side returned. The tests in
`test_benchlib.py` exercise them without Spark.
"""
import math
import random
import statistics

# Three of ROADMAP item 4's iterative targets, one per mechanism: the
# dedup cascade's driver loop over localCheckpointed rounds, the LSH
# tuning sweep and the MLlib fit. Most of their time is inside `Q.run`.
# g03, g11 and s18 are left out because they write their projection and
# index memos under a fixed /tmp root; the other four to fit a cold pass
# into the run budget.
CATALOG_ITERATIVE = [
    "d11_dedup_cascade", "d20_lsh_tuning", "ml01_mllib_classify",
]

# Every fourth query of the q, st and t families, plus the three that run
# `NewsPipeline.classify` over a whole table (n03, n05, n06; news_flow
# runs it once per poll). `Q.run` only reads parquet schemas here, so the
# final frame's execution is most of the time.
CATALOG_SINGLE_PASS = [
    "q01_pricing_summary", "q05_region_volume", "q09_cube",
    "q13_scalar_pack", "q17_pivot", "q21_window_analytics",
    "q25_order_count_histogram",
    "n03_keyword_classify", "n05_digest", "n06_route_categories",
    "st01_tumbling_window", "st05_interval_join", "st09_cdc_apply",
    "t01_token_stats", "t05_winnow_fingerprint", "t09_hash_split",
]

CATALOGS = {
    "catalog_iterative": CATALOG_ITERATIVE,
    "catalog_single_pass": CATALOG_SINGLE_PASS,
}
WORKLOADS = ["news_flow", *CATALOGS]

# news_flow schedule: one poll per trigger interval (the reference's 1 s
# trigger), open loop. Warm-up polls count in set-up time; the nominal
# phase gives the latency sample; the ladder's last step offers more than
# a run can take in one interval and gives the sustained rate. The
# nominal and ladder phases fill the run's measured seconds, less
# DRAIN_S for the last ladder poll; at least 20 nominal polls, the least
# that puts ten samples beyond the median.
#
# The nominal poll is 1000 documents, the poll size the flow was sized
# at. The ladder steps are multiples of it, placed by the measured cost
# of a persist run on 4 cores (about 0.6 s fixed plus 0.07 ms a
# document, so one run takes about 6000 documents in a 1 s interval):
# 4x stays within one interval, 16x does not.
INTERVAL_S = 1.0
NOMINAL_DOCS = 1000
WARMUP_POLLS = 8
MIN_NOMINAL_POLLS = 20
LADDER = [(4 * NOMINAL_DOCS, 2), (16 * NOMINAL_DOCS, 2)]  # (docs, polls)
DRAIN_S = 2
LATENCY_LIMIT_S = 2 * INTERVAL_S
DOC_POOL = 5000  # rows of the sf0.1 documents table

PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def nominal_polls(seconds):
    ladder = sum(n for _, n in LADDER)
    return max(MIN_NOMINAL_POLLS, int(seconds / INTERVAL_S) - ladder - DRAIN_S)


def flow_polls(seed, seconds):
    """The seeded poll schedule: (phase, due_s, doc row positions)."""
    rng = random.Random(seed)
    sizes = ([("warmup", NOMINAL_DOCS)] * WARMUP_POLLS
             + [("nominal", NOMINAL_DOCS)] * nominal_polls(seconds)
             + [(f"ladder{docs}", docs) for docs, n in LADDER
                for _ in range(n)])
    return [{"phase": phase, "due_s": i * INTERVAL_S,
             "docs": [rng.randrange(DOC_POOL) for _ in range(n)]}
            for i, (phase, n) in enumerate(sizes)]


def query_order(workload, seed):
    """The catalog's queries in the seeded order of this run."""
    order = list(CATALOGS[workload])
    random.Random(seed).shuffle(order)
    return order


# ------------------------------------------------------------- statistics

def samples_beyond(n, p):
    """Samples strictly above the p-th percentile's nearest rank."""
    return n - math.ceil(p / 100 * n)


def supported_percentile(n, candidates=PERCENTILES, beyond=MIN_BEYOND):
    """The highest candidate percentile with at least `beyond` samples
    above it, or None when even the lowest lacks them."""
    ok = [p for p in candidates if samples_beyond(n, p) >= beyond]
    return max(ok) if ok else None


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


# ----------------------------------------------------------------- flow

def completions(poll_docs, runs):
    """For each poll, the end time of the persist run that completed it
    (None if none did).

    Runs take the input files in arrival order, so a poll is done when
    the running total of persisted rows reaches its cumulative end. A run
    may take part of a poll's files; the poll then completes in a later
    run."""
    ends = [None] * len(poll_docs)
    done, k, need = 0, 0, 0
    for r in runs:
        if not r["ok"]:
            continue
        done += r["rows"]
        while k < len(poll_docs) and need + poll_docs[k] <= done:
            need += poll_docs[k]
            ends[k] = r["end_s"]
            k += 1
    return ends


def latencies(polls, ends):
    """Due-time latency: from when a poll was due, not when the generator
    managed to write it, to the end of the run that persisted it."""
    return [e - p["due_s"] if e is not None else None
            for p, e in zip(polls, ends)]


def backlog_at(t, polls, ends):
    """Documents due before `t` (the poll due at `t` excluded) that no run
    had persisted by `t`."""
    return sum(p["docs"] for p, e in zip(polls, ends)
               if p["due_s"] < t and (e is None or e > t))


def backlog_growing(samples, poll_docs):
    """Backlog verdict over one phase: growing when the second half's mean
    backlog exceeds the first half's by more than half a poll."""
    if len(samples) < 2:
        return False
    h = len(samples) // 2
    first, second = samples[:h], samples[len(samples) - h:]
    return statistics.mean(second) - statistics.mean(first) > 0.5 * poll_docs


def flow_metrics(out):
    """End-to-end and generator numbers of one news_flow run."""
    polls = out["polls"]
    docs = [p["docs"] for p in polls]
    ends = completions(docs, out["runs"])
    lat = latencies(polls, ends)

    def phase(name):
        return [i for i, p in enumerate(polls) if p["phase"] == name]

    nominal = phase("nominal")
    nom_lat = [lat[i] for i in nominal if lat[i] is not None]
    steps = []
    for docs_per_poll, _ in LADDER:
        idx = phase(f"ladder{docs_per_poll}")
        step_lat = [lat[i] for i in idx]
        samples = [backlog_at(polls[i]["due_s"], polls, ends) for i in idx]
        ok = (None not in step_lat
              and not backlog_growing(samples, docs_per_poll)
              and max(step_lat) < LATENCY_LIMIT_S)
        steps.append({"rate": docs_per_poll / INTERVAL_S, "ok": ok,
                      "max_latency_s": max(
                          (x for x in step_lat if x is not None), default=None),
                      "backlog": samples})
    top = phase(f"ladder{LADDER[-1][0]}")
    top_ends = [ends[i] for i in top]
    burst_s = sustained = None
    if top and None not in top_ends:
        burst_s = max(top_ends) - polls[top[0]]["due_s"]
        sustained = sum(docs[i] for i in top) / burst_s
    nominal_backlog = [backlog_at(polls[i]["due_s"], polls, ends)
                       for i in nominal]
    tail_p = supported_percentile(len(nom_lat))
    return {
        "complete": None not in ends,
        "latency_n": len(nom_lat),
        "latency_p50": percentile(nom_lat, 50) if nom_lat else None,
        "latency_tail_p": tail_p,
        "latency_tail": percentile(nom_lat, tail_p) if tail_p else None,
        "nominal_growing": backlog_growing(nominal_backlog, NOMINAL_DOCS),
        "ladder": steps,
        "ladder_flat_rate": max((s["rate"] for s in steps if s["ok"]),
                                default=0.0),
        "burst_drain_s": burst_s,
        "sustained_docs_per_s": sustained,
        "late_max_s": max(p["written_s"] - p["due_s"] for p in polls),
        "backlog_docs": max(nominal_backlog, default=0),
    }


def flow_check(out):
    """The four news_flow checks; returns a list of failure messages."""
    c, d = out["check"], out["digest"]
    bad = []
    if c["persisted_rows"] != c["sent_docs"]:
        bad.append(f"persisted {c['persisted_rows']} rows of "
                   f"{c['sent_docs']} sent")
    if c["persisted_by_cat"] != c["batch_by_cat"]:
        bad.append(f"per-category counts {c['persisted_by_cat']} != batch "
                   f"classify {c['batch_by_cat']}")
    if not d["ok"]:
        bad.append(f"digest failed: {d.get('error')}")
    else:
        if d["records"] != 7:
            bad.append(f"{d['records']} digest records, expected 7")
        if d["bullets"] != c["batch_bullets"]:
            bad.append(f"digest bullets {d['bullets']} != "
                       f"{c['batch_bullets']}")
    return bad


# -------------------------------------------------------------- catalog

def hash_matches(op, expected):
    """An executed query's output against its stored (rows, hash)."""
    exp = expected.get(op["name"])
    return (exp is not None and op["ok"]
            and op["rows"] == exp["rows"] and op["hash"] == exp["hash"])


def catalog_failures(ops, expected):
    bad = []
    for op in ops:
        if not op["ok"]:
            bad.append(f"{op['name']}: {op.get('error')}")
        elif not hash_matches(op, expected):
            exp = expected.get(op["name"], {})
            bad.append(f"{op['name']}: rows/hash {op['rows']}/{op['hash']} "
                       f"!= expected {exp.get('rows')}/{exp.get('hash')}")
    return bad


# ------------------------------------------------------------ per layer

def _spans(out, name):
    return [s for s in out["spans"] if s["name"] == name]


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def _count(spans, key):
    return sum(s.get("counts", {}).get(key, 0) for s in spans)


def per_layer(out, wall_s):
    """Per-layer numbers from a traced run. Metrics of a layer that a
    workload does not exercise read 0."""
    m = {}
    construct = _spans(out, "ops.construct")
    m["ops.construct_s"] = sum(map(_dur, construct))
    m["ops.construct_jobs"] = _count(construct, "jobs")
    ops = out.get("ops", [])
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_s"] = sum(o.get("phases_ms", {}).get(ph, 0)
                                 for o in ops) / 1000
    ex = _spans(out, "exec.execute")
    execute_s = sum(map(_dur, ex))
    cpu = _count(ex, "cpu_ns") / 1e9
    m["exec.execute_s"] = execute_s
    m["exec.jobs"] = _count(ex, "jobs")
    m["exec.stages"] = _count(ex, "stages")
    m["exec.tasks"] = _count(ex, "tasks")
    m["exec.cpu_s"] = cpu
    m["exec.gc_s"] = _count(ex, "gc_ms") / 1000
    m["exec.busy_frac"] = (_count(ex, "run_ms") / 1000
                           / (execute_s * out["cores"]) if execute_s else 0.0)
    m["exec.shuffle_write_bytes"] = _count(ex, "shuffle_write_bytes")
    m["exec.spill_bytes"] = _count(ex, "spill_bytes")
    m["exec.one_task_stage_cpu_frac"] = (
        _count(ex, "one_task_stage_cpu_ns") / 1e9 / cpu if cpu else 0.0)

    runs = [r for r in out.get("runs", []) if r["ok"]]

    def dur(r, *keys):
        return sum(r["duration_ms"].get(k, 0) for k in keys)

    run_s = [r["end_s"] - r["start_s"] for r in runs]
    m["streaming.run_s_p50"] = median(run_s)
    m["streaming.start_stop_s_p50"] = median(
        [s - dur(r, "triggerExecution") / 1000 for s, r in zip(run_s, runs)])
    m["streaming.planning_ms_p50"] = median(
        [dur(r, "queryPlanning") for r in runs])
    m["streaming.add_batch_ms_p50"] = median([dur(r, "addBatch") for r in runs])
    m["streaming.wal_commit_ms_p50"] = median(
        [dur(r, "walCommit", "commitOffsets") for r in runs])
    m["streaming.docs_per_run_p50"] = median([r["rows"] for r in runs])
    m["streaming.runs"] = len(runs)
    fm = out.get("flow")
    m["streaming.sustained_docs_per_s"] = (
        fm["sustained_docs_per_s"] or 0.0) if fm else 0.0
    sink = out.get("sink", {})
    m["sink.files_written"] = sink.get("files", 0)
    m["sink.bytes_written"] = sink.get("bytes", 0)
    dg = _spans(out, "digest.digest")
    m["digest.wall_s"] = out.get("digest", {}).get("s", 0.0)
    m["digest.files_read"] = sum(s.get("files_read", 0) for s in dg)
    m["digest.jobs"] = _count(dg, "jobs")
    m["digest.cpu_s"] = _count(dg, "cpu_ns") / 1e9
    m["gen.late_max_s"] = fm["late_max_s"] if fm else 0.0
    m["gen.backlog_docs"] = fm["backlog_docs"] if fm else 0
    m["trace.overhead_frac"] = out["trace_cost_s"] / wall_s if wall_s else 0.0
    return m
