#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, into
perfbench/target), writes the seeded plan, runs the JVM side
(`perfbench.Main`) on `local[nproc]`, checks every operation's output and
prints the metrics. The last stdout line is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics, or with
`--trace 1` the per-layer ones, each with its unit). Traced runs also
write their spans to perfbench/traces/. Everything a run writes lives
under perfbench/ and its per-run work directory is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import benchlib  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = ROOT / "src" / "main" / "scala"
BUILD = BENCH / ".build"
JVM_TIMEOUT_S = 170
OP_TIMEOUT_S = 60

JVM_OPTS = [
    *(f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")),
    "-Xmx2g", "-Xmn256m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [*sorted(SOURCES.rglob("*.scala")),
             *sorted((BENCH / "src").rglob("*.scala")),
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles program + harness when the sources changed; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if (cp_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    log("building program and harness with sbt")
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={BUILD / 'tmp'}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=700)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError(f"build failed, see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def make_plan(args, work):
    plan = {"workload": args.workload, "trace": bool(args.trace),
            "work_dir": str(work), "data_dir": str(BENCH / "data" / "sf0.01"),
            "op_timeout_s": OP_TIMEOUT_S}
    if args.workload == "news_flow":
        plan["docs_path"] = str(BENCH / "data" / "sf0.1" / "documents.parquet")
        plan["polls"] = benchlib.flow_polls(args.seed, args.seconds)
    else:
        plan["queries"] = benchlib.query_order(args.workload, args.seed)
    return plan


def run_jvm(classpath, plan, work):
    """Runs the JVM side on `plan`; returns (observations, launch time)."""
    (work / "tmp").mkdir(parents=True)
    plan_file, out_file = work / "plan.json", work / "out.json"
    plan_file.write_text(json.dumps(plan))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Main", str(plan_file), str(out_file)]
    launch_us = time.time_ns() // 1000
    with open(work / "jvm.log", "w") as jlog:
        env = dict(os.environ, GRAFT_FIXTURES_DIR=str(ROOT / "fixtures"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM: the JVM runs in its own session
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0 or not out_file.exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"JVM side exited with {code}:\n{tail}")
    return json.loads(out_file.read_text()), launch_us


def metric(value, unit):
    return {"value": value, "unit": unit}


def catalog_result(out, launch_us, expected):
    ops = out["ops"]
    bad = benchlib.catalog_failures(ops, expected)
    first = out["first_timed_us"]
    wall_s = (max(op["end_us"] for op in ops) - first) / 1e6
    for op in ops:
        if op["ok"]:
            print(f"  {op['name']:34s} construct {op['construct_s']:7.3f} s"
                  f"  plan {op['plan_s']:6.3f} s  execute "
                  f"{op['execute_s']:7.3f} s  rows {op['rows']}")
    # the mean, not the median: a cold pass's first query pays the JIT
    # warm-up, so with few, unlike queries the median tracks which query
    # the seed puts in the middle
    op_s = [op["construct_s"] + op["plan_s"] + op["execute_s"]
            for op in ops if op["ok"]]
    e2e = {"setup_s": metric((first - launch_us) / 1e6, "s"),
           "wall_s": metric(wall_s, "s"),
           "op_s": metric(statistics.mean(op_s) if op_s else 0.0, "s")}
    return len(ops), bad, wall_s, e2e


def flow_result(out, launch_us):
    fm = benchlib.flow_metrics(out)
    out["flow"] = fm
    runs = out["runs"]
    bad = [f"persist run at {r['start_s']:.2f}s: {r.get('error')}"
           for r in runs if not r["ok"]]
    checks = benchlib.flow_check(out)
    if not fm["complete"]:
        checks.append("some polls were never persisted")
    if checks:
        bad.append("; ".join(checks))
    print(f"  nominal latency: n={fm['latency_n']} p50={fm['latency_p50']}"
          f" highest supported percentile p{fm['latency_tail_p']}"
          f"={fm['latency_tail']} backlog growing={fm['nominal_growing']}")
    for s in fm["ladder"]:
        print(f"  ladder {s['rate']:7.0f} docs/s: ok={s['ok']} max latency "
              f"{s['max_latency_s']} backlog at due times {s['backlog']}")
    print(f"  highest ladder rate with flat backlog and latency under "
          f"{benchlib.LATENCY_LIMIT_S} s: {fm['ladder_flat_rate']:.0f} docs/s;"
          f" generator late by at most {fm['late_max_s']:.3f} s")
    flow_wall_s = max(r["end_s"] for r in runs) if runs else 0.0
    digest_s = out["digest"].get("s") or 0.0
    print(f"  sustained {fm['sustained_docs_per_s']} docs/s (overload burst "
          f"drained in {fm['burst_drain_s']} s); digest {digest_s} s")
    # a failed operation has no timing: its metrics read 0 and the run
    # reports correct: false
    e2e = {"setup_s": metric((out["first_timed_us"] - launch_us) / 1e6, "s"),
           "wall_s": metric((fm["burst_drain_s"] or 0.0) + digest_s, "s"),
           "op_s": metric(fm["latency_p50"] or 0.0, "s")}
    return len(runs) + 2, bad, flow_wall_s, e2e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (SOURCES / "graft").is_dir():
        log(f"program sources not found under {SOURCES}")
        return 2
    try:
        classpath = build()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 1

    work = BENCH / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out, launch_us = run_jvm(classpath, make_plan(args, work), work)
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"{args.workload} seed {args.seed} on local[{out['cores']}]")
    print("  timeline (s after launch): " + ", ".join(
        f"{k} {(v - launch_us) / 1e6:.2f}"
        for k, v in sorted(out["marks"].items(), key=lambda kv: kv[1])))
    if args.workload == "news_flow":
        attempted, bad, wall_s, e2e = flow_result(out, launch_us)
    else:
        expected = json.loads((BENCH / "expected.json").read_text())
        attempted, bad, wall_s, e2e = catalog_result(
            out, launch_us, expected["queries"])
    print(f"  peak RSS {out['peak_rss_mb']:.0f} MB")
    for b in bad:
        print(f"  FAILED {b}")
    failed = len(bad)
    if args.trace:
        units = {m["name"]: m["unit"] for m in json.loads(
            (ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        metrics = {k: metric(v, units[k]) for k, v in
                   benchlib.per_layer(out, wall_s).items()}
        traces = BENCH / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"workload": args.workload, "seed": args.seed,
                        "end_to_end_traced": e2e, "per_layer": metrics,
                        "spans": out["spans"]}, indent=1))
    else:
        metrics = e2e
    for k, v in metrics.items():
        print(f"  {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
