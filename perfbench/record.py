#!/usr/bin/env python3
"""Re-record perfbench/expected.json: the (rows, hash) each catalog query
must produce under the benchmark's session settings.

    python3 perfbench/record.py

Runs every catalog query once through the JVM side in record mode, which
also writes each result as parquet. A query with an oracle is recorded
only when its result equals the DuckDB oracle over the same tables (the
comparison of tools/check.py); a query without one records its own
value. Any oracle mismatch aborts without writing, except for the
queries whose output is a fingerprint that `spark.graft.fasthash` changes
by design: those must match their oracle with fasthash off, and record
their fasthash value.
"""
import contextlib
import io
import json
import re
import shutil
import sys

sys.dont_write_bytecode = True
import benchlib  # noqa: E402
import run  # noqa: E402

sys.path.insert(0, str(run.ROOT / "tools"))
import check  # noqa: E402


FASTHASH_FINGERPRINTS = {"t05_winnow_fingerprint"}
DATA = run.BENCH / "data" / "sf0.01"


def record(classpath, names, conf):
    """Runs `names` in record mode; returns (ops by name, names whose
    result equals their oracle)."""
    work = run.BENCH / ".work" / "record"
    shutil.rmtree(work, ignore_errors=True)
    plan = {"workload": "record", "trace": False, "work_dir": str(work),
            "data_dir": str(DATA), "record_dir": str(work / "results"),
            "queries": names, "conf": conf}
    try:
        out, _ = run.run_jvm(classpath, plan, work)
        ops = {op["name"]: op for op in out["ops"]}
        failed = [n for n, op in ops.items() if not op["ok"]]
        if failed:
            sys.exit(f"queries failed: {failed}")
        oracles = {n: op["oracle"] for n, op in ops.items() if op["oracle"]}
        (work / "results" / "oracle_sql.json").write_text(json.dumps(oracles))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check.compare(str(DATA), str(work / "results"))
        print(buf.getvalue())
        return ops, set(re.findall(r"^ok\s+(\S+)", buf.getvalue(), re.M))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    classpath = run.build()
    names = [q for qs in benchlib.CATALOGS.values() for q in qs]
    ops, passed = record(classpath, names, {})
    oracles = {n for n, op in ops.items() if op["oracle"]}
    fp = sorted((oracles - passed) & FASTHASH_FINGERPRINTS)
    if fp:
        _, fp_passed = record(classpath, fp, {"spark.graft.fasthash": "false"})
        passed |= fp_passed
    bad = sorted(oracles - passed)
    if bad:
        sys.exit(f"oracle mismatch, nothing recorded: {bad}")
    expected = {
        "data": "data/sf0.01",
        "session": {"spark.graft.fasthash": "true",
                    "spark.graft.validation.cap.docs": "5000",
                    "spark.graft.validation.cap.vecs": "2000"},
        "queries": {n: {"rows": op["rows"], "hash": op["hash"],
                        "source": source(n, op)}
                    for n, op in sorted(ops.items())},
    }
    (run.BENCH / "expected.json").write_text(json.dumps(expected, indent=1)
                                             + "\n")
    print(f"recorded {len(ops)} queries, {len(oracles)} oracle-checked")


def source(name, op):
    if not op["oracle"]:
        return "self"
    if name in FASTHASH_FINGERPRINTS:
        return "oracle with fasthash off; fasthash value recorded"
    return "oracle"


if __name__ == "__main__":
    main()
