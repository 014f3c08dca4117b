#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <ingest|dashboard|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the benchmark's JVM side
(see build.py), runs the workload in a fresh work directory that is
deleted afterwards, checks every output (in the JVM against the
generator's ground truth, and here against DuckDB), and prints as its
last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`. The line before it carries the
run's details: calibration probes, set-up parts, session conf, nproc.

A traced run also keeps its span file and an overhead table (traced
minus untraced end-to-end metrics, against the last untraced run of the
same workload) under `.bench_out/<workload>/`.

Exits 1 when an output is wrong, 2 when the run could not be made.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

WORKLOADS = ("ingest", "dashboard", "curation")
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fatal(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fatal("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_path.read_text())
    try:
        classpath = build.build()
    except build.BuildError as e:
        fatal(str(e))

    out_dir = ROOT / ".bench_out" / a.workload
    out_dir.mkdir(parents=True, exist_ok=True)
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        res = run_jvm(a, classpath, work)
        if a.trace:
            shutil.copy(work / "spans.jsonl", out_dir / f"spans-{a.seed}.jsonl")
        failures = list(res["failures"])
        failed = int(res["failed"])
        failed += check_outputs(res, failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if not a.trace:
                failures.append(f"metric {m['name']} was not measured")
                failed += 1
            v = 0.0  # a per-layer metric this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "named": res["named"], "setup": res["setup"], "info": res["info"],
              "failures": failures[:20]}
    if a.trace:
        detail["overhead"] = overhead(res, out_dir, a.seed)
    else:
        (out_dir / "last-untraced.json").write_text(json.dumps(res["e2e"]))
    (out_dir / f"detail-{a.seed}-{a.trace}.json").write_text(json.dumps(detail, indent=1))
    for f in failures[:20]:
        print(f"[perfbench] FAIL {f}", file=sys.stderr)
    attempted = max(1, int(res["attempted"]))
    correct = failed == 0
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


def run_jvm(a, classpath: str, work: Path) -> dict:
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work),
            str(BENCH / "config.json")]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=str(work))
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fatal(f"workload did not finish within {JVM_TIMEOUT_S} s\n" + tail(log))
    result = work / "result.json"
    if p.returncode != 0 or not result.exists():
        fatal(f"JVM exited with {p.returncode}\n" + tail(log))
    return json.loads(result.read_text())


def tail(path: Path, n: int = 40) -> str:
    try:
        return "\n".join(path.read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def check_outputs(res: dict, failures: list) -> int:
    """DuckDB checks; returns the number of units they found wrong."""
    from oracle import Checker
    checker = Checker()
    bad = 0
    for c in res["checks"]:
        try:
            why = checker.oracle(c) if c["kind"] == "oracle" else checker.panel(c)
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check raised {type(e).__name__}: {e}"
        if why:
            label = c.get("name") or f"request {c.get('id')} {c.get('panel')}"
            failures.append(f"{label}: {why}")
            bad += int(c.get("units", 1))
    return bad


def overhead(res: dict, out_dir: Path, seed: int) -> dict:
    """Traced minus untraced end-to-end metrics, as a share of untraced."""
    base = out_dir / "last-untraced.json"
    if not base.exists():
        return {}
    untraced = json.loads(base.read_text())
    table = {k: (res["e2e"][k] - v) / v for k, v in untraced.items()
             if v and res["e2e"].get(k) is not None}
    (out_dir / f"overhead-{seed}.json").write_text(json.dumps(table, indent=1))
    return table


if __name__ == "__main__":
    main()
