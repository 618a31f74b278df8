#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tabular|ingest --seed N --seconds S --trace 0|1

Run from the checkout root. Builds the program (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py, outside the timed
region), runs one Spark process as local[nproc] (perfbench/src), checks
the outputs, and prints two lines on stdout: a detail object (sample
counts, run health, output check, tracing overhead) and, last, the
result object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Workload definitions live in perfbench/spec.json.
Exits non-zero without a result line if the program cannot be built or
run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check  # noqa: E402

SPEC = json.loads((HERE / "spec.json").read_text())
BENCHMARK = json.loads((build.ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("tabular", "ingest")
DEADLINE_S = 165  # per run, not counting the build
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# Per-layer metrics that a workload has no such layer for, and why. On
# ingest, queries.* time the two front-door frames built before the stream
# starts and pins.* the one sweep of set-up.
ABSENT = {
    "tabular": {"streaming.*": "no streaming query runs",
                "loadgen.*": "closed loop: there is no arrival schedule"},
    "ingest": {"catalyst.analysis_s": "micro-batches re-plan inside the stream; only "
                                      "queryPlanning is reported",
               "catalyst.optimizer_s": "as catalyst.analysis_s"},
}


def absent(workload: str, name: str) -> float:
    for pattern in ABSENT[workload]:
        if name == pattern or (pattern.endswith("*") and name.startswith(pattern[:-1])):
            return 0.0
    raise SystemExit(f"{workload}: harness reported no {name}")


def jobs_by_query(spans_file: Path) -> dict:
    """Jobs fired while building vs while executing, per query of the
    traced passes; only queries that fire jobs at construction."""
    spans = json.loads(spans_file.read_text())
    query = {s["op"]: s["name"] for s in spans if s["parent"] == 0}
    out = {}
    for s in spans:
        if s["layer"] != "catalyst" and s["name"] in ("construct", "execute"):
            q = out.setdefault(query[s["op"]], {"construct": 0, "execute": 0})
            q[s["name"]] += s["jobs"]
    return {q: v for q, v in sorted(out.items()) if v["construct"]}


def health() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "cpu": cpu}


def steal_frac(h0: dict, h1: dict) -> float:
    d = [b - a for a, b in zip(h0["cpu"], h1["cpu"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def inputs(seed: int) -> Path:
    """Generated once per seed and generator version under the build dir;
    excluded from set-up."""
    h = hashlib.sha256((HERE / "gen.py").read_bytes() + (HERE / "spec.json").read_bytes())
    data = build.build_dir() / "data" / f"seed{seed}-{h.hexdigest()[:12]}"
    if not (data / "done").exists():
        tmp = data.with_name(data.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen.py"), "--seed", str(seed),
                        "--out", str(tmp)], check=True)
        (tmp / "done").write_text("")
        shutil.rmtree(data, ignore_errors=True)
        tmp.rename(data)
    return data


def run_jvm(cp: str, args: list, out: Path, deadline: float) -> dict:
    heap = SPEC["jvm"]["heap"]
    # a fixed, pre-touched heap: peak RSS then moves with native and heap
    # growth of the program, not with when the collector resized the heap
    (out / "tmp").mkdir()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss8m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}",
            f"-Dgraftbench.spec={HERE / 'spec.json'}", "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Harness"] + args)
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=build.ROOT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if rc != 0:
        sys.stderr.write((out / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"harness failed ({rc})")
    return json.loads((out / "report.json").read_text())


def pct(values: list, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    x = q * (len(v) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build.build()
    deadline = time.monotonic() + DEADLINE_S
    data = inputs(a.seed)
    out = build.build_dir() / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)

    h0 = health()
    rep = run_jvm(cp, [a.workload, str(data), str(out), str(a.seconds), str(a.seed),
                       str(a.trace)], out, deadline)
    h1 = health()

    ops = rep["ops"]
    failed_names = {}
    if a.workload == "tabular":
        mismatches = check.oracle_check(out / "capture", data / "tabular",
                                        rep["oracle_sql"], rep["capture_errors"])
        for name, why in mismatches.items():
            print(f"[check] {name}: {why}", file=sys.stderr)
        failed_names = mismatches
    bad = [o for o in ops if o["error"] or o["name"] in failed_names]
    for o in bad:
        print(f"[fail] {o['name']}: {o['error'] or failed_names[o['name']]}", file=sys.stderr)

    plain = [o for o in ops if not o["traced"] and o not in bad]
    lat = [o["latency_s"] for o in plain]
    if a.workload == "tabular":
        through = len(lat) / sum(lat)
    else:
        through = sum(o["docs"] for o in plain) / rep["measured_s"]
    detail = {
        "workload": a.workload, "seed": a.seed, "nproc": rep["nproc"],
        "samples": len(lat), "samples_beyond_p90": sum(1 for x in lat if x > pct(lat, 0.9)),
        "throughput_unit": "queries/s" if a.workload == "tabular" else "docs/s",
        "fail_rate": len(bad) / len(ops),
        "loadavg_before": h0["loadavg"], "loadavg_after": h1["loadavg"],
        "steal_frac": steal_frac(h0, h1),
        "marks_s": rep["marks_s"],
    }
    if a.workload == "tabular":
        passes = sorted({o["pass"] for o in plain})
        by_pass = {p: [o["latency_s"] for o in plain if o["pass"] == p] for p in passes}
        detail["pass_s"] = [sum(by_pass[p]) for p in passes]
        # first measured pass over the median pass: near 1 means the two
        # warm-up passes absorbed the early-sweep inflation
        detail["first_pass_ratio"] = detail["pass_s"][0] / statistics.median(detail["pass_s"])
        detail["oracle_mismatches"] = failed_names
    else:
        detail["check"] = rep["check"]
        # median trigger time in the first and the last quarter of the
        # measured window, per sink: how far from settled the JIT still is
        span_ms = rep["measured_s"] * 1000
        detail["trigger_ms_first_last"] = {
            sink: [statistics.median([t[2] for t in ts if lo <= t[1] < hi] or [0])
                   for lo, hi in ((0, span_ms / 4), (span_ms * 3 / 4, span_ms))]
            for sink, ts in rep["trigger_ms"].items()}
        detail["late_s_max"] = max(o["late_s"] for o in ops)
        detail["offered_docs_per_s"] = (SPEC["ingest"]["docs_per_batch"] * 1000
                                        / SPEC["ingest"]["interval_ms"])
    if a.trace:
        detail["trace_overhead_frac"] = rep["trace_overhead_frac"]
        detail["absent_layers"] = ABSENT[a.workload]
        detail["spans"] = str(out / "spans.json")
        if a.workload == "tabular":
            detail["jobs_by_query"] = jobs_by_query(out / "spans.json")
        values = dict(rep["layers"], **{"trace.overhead_frac": rep["trace_overhead_frac"]})
    else:
        values = {"setup_s": rep["setup_s"], "latency_p50_s": statistics.median(lat),
                  "latency_p90_s": pct(lat, 0.9), "throughput_per_s": through,
                  "peak_rss_mb": rep["peak_rss_mb"]}
    # exactly the metrics BENCHMARK.json declares, with its units; a layer
    # the workload does not have reads 0 and is named in the detail line
    declared = BENCHMARK["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]] if m["name"] in values
                           else absent(a.workload, m["name"]), "unit": m["unit"]}
               for m in declared}
    print(json.dumps(detail))
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
