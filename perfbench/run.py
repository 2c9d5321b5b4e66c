#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tool_session --seed 1 --seconds 20 --trace 0

Builds the program from source (see build.py), runs the workload in one JVM
with Spark at local[nproc] and one client thread, checks every op's output,
prints each metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. A run measures one fixed unit
of work (a tool round, a delivery, a query batch) whatever --seconds says,
so that a faster program is compared on the same calls; --seconds is only
recorded. --trace 0 reports the end-to-end metrics; --trace 1 attaches the
listeners and reports the per-layer metrics. See perfbench/README.md for
what each number means.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
HERE = Path(__file__).resolve().parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None

WORKLOADS = ("tool_session", "ingest_gate", "analytics_batch")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
UNITS = {m["name"]: m["unit"] for m in (SPEC["end_to_end"] + SPEC["per_layer"])} if SPEC else {}


def run_jvm(classes, args, work):
    cp = os.pathsep.join([str(c) for c in classes] + [str(build.spark_jars() / "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: the workload did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.exit("perfbench: the workload failed:\n" + "\n".join(tail))


def check_ops(workload, ops):
    """Marks each op ok or failed against the recorded expectations.
    Returns (correct, failures). An op with no recorded expectation fails
    and shows its digest, so a new one can be recorded by hand."""
    path = HERE / "expected" / f"{workload}.json"
    expected = json.loads(path.read_text()) if path.is_file() else {}
    correct, failures = True, []
    for op in ops:
        why = None
        if "error" in op:
            why = "threw: " + op["error"]
        elif op.get("self_check") is False:
            why = "output check failed"
        elif "key" in op:
            want = expected.get(op["key"])
            if want is None:
                why = f"no recorded expectation; digest {op['digest']}"
            elif want != op["digest"]:
                why = f"digest {op['digest']} != recorded {want}"
        if why:
            op["failed"] = why
            failures.append(f"{op['kind']} {op.get('key', '')}: {why}")
            if not why.startswith("threw"):
                correct = False
    return correct, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if SPEC is None:
        sys.exit("perfbench: BENCHMARK.json is missing")
    sf = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if not (sf / "documents.parquet").exists():
        sys.exit(f"perfbench: no sf0.1 testdata at {sf} (set SPARK_GRAFT_SF_DIR)")

    classes = build.build()
    work = build.BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                      "--sf", str(sf), "--work", str(work)], work)
    res = json.loads((work / "result.json").read_text())
    for d in work.iterdir():
        if d.is_dir():
            shutil.rmtree(d, ignore_errors=True)

    ops = res["ops"]
    correct, failures = check_ops(a.workload, ops)
    prim = [o for o in ops if o["primary"]]
    ok_ms = [o["ms"] for o in prim if "failed" not in o]
    attempted, failed = len(ops), sum(1 for o in ops if "failed" in o)
    if not ok_ms:
        sys.exit("perfbench: no op of the workload succeeded")
    e2e = {
        "setup_s": res["setup_s"],
        "op_gmean_ms": math.exp(statistics.fmean(math.log(x) for x in ok_ms)),
        "ops_per_s": len(ok_ms) / res["measured_s"],
        "op_ok_share": (attempted - failed) / attempted,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    layers = res["layers"]
    if a.trace:
        layers["trace.op_gmean_ms"] = e2e["op_gmean_ms"]

    env = res["env"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} seconds {a.seconds:g} nproc {env['nproc']} "
          f"load {env['load_avg_start']}->{env['load_avg_end']} {env['jvm']} spark {env['spark']}")
    print(f"ops {attempted} attempted, {failed} failed; primary ok {len(ok_ms)}; "
          f"set-up {res['setup_s']:.1f} s; measured {res['measured_s']:.1f} s; "
          f"ok latencies (ms) {sorted(round(x) for x in ok_ms)}")
    print(f"op_fail_share {failed / attempted:.4f} (failed {failed} of {attempted} attempted)")
    for f in failures[:20]:
        print("  fail:", f[:200])
    names = [m["name"] for m in SPEC["per_layer" if a.trace else "end_to_end"]]
    values = layers if a.trace else e2e
    for n in names:
        # a layer metric of another workload's layers reads 0 here
        note = "" if n in values else "  (not measured on this workload)"
        print(f"{n} {values.get(n, 0.0):.6g} {UNITS[n]}{note}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
