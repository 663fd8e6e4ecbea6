"""Warehouse and corpus build benchmark.

    python3 perfbench/run.py --workload warehouse|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source on first use (perfbench/jvm.py), cuts the workload's inputs from
the seed (perfbench/workloads.py), runs whole rounds of program calls in
one JVM until S seconds have passed, checks every output against DuckDB
(perfbench/checks.py), and prints as its last line one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics of the
traced run with --trace 1 (perfbench/summarize.py). The full result and
the span file stay in perfbench/out/. Exits non-zero, printing no result,
when the program cannot be built or run.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import jvm  # noqa: E402
import summarize  # noqa: E402
import workloads  # noqa: E402

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data"
OUT = BENCH / "out"
JVM_LIMIT_S = 150  # a run ends within 180 s; the checks need the rest


def end_to_end(res):
    ops = [o for o in res["ops"] if o["round"] >= 0]
    med = lambda name: statistics.median(
        [o["wall_s"] for o in ops if o["name"] == name])
    return {
        "setup_s": (res["boot_s"] + statistics.median(res["session_s"])
                    + res["warmup_s"], "s"),
        "build_s": (med("build"), "s"),
        "update_s": (med("update"), "s"),
        "stored_mb": (statistics.median(res["stored_mb"]), "MB"),
    }


def run_jvm(spec, tmp, deadline):
    props = tmp / "spec.properties"
    props.write_text("".join(f"{k}={v}\n" for k, v in spec.items()))
    log = tmp / "jvm.log"
    # Spark keeps per-session scratch under java.io.tmpdir: the run's dir
    cmd = jvm.command("perfbench.Harness", [str(props)])
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also when this process is told to stop
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness JVM failed ({code}):\n{tail}")
    return json.loads(Path(spec["out"]).read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(
        workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jvm.build()
    deadline = time.monotonic() + JVM_LIMIT_S
    OUT.mkdir(exist_ok=True)
    jvm.BUILD.joinpath("tmp").mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=jvm.BUILD / "tmp"))
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    try:
        spec = dict(workloads.SPECS[a.workload](a.seed, DATA))
        spec.update({
            "workload": a.workload, "data": DATA, "seconds": a.seconds,
            "trace": a.trace, "cpus": min(len(os.sched_getaffinity(0)), 4),
            "warehouse": tmp / "warehouse",
            "local": tmp / "local", "out": tmp / "result.json",
            "spans": OUT / f"{name}.spans.jsonl",
        })
        res = run_jvm(spec, tmp, deadline)

        oracle = (checks.Warehouse if a.workload == "warehouse"
                  else checks.Corpus)
        calls = res["ops"]
        errors = []
        for r in sorted({o["round"] for o in calls}):
            check = oracle(DATA, spec, "warmup." if r < 0 else "")
            for op, err in check.check_round(
                    [o for o in calls if o["round"] == r]):
                op["check"] = err
                if err:
                    errors.append(f"round {r} {op['name']}: {err}")
        for e in errors:
            print(f"FAILED {e}", file=sys.stderr)

        if a.trace:
            print(summarize.table(a.workload, spec["spans"], sorted(
                OUT.glob(f"{a.workload}-s*-t0.json"))))
            got = summarize.metrics(a.workload, spec["spans"])
            metrics = {n: got.pop(n) for n, _, _ in summarize.catalog()}
            res["pipeline_layers"] = got
        else:
            metrics = end_to_end(res)
        res.update(spec={k: str(v) for k, v in spec.items()},
                   metrics=metrics, errors=errors)
        (OUT / f"{name}.json").write_text(json.dumps(res))
        print(json.dumps({
            "correct": not errors,
            "attempted": len(calls),
            "failed": sum(1 for op in calls if op["check"]),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (jvm.BuildError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
