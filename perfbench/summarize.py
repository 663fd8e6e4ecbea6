"""Per-layer metrics and a "where the time goes" table from a traced run.

    python3 perfbench/summarize.py SPANS.jsonl [UNTRACED_RESULT.json ...]

SPANS.jsonl is the span file of one traced run (perfbench/out/*.spans.jsonl):
one line per op (a call into the program), per Spark SQL execution (an
action, with its planning phases) and per Spark job (with its tasks'
metrics summed). An action's self time is its duration minus the time its
jobs cover; an op's self time is its duration minus the time its actions
cover. Given result files of untraced runs of the same workload, the
table also shows the tracing overhead per op against their median.
"""

import json
import re
import statistics
import sys

WRITE_OPS = ("build", "update")

ENGINE = [
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"), ("plan.actions", "count"),
    ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.job_s", "s"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.task_wait_s", "s"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.input_mb", "MB"), ("exec.output_mb", "MB"),
    ("exec.failed_tasks", "count"), ("driver.no_job_s", "s"),
    ("par.overlap", "ratio"),
]
JVM = [("jvm.cpu_s", "s"), ("jvm.jit_s", "s")]
COMMIT = [
    ("commit.rename_table", "count"), ("commit.drop_table", "count"),
    ("commit.refresh_table", "count"), ("commit.other_ops", "count"),
    ("commit.files_written", "count"), ("commit.tail_s", "s"),
]
# a read commits nothing, spills nothing and writes nothing
READ = [m for m in ENGINE if m[0] not in (
    "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.output_mb", "exec.failed_tasks")]


def catalog():
    """(name, unit, better) of every per-layer metric a traced run prints,
    the same for both workloads."""
    out = []
    for op in WRITE_OPS:
        out += [(f"{op}.{n}", u) for n, u in ENGINE + JVM + COMMIT]
        if op != "build":
            out.append((f"{op}.rewrite_ratio", "ratio"))
    out += [(f"read.{n}", u) for n, u in READ]
    return [(n, u, "higher" if n.endswith("par.overlap") else "lower")
            for n, u in out]


# Pipeline layer of each state table, by the table's name without the
# run's suffix. An action belongs to the table it writes; an action that
# writes nothing (an audit or report collect) to `quality` in the
# warehouse and to the table it reads in the corpus.
LAYERS = {
    "warehouse": {
        "stg_orders": "stage", "stg_customer": "stage",
        "stg_orders_delta": "stage", "dim_user_scd2": "scd2",
        "seg_month": "marts", "month_rev": "marts",
        "mart_monthly": "publish", "mart_segment": "publish",
        "marts": "publish",
    },
    "corpus": {
        "corpus_stage": "curate", "corpus_probes": "curate",
        "corpus_bands": "neardedup", "corpus_removed": "neardedup",
        "corpus_curated": "decontam", "corpus_grams": "decontam",
        "corpus_manifest": "pack",
    },
}
PIPELINE = {
    "warehouse": ("stage", "scd2", "marts", "publish", "quality"),
    "corpus": ("curate", "neardedup", "decontam", "pack", "erase"),
}


def _table(target):
    t = re.sub(r"^e2e_", "", target)
    t = re.sub(r"__(staging|prev|swapping)$", "", t)
    return re.sub(r"_(r\d+|w\d+|\d+)$", "", t)


def layer_of(workload, op_name, action):
    table = _table(action["target"])
    if workload == "warehouse":
        if not action["write"]:
            return "quality"
        return LAYERS[workload].get(table, "other")
    layer = LAYERS[workload].get(table, "other")
    # an erasure's discovery read and partition rewrites are its own
    # layer; its probe-set and manifest republish are `pack`
    if op_name == "update":
        return "pack" if table in ("corpus_probes", "corpus_manifest") \
            else "erase"
    return layer


def _cover(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of intervals."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                if b >= 0 and a >= 0 and min(b, hi) > max(a, lo))
    total, end = 0, lo
    for a, b in xs:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def load(path):
    spans = [json.loads(line) for line in open(path)]
    kinds = {k: [s for s in spans if s["kind"] == k]
             for k in ("op", "action", "job")}
    return kinds["op"], kinds["action"], kinds["job"]


def _report(op):
    return {(r[0], r[1], r[2]): r[3] for r in op["rows"]}


def changed_rows(workload, op):
    """Rows an update added to or removed from the state, by its report."""
    rep = _report(op)
    if workload == "warehouse":
        return (rep.get(("staging", "stg_orders", "rows_appended"), 0)
                + rep.get(("dim", "dim_user_scd2", "versions_added"), 0))
    return sum(v for (step, _, metric), v in rep.items()
               if step == "erase" and metric != "partitions_rewritten")


def op_metrics(workload, op, actions, jobs):
    """Every per-layer number of one op: engine phases, commit, and the
    pipeline layers its actions wrote."""
    acts = [a for a in actions if a["op"] == op["id"]]
    by_id = {a["id"]: a for a in acts}
    roots = [a for a in acts if a["root"] == a["id"] and a["t1"] >= 0]
    js = [j for j in jobs if j["op"] == op["id"]]
    wall, t0, t1 = op["wall_s"], op["t0"], op["t1"]

    def root_of(job):
        a = by_id.get(job["exec"])
        return a["root"] if a else None

    m = {
        "plan.analysis_s": sum(a["analysis_s"] for a in acts),
        "plan.optimization_s": sum(a["optimization_s"] for a in acts),
        "plan.planning_s": sum(a["planning_s"] for a in acts),
        "plan.actions": len(roots),
        "exec.jobs": len(js),
        "exec.job_s": sum(j["t1"] - j["t0"] for j in js if j["t1"] >= 0)
        / 1000,
        "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in js) / 1e6,
        "exec.shuffle_read_mb": sum(j["shuffle_read_b"] for j in js) / 1e6,
        "exec.spill_mb": sum(j["spill_b"] for j in js) / 1e6,
        "exec.input_mb": sum(j["input_b"] for j in js) / 1e6,
        "exec.output_mb": sum(j["output_b"] for j in js) / 1e6,
        "driver.no_job_s": max(0.0, wall - _cover(
            [(j["t0"], j["t1"]) for j in js], t0, t1) / 1000),
        "par.overlap": sum(a["t1"] - a["t0"] for a in roots) / 1000 / wall,
    }
    for k in ("tasks", "task_s", "cpu_s", "gc_s", "task_wait_s",
              "failed_tasks"):
        m["exec." + k] = sum(j[k] for j in js)
    meta = op["metaops"]
    main_ops = ("rename_table", "drop_table", "refresh_table")
    for k in main_ops:
        m["commit." + k] = meta.get(k, 0)
    m["commit.other_ops"] = sum(v for k, v in meta.items()
                                if k not in main_ops
                                and k != "partitions_dropped")
    m["commit.files_written"] = op["files_written"]
    for k in ("cpu_s", "jit_s", "gc_s", "steal_s"):
        m["jvm." + k] = op["jvm"][k]

    def self_s(a):
        mine = [(j["t0"], j["t1"]) for j in js if root_of(j) == a["id"]]
        return (a["t1"] - a["t0"] - _cover(mine, a["t0"], a["t1"])) / 1000

    m["commit.tail_s"] = sum(self_s(a) for a in roots if a["write"])
    m["self_s"] = max(0.0, wall - _cover(
        [(a["t0"], a["t1"]) for a in roots], t0, t1) / 1000)

    written = {}
    for j in js:
        written[root_of(j)] = written.get(root_of(j), 0) + \
            j["records_written"]
    layers = {}
    for a in roots:
        lay = layer_of(workload, op["name"], a)
        d = layers.setdefault(lay, {"wall_s": 0.0, "actions": 0,
                                    "self_s": 0.0, "rows_written": 0})
        d["wall_s"] += (a["t1"] - a["t0"]) / 1000
        d["actions"] += 1
        d["self_s"] += self_s(a)
        d["rows_written"] += written.get(a["id"], 0)
    m["layers"] = layers
    if op["name"] == "update":
        m["rewrite_ratio"] = sum(written.values()) / max(
            changed_rows(workload, op), 1)
    return m


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_op(workload, ops, actions, jobs):
    """Metrics of every op name, as the median over its calls."""
    out = {}
    for name in ("build", "update", "read"):
        ms = [op_metrics(workload, op, actions, jobs) for op in ops
              if op["name"] == name and not op.get("error")]
        if ms:
            out[name] = ms
    return out


def metrics(workload, spans_path):
    """The catalog's per-layer metrics, plus the workload's own pipeline
    layer metrics, as {name: (value, unit)}."""
    ops, actions, jobs = load(spans_path)
    by_op = per_op(workload, ops, actions, jobs)
    out = {}
    for name, unit, _ in catalog():
        op, key = name.split(".", 1)
        out[name] = (_median([m[key] for m in by_op.get(op, [])]), unit)
    for op in WRITE_OPS:
        ms = by_op.get(op, [])
        for lay in PIPELINE[workload]:
            for k, u in (("wall_s", "s"), ("actions", "count")):
                out[f"{op}.{lay}.{k}"] = (_median(
                    [m["layers"].get(lay, {}).get(k, 0) for m in ms]), u)
    # waste ratios named by the layer that rewrites, over all updates
    updates = [_report(op) for op in ops
               if op["name"] == "update" and not op.get("error")]

    def ratio(lay, key):
        rows = sum(m["layers"].get(lay, {}).get("rows_written", 0)
                   for m in by_op.get("update", []))
        return rows / max(sum(r.get(key, 0) for r in updates), 1), "ratio"

    if workload == "warehouse" and updates:
        out["update.scd2.rewrite_ratio"] = ratio(
            "scd2", ("dim", "dim_user_scd2", "versions_added"))
        out["update.marts.rewrite_ratio"] = ratio(
            "marts", ("staging", "stg_orders", "rows_appended"))
    if workload == "corpus" and updates:
        out["update.erase.rewrite_ratio"] = ratio(
            "erase", ("erase", "curated", "docs_erased"))
    return out


def table(workload, spans_path, untraced=()):
    """Markdown "where the time goes" table of one traced run; the
    tracing overhead is against the median of the untraced runs' medians."""
    ops, actions, jobs = load(spans_path)
    by_op = per_op(workload, ops, actions, jobs)
    base = {}
    for name in by_op:
        meds = []
        for path in untraced:
            walls = [o["wall_s"] for o in json.load(open(path))["ops"]
                     if o["name"] == name and o["round"] >= 0]
            if walls:
                meds.append(_median(walls))
        if meds:
            base[name] = _median(meds)
    lines = [f"### {workload}: where the time goes (medians per call)", "",
             "| op | wall s | self s | plan s | job s | no-job s | overlap "
             "| actions | jobs | tasks | renames | drops | refreshes "
             "| files | commit tail s | JVM cpu s | JIT s | host steal s "
             "| tracing overhead |",
             "|" + "---|" * 19]
    for name, ms in by_op.items():
        med = lambda k: _median([m[k] for m in ms])
        wall = _median([o["wall_s"] for o in ops if o["name"] == name])
        plan = med("plan.analysis_s") + med("plan.optimization_s") + \
            med("plan.planning_s")
        over = (f"{wall / base[name] - 1:+.1%} vs {base[name]:.2f} s "
                f"({len(untraced)} runs)" if name in base else "n/a")
        lines.append(
            f"| {name} | {wall:.2f} | {med('self_s'):.2f} | {plan:.2f} "
            f"| {med('exec.job_s'):.2f} | {med('driver.no_job_s'):.2f} "
            f"| {med('par.overlap'):.2f} | {med('plan.actions'):.0f} "
            f"| {med('exec.jobs'):.0f} | {med('exec.tasks'):.0f} "
            f"| {med('commit.rename_table'):.0f} "
            f"| {med('commit.drop_table'):.0f} "
            f"| {med('commit.refresh_table'):.0f} "
            f"| {med('commit.files_written'):.0f} "
            f"| {med('commit.tail_s'):.2f} | {med('jvm.cpu_s'):.2f} "
            f"| {med('jvm.jit_s'):.2f} | {med('jvm.steal_s'):.2f} | {over} |")
    lines += ["", "| op.layer | wall s | self s | actions | rows written |",
              "|---|---|---|---|---|"]
    for name, ms in by_op.items():
        if name == "read":
            continue
        for lay in PIPELINE[workload] + ("other",):
            d = [m["layers"].get(lay) for m in ms if lay in m["layers"]]
            if d:
                lines.append(
                    f"| {name}.{lay} "
                    f"| {_median([x['wall_s'] for x in d]):.2f} "
                    f"| {_median([x['self_s'] for x in d]):.2f} "
                    f"| {_median([x['actions'] for x in d]):.0f} "
                    f"| {_median([x['rows_written'] for x in d]):.0f} |")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    spans = sys.argv[1]
    wl = "corpus" if "corpus" in spans.rsplit("/", 1)[-1] else "warehouse"
    print(table(wl, spans, sys.argv[2:]))
    for k, (v, u) in metrics(wl, spans).items():
        print(f"{k:45s} {v:12.4f} {u}")
