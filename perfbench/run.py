"""Benchmark harness for the spark-graft engine.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--cores C] [--report FILE.md]

Run from the root of a checkout of the repository. The harness

1. generates the workload's inputs from ``--seed`` with numpy / pyarrow
   (perfbench/gen.py), outside the engine, cached per seed under
   ``.perfbench/data``;
2. starts the engine in a child process (perfbench/worker.py) that sets
   up a Spark session with ``--cores`` cores, warms it with one full
   pass and times passes for ``--seconds`` (at least three);
3. samples the peak RSS of that process tree (Python driver, JVM and
   Python workers) and records the host state around the run;
4. checks every output against the DuckDB oracles, or the generated
   ingest corpus, after the engine has exited;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   metrics -- the end-to-end metrics with ``--trace 0``, the per-layer
   metrics (from spans, job groups and Spark's event log) with
   ``--trace 1``.

A full run record (host, per-operation times, spans with self time) is
written to ``.perfbench/runs``. ``--report`` also writes the per-query
layer table of a traced run as markdown. The exit code is 0 only when
every output is correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import pyspark  # noqa: E402
import verify  # noqa: E402
from spans import with_self_time  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

DEADLINE_S = 170  # the whole run, generation and checks included
DRIVER_MEMORY = "3g"
KEEP_DATA = 6  # cached input sets kept per workload
INGEST_CONFIG = os.path.join("fixtures", "ingest_config.yaml")


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


# --- inputs ----------------------------------------------------------------


def _cached(name: str, seed: int, params: dict, build) -> str:
    """Build the inputs into ``.perfbench/data/<name>-s<seed>`` unless they
    are there already, made by the same generator code and parameters."""
    base = os.path.join(WORK, "data")
    path = os.path.join(base, f"{name}-s{seed}")
    with open(gen.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read() + json.dumps(params, sort_keys=True).encode()).hexdigest()
    done = os.path.join(path, ".done")
    if not os.path.exists(done) or open(done).read() != stamp:
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        with open(done, "w") as f:
            f.write(stamp)
    others = sorted(
        (e for e in os.listdir(base) if e.startswith(f"{name}-s") and e != os.path.basename(path)),
        key=lambda e: os.path.getmtime(os.path.join(base, e)),
    )
    for e in others[: max(0, len(others) - KEEP_DATA + 1)]:
        shutil.rmtree(os.path.join(base, e), ignore_errors=True)
    return path


def make_inputs(workload: str, seed: int) -> dict:
    w = WORKLOADS[workload]
    d = w["data"]
    if w["kind"] == "ingest":
        path = _cached(workload, seed, d, lambda p: _ingest(p, seed, d))
        with open(os.path.join(path, "manifest.json")) as f:
            return {"batches": json.load(f)}
    star = tuple(t for t in gen.STAR_TABLES if t != "documents")

    def build(p):
        gen.star(seed, d["sf"], p + ".base", star)
        gen.derive(p + ".base", p, d["copies"], star)
        shutil.rmtree(p + ".base")
        gen.star(seed, d["text_sf"], p, ("documents",))

    return {"data_dir": _cached(workload, seed, d, build)}


def _ingest(path: str, seed: int, d: dict) -> None:
    manifests = gen.ingest_corpus(seed, path, **d)
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifests, f)


# --- engine process ----------------------------------------------------------


def run_worker(spec: dict, trace: bool, cores: int, deadline: float) -> tuple[dict, int, float]:
    out = spec["out"]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["TMPDIR"] = os.path.join(out, "tmp")
    os.makedirs(env["TMPDIR"])
    # a fixed-size heap: G1 heap growth otherwise varies from run to run
    confs = {"spark.driver.extraJavaOptions":
             f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={env['TMPDIR']}"}
    if trace:
        logdir = os.path.join(out, "eventlog")
        os.makedirs(logdir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    spec_path = os.path.join(out, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    t0 = time.time()
    with open(os.path.join(out, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        with host.PeakRss(proc.pid) as rss:
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _kill_group(proc.pid)
                proc.wait()
    if rc is None:
        fail(f"engine process exceeded the run deadline; log: {log.name}", 3)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log.name) as f:
            tail = f.read()[-3000:]
        fail(f"engine process exited with {rc}:\n{tail}", 3)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), rss.peak, t0


def _kill_group(pgid: int) -> None:
    """Kill the engine's process group (Python driver, JVM, Python
    workers) and wait until every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.waitpid(pgid, os.WNOHANG)
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    fail(f"engine process group {pgid} did not end", 3)


# --- metrics -------------------------------------------------------------------


def _timed(ops: list[dict]) -> list[dict]:
    return [o for o in ops if o["pass"] > 0 and o["ok"]]


def _per_pass(ops: list[dict], value) -> float:
    """Median over timed passes of the per-pass sum of ``value(op)``."""
    sums: dict[int, float] = {}
    for o in _timed(ops):
        sums[o["pass"]] = sums.get(o["pass"], 0.0) + value(o)
    return statistics.median(sums.values()) if sums else 0.0


def end_to_end(res: dict, t_launch: float) -> dict:
    by_op: dict[str, list[float]] = {}
    for o in _timed(res["ops"]):
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    medians = [statistics.median(v) for v in by_op.values()]
    return {
        # a median pass: every operation once, at its median time
        "pass_s": sum(medians),
        # every operation weighs the same, short or long
        "op_geomean_s": statistics.geometric_mean(medians),
        "setup_s": res["setup"]["warm_end"] - t_launch,
    }


def attach_event_log(res: dict, out: str) -> dict[str, dict]:
    """Group totals from the event log; adds plan / execute spans under
    every timed write span (plan: from the write call to the SQL
    execution's start; execute: the SQL execution)."""
    logdir = os.path.join(out, "eventlog")
    files = [os.path.join(logdir, f) for f in os.listdir(logdir)]
    if len(files) != 1:
        fail(f"expected one event log in {logdir}, found {len(files)}", 3)
    totals = eventlog.group_totals(files[0])
    spans = res["spans"]
    for o in res["ops"]:
        w = o.get("write_span")
        t = totals.get(f"{o['tag']}|write")
        if w is None or t is None or t["sql_start"] is None:
            continue
        ws = spans[w]
        start = min(max(t["sql_start"], ws["start"]), ws["end"])
        end = min(max(t["sql_end"] or ws["end"], start), ws["end"])
        for name, a, b in (("plan", ws["start"], start), ("execute", start, end)):
            spans.append({"id": len(spans), "parent": w, "name": name, "start": a, "end": b})
    return totals


def _span_sum(spans: list[dict], root: int, name: str) -> float:
    """Total duration of spans called ``name`` below span ``root``."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total, todo = 0.0, [root]
    while todo:
        for s in kids.get(todo.pop(), ()):
            if s["name"] == name:
                total += s["dur"]
            todo.append(s["id"])
    return total


def per_layer(res: dict, totals: dict, spans: list[dict], spec: dict, peak_rss: int) -> dict:
    ops = res["ops"]
    kind = spec["kind"]

    def group(o, phase):
        return totals.get(f"{o['tag']}|{phase}") or eventlog.empty_totals()

    def exec_groups(o):
        if kind == "queries":
            return [group(o, "write")]
        return [group(o, "ingest")] + [group(o, f"append:{t}") for t in sorted(o["written"])]

    def ex(field):
        return lambda o: sum(g[field] for g in exec_groups(o))

    def cat(phase):
        return lambda o: o.get("catalyst_ms", {}).get(phase, 0)

    def under(name):
        return lambda o: _span_sum(spans, o["span"], name)

    m = {
        "plans.import_s": res["setup"]["import_s"],
        "session.start_s": res["setup"]["session_start_s"],
        "trace.pass_s": _per_pass(ops, lambda o: o["wall_s"]),
        "plans.build_s": _per_pass(ops, under("build")),
        "plans.py4j_calls": _per_pass(ops, lambda o: o.get("py4j_calls", 0)),
        "plans.build_jobs": _per_pass(ops, lambda o: group(o, "build")["jobs"]),
        "catalyst.analysis_ms": _per_pass(ops, cat("analysis")),
        "catalyst.optimization_ms": _per_pass(ops, cat("optimization")),
        "catalyst.planning_ms": _per_pass(ops, cat("planning")),
        "catalyst.plan_s": _per_pass(ops, under("plan")),
        "exec.s": _per_pass(ops, under("execute")),
        "exec.stages": _per_pass(ops, ex("stages")),
        "exec.tasks": _per_pass(ops, ex("tasks")),
        "exec.executor_run_s": _per_pass(ops, ex("run_s")),
        "exec.executor_cpu_s": _per_pass(ops, ex("cpu_s")),
        "exec.jvm_gc_s": _per_pass(ops, ex("gc_s")),
        "exec.shuffle_read_bytes": _per_pass(ops, ex("shuffle_read_bytes")),
        "exec.shuffle_write_bytes": _per_pass(ops, ex("shuffle_write_bytes")),
        "exec.spill_bytes": _per_pass(ops, ex("spill_bytes")),
        "io.scan_rows": _per_pass(ops, ex("scan_rows")),
        "session.persisted_rdds": max((o.get("persisted_rdds", 0) for o in ops), default=0),
        "proc.cpu_s": _per_pass(ops, lambda o: o["cpu_s"]),
        "proc.peak_rss_mb": peak_rss / 2**20,
    }
    ing = {k: 0.0 for k in (
        "ingest.run_ingest_s", "sinks.append_s", "sinks.key_scan_s",
        "sinks.jobs_per_append", "sinks.key_scan_rows", "sinks.bytes_written",
        "sinks.files_written", "incremental.new_ratio",
        "sinks.stored_bytes_per_input_byte")}
    if kind == "ingest":
        batches = spec["batches"]
        timed = _timed(ops)
        appends = [group(o, f"append:{t}") for o in timed for t in o["written"]]
        rows_in = sum(b["rows_in"] for b in batches)
        new_bytes = sum(b["new_bytes"] for b in batches)
        sinks = {o["sink"] for o in timed}
        sizes = [_dir_stats(s) for s in sinks]
        ing.update({
            "ingest.run_ingest_s": _per_pass(ops, under("ingest")),
            "sinks.append_s": _per_pass(ops, under("append")),
            "sinks.key_scan_s": _per_pass(
                ops, lambda o: sum(group(o, f"append:{t}")["parquet_scan_s"] for t in o["written"])),
            "sinks.jobs_per_append": sum(a["jobs"] for a in appends) / max(1, len(appends)),
            "sinks.key_scan_rows": _per_pass(
                ops, lambda o: sum(group(o, f"append:{t}")["parquet_scan_rows"] for t in o["written"])),
            "sinks.bytes_written": statistics.median(s[1] for s in sizes),
            "sinks.files_written": statistics.median(s[0] for s in sizes),
            "incremental.new_ratio": _per_pass(ops, lambda o: sum(o["written"].values())) / rows_in,
            "sinks.stored_bytes_per_input_byte": statistics.median(s[1] for s in sizes) / new_bytes,
        })
    m.update(ing)
    return m


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def layer_table(res: dict, totals: dict, spans: list[dict], workload: str, record: dict) -> str:
    """Markdown: per query, medians over timed passes of the layers."""
    rows: dict[str, list[dict]] = {}
    for o in _timed(res["ops"]):
        g = totals.get(f"{o['tag']}|write") or eventlog.empty_totals()
        b = totals.get(f"{o['tag']}|build") or eventlog.empty_totals()
        rows.setdefault(o["op"], []).append({
            "wall": o["wall_s"],
            "build": _span_sum(spans, o["span"], "build"),
            "plan": _span_sum(spans, o["span"], "plan"),
            "exec": _span_sum(spans, o["span"], "execute"),
            "py4j": o.get("py4j_calls", 0),
            "jobs": b["jobs"],
            "stages": g["stages"],
            "tasks": g["tasks"],
            "cpu": g["cpu_s"],
            "cat": sum(o.get("catalyst_ms", {}).values()),
        })
    h = record["host"]
    lines = [
        f"# Layer table: `{workload}`, seed {record['seed']}",
        "",
        f"Traced run (`--trace 1`); medians over {record['timed_passes']} timed passes. "
        f"Host: nproc {h['nproc']}, Spark cores {h['cores']}, loadavg "
        f"{h['loadavg_before'][0]:.2f} -> {h['loadavg_after'][0]:.2f}, "
        f"steal {h['steal_s']:.2f} s, Java {h['java']}, PySpark {h['pyspark']}.",
        "",
        "build = `plans.get(name).build()`; plan = noop write call to the start of "
        "its SQL execution (Catalyst analysis, optimization, physical planning); "
        "execute = the SQL execution. cover = (build + plan + execute) / wall.",
        "",
        "| query | wall s | build s | plan s | execute s | cover | py4j calls | build jobs "
        "| catalyst ms | stages | tasks | executor cpu s |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    tot = {k: 0.0 for k in ("wall", "build", "plan", "exec")}
    for name in sorted(rows):
        med = {k: statistics.median(r[k] for r in rows[name]) for k in rows[name][0]}
        for k in tot:
            tot[k] += med[k]
        cover = (med["build"] + med["plan"] + med["exec"]) / med["wall"]
        lines.append(
            f"| {name} | {med['wall']:.3f} | {med['build']:.3f} | {med['plan']:.3f} "
            f"| {med['exec']:.3f} | {cover:.3f} | {med['py4j']:.0f} | {med['jobs']:.0f} "
            f"| {med['cat']:.0f} | {med['stages']:.0f} | {med['tasks']:.0f} | {med['cpu']:.2f} |"
        )
    cover = (tot["build"] + tot["plan"] + tot["exec"]) / tot["wall"]
    lines.append(
        f"| **total** | {tot['wall']:.3f} | {tot['build']:.3f} | {tot['plan']:.3f} "
        f"| {tot['exec']:.3f} | {cover:.3f} | | | | | | |"
    )
    untraced = os.path.join(WORK, "runs", f"{workload}-s{record['seed']}-t0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]["pass_s"]
        traced = record["metrics"]["trace.pass_s"]
        lines += ["", f"Tracing overhead: traced pass {traced:.3f} s vs untraced `pass_s` "
                  f"{base:.3f} s (same seed) = {traced / base - 1:+.1%}."]
    return "\n".join(lines) + "\n"


# --- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--report", help="write the per-query layer table here (trace runs)")
    args = ap.parse_args(argv)
    t_start = time.time()
    # on SIGTERM unwind, so that run_worker kills the engine's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("finance_etl_spark/__init__.py", "tools/check.py", INGEST_CONFIG):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")

    w = WORKLOADS[args.workload]
    before = host.snapshot()
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    t0 = time.time()
    inputs = make_inputs(args.workload, args.seed)
    gen_s = time.time() - t0

    out = os.path.join(WORK, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spec = {
        "workload": args.workload,
        "kind": w["kind"],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "out": out,
        "queries": list(w.get("queries", ())),
        "ingest_config": os.path.join(ROOT, INGEST_CONFIG),
        **inputs,
    }
    res, peak_rss, t_launch = run_worker(spec, bool(args.trace), args.cores, t_start + DEADLINE_S)
    after = host.snapshot()
    t_checks = time.time()

    # output checks, outside every timed region
    if w["kind"] == "queries":
        with open(os.path.join(out, "outputs.pkl"), "rb") as f:
            outputs = pickle.load(f)
        problems = verify.check_queries(ROOT, spec["data_dir"], outputs)
    else:
        problems = verify.check_ingest(spec["batches"], res["ops"])
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    failed = failed_ops + len(problems)
    attempted = len(res["ops"])

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "gen_s": gen_s,
        "engine_s": t_checks - t_launch,
        "checks_s": time.time() - t_checks,
        "timed_passes": max((o["pass"] for o in res["ops"]), default=0),
        "timed_s": res["timed_s"],
        "host": {
            "nproc": host.nproc(),
            "cores": args.cores,
            "loadavg_before": before["loadavg"],
            "loadavg_after": after["loadavg"],
            "steal_s": after["steal_s"] - before["steal_s"],
            "java": res["setup"]["java"],
            "spark": res["setup"]["spark"],
            "pyspark": pyspark.__version__,
        },
        "setup": res["setup"],
        "errors": res["errors"],
        "problems": problems,
        "ops": res["ops"],
    }
    if args.trace:
        totals = attach_event_log(res, out)
        spans = with_self_time(res["spans"])
        metrics = per_layer(res, totals, spans, spec, peak_rss)
        record["spans"] = spans
        record["metrics"] = metrics
        if args.report and w["kind"] == "queries":
            with open(args.report, "w") as f:
                f.write(layer_table(res, totals, spans, args.workload, record))
        table = PER_LAYER
    else:
        metrics = end_to_end(res, t_launch)
        table = END_TO_END
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", os.path.basename(out) + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(out, ignore_errors=True)

    for p, msg in sorted(problems.items()):
        print(f"perfbench: output check failed: {p}: {msg}", file=sys.stderr)
    for e in res["errors"]:
        print(f"perfbench: operation failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, (unit, _) in table.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
