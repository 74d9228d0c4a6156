"""Engine process of one benchmark run.

Started by run.py with a JSON spec; imports the engine, starts its
Spark session, warms it (query workloads: a pass whose outputs are kept
for verification, then an untimed noop pass; ingest: four sequences of
batches), then times passes until the run's seconds are spent.
Writes ``result.json`` (timings, spans, counters) and ``outputs.pkl``
(query rows) into the spec's ``out`` directory. Verification happens in
the harness, after this process has exited.

With ``trace`` set, every call into the engine is tagged with a Spark
job group, py4j commands are counted during ``build()``, Catalyst phase
times are read after each query, and persisted RDDs are counted after
each ``clearCache()``. All of that happens outside the timed spans.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from host import tree_cpu_s  # noqa: E402
from spans import Py4jCounter, Tracer  # noqa: E402
from workloads import MAX_PASSES, MIN_PASSES  # noqa: E402


def _phases(df) -> dict:
    """Catalyst phase times (ms) of ``df``'s own QueryExecution. Forces
    its physical plan, which the noop write planned for itself."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.keySet().iterator()
    while it.hasNext():
        k = it.next()
        s = phases.apply(k)
        out[k] = s.durationMs()
    return out


def _order(names, seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.trace = bool(spec["trace"])
        self.tracer = Tracer()
        self.py4j = Py4jCounter()
        self.ops: list[dict] = []
        self.errors: list[str] = []

    def group(self, name: str) -> None:
        if self.trace:
            self.sc.setJobGroup(name, name)

    # --- set-up ------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.time()
        from finance_etl_spark import plans
        from finance_etl_spark.session import get_spark

        t1 = time.time()
        self.plans = plans
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        t2 = time.time()
        self.setup_rec = {
            "import_s": t1 - t0,
            "session_start_s": t2 - t1,
            "java": self.sc._jvm.System.getProperty("java.version"),
            "spark": self.spark.version,
            "cores": self.sc.defaultParallelism,
        }
        if self.trace:
            self.py4j.install()

    # --- queries -------------------------------------------------------------

    def query(self, name: str, pass_no: int, collect: bool):
        spec = self.plans.get(name)
        d = self.spec["data_dir"]
        rec = {"op": name, "pass": pass_no, "ok": True}
        out = None
        tag = rec["tag"] = f"{pass_no}|{name}"
        self.group(f"{tag}|build")
        calls0 = self.py4j.calls
        cpu0 = tree_cpu_s(os.getpid())
        try:
            with self.tracer.span("query", op=name, pass_no=pass_no) as q:
                with self.tracer.span("build"):
                    df = spec.build(self.spark, d)
                rec["py4j_calls"] = self.py4j.calls - calls0
                self.group(f"{tag}|write")
                if collect:
                    with self.tracer.span("collect"):
                        rows = df.collect()
                    out = self._output(df, rows)
                else:
                    with self.tracer.span("write") as w:
                        df.write.mode("overwrite").format("noop").save()
                    rec["write_span"] = w["id"]
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["wall_s"] = q["end"] - q["start"]
            rec["span"] = q["id"]
            if self.trace and not collect:
                rec["catalyst_ms"] = _phases(df)
        except Exception as e:  # counted as a failed operation
            rec["ok"] = False
            self.errors.append(f"{name} pass {pass_no}: {type(e).__name__}: {str(e)[:300]}")
        self.spark.catalog.clearCache()
        if self.trace:
            rec["persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        self.group("harness")
        self.ops.append(rec)
        return out

    @staticmethod
    def _output(df, rows) -> dict:
        from pyspark.sql.types import ArrayType, DecimalType, MapType

        fields = df.schema.fields
        return {
            "cols": [f.name for f in fields],
            "rows": [tuple(r) for r in rows],
            "array_cols": [f.name for f in fields if isinstance(f.dataType, (ArrayType, MapType))],
            "decimal_cols": [f.name for f in fields if isinstance(f.dataType, DecimalType)],
        }

    def run_queries(self) -> None:
        names = self.spec["queries"]
        seed = self.spec["seed"]
        outputs = {}
        with self.tracer.span("run", phase="warmup"):
            with self.tracer.span("pass", pass_no=0):
                for name in _order(names, seed, 0):
                    outputs[name] = self.query(name, 0, collect=True)
            # one more untimed pass down the timed path: after a single
            # pass the JIT is still compiling and pass times still fall
            with self.tracer.span("pass", pass_no=0):
                for name in _order(names, seed, -1):
                    self.query(name, 0, collect=False)
        self.warm_end = time.time()
        with open(os.path.join(self.spec["out"], "outputs.pkl"), "wb") as f:
            pickle.dump(outputs, f)
        self._timed(lambda p: [self.query(n, p, collect=False) for n in _order(names, seed, p)])

    def _timed(self, one_pass) -> None:
        t0 = time.time()
        p = 0
        with self.tracer.span("run", phase="timed"):
            while p < MIN_PASSES or (
                p < MAX_PASSES and time.time() - t0 < self.spec["seconds"]
            ):
                p += 1
                with self.tracer.span("pass", pass_no=p):
                    one_pass(p)
        self.timed_s = time.time() - t0

    # --- ingest --------------------------------------------------------------

    def run_ingest(self) -> None:
        from finance_etl_spark.ingest import load_config
        from finance_etl_spark.io import sinks

        self.sinks = sinks
        self.config = load_config(self.spec["ingest_config"])
        with self.tracer.span("run", phase="warmup"):
            # four sequences: after two, batch times and CPU per batch
            # are still falling
            for label in ("w0", "w1", "w2", "w3"):
                with self.tracer.span("pass", pass_no=0):
                    self.sequence(0, label)
        self.warm_end = time.time()
        self._timed(lambda p: self.sequence(p, f"{p:02d}"))

    def sequence(self, seq: int, label: str) -> None:
        """All batches, in order, into a fresh sink."""
        from finance_etl_spark.ingest import run_ingest

        sink = os.path.join(self.spec["out"], "sinks", f"seq-{label}")
        for b, batch in enumerate(self.spec["batches"]):
            rec = {"op": f"batch-{b:02d}", "pass": seq, "ok": True, "sink": sink,
                   "written": {}}
            tag = rec["tag"] = f"{label}|batch-{b:02d}"
            cpu0 = tree_cpu_s(os.getpid())
            try:
                with self.tracer.span("batch", op=rec["op"], pass_no=seq) as bs:
                    self.group(f"{tag}|ingest")
                    with self.tracer.span("ingest"):
                        dfs = run_ingest(self.spark, batch["dir"], self.config)
                    for mtype in sorted(dfs):
                        self.group(f"{tag}|append:{mtype}")
                        with self.tracer.span("append", mtype=mtype):
                            rec["written"][mtype] = self.sinks.append_new_records(
                                dfs[mtype], os.path.join(sink, mtype)
                            )
                rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
                rec["wall_s"] = bs["end"] - bs["start"]
                rec["span"] = bs["id"]
            except Exception as e:
                rec["ok"] = False
                self.errors.append(f"{rec['op']} seq {seq}: {type(e).__name__}: {str(e)[:300]}")
            self.group("harness")
            self.ops.append(rec)

    # --- main ----------------------------------------------------------------

    def main(self) -> None:
        self.setup()
        if self.spec["kind"] == "queries":
            self.run_queries()
        else:
            self.run_ingest()
        self.py4j.uninstall()
        result = {
            "setup": dict(self.setup_rec, warm_end=self.warm_end),
            "timed_s": self.timed_s,
            "ops": self.ops,
            "errors": self.errors,
            "spans": self.tracer.spans,
            "app_id": self.sc.applicationId,
        }
        if self.trace:  # flushes and closes the event log
            self.spark.stop()
        with open(os.path.join(self.spec["out"], "result.json"), "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        Run(json.load(f)).main()
