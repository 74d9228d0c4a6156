"""Tests of the benchmark's own machinery (no Spark session needed).

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_is_duration_minus_direct_children():
    clock = FakeClock()
    tr = spans.Tracer(clock)
    with tr.span("query"):
        clock.t = 1.0
        with tr.span("build"):
            clock.t = 3.0
        with tr.span("write") as w:
            clock.t = 4.0
            with tr.span("inner"):
                clock.t = 9.0
        clock.t = 10.0
    tr.spans.append({"id": len(tr.spans), "parent": w["id"], "name": "execute",
                     "start": 4.5, "end": 8.5})
    out = {s["name"]: s for s in spans.with_self_time(tr.spans)}
    assert out["query"]["dur"] == 10.0
    assert out["query"]["self"] == 10.0 - 2.0 - 6.0  # build + write only
    assert out["write"]["self"] == 6.0 - 5.0 - 4.0
    assert out["build"]["self"] == out["build"]["dur"] == 2.0
    assert out["inner"]["parent"] == out["write"]["id"]


def test_py4j_filter_skips_memory_deletes():
    assert not spans.counts_as_call("m\nd\no123\ne\n")
    assert spans.counts_as_call("c\no12\ngetPersistentRDDs\ne\n")
    assert spans.counts_as_call("m\nx\n")


def test_py4j_counter_wraps_send_command():
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    sent = []
    ClientServerConnection.send_command = lambda conn, cmd: sent.append(cmd) or "ok"
    try:
        c = spans.Py4jCounter()
        c.install()
        for cmd in ("c\no1\nfoo\ne\n", "m\nd\no1\ne\n", "r\nu\nbar\ne\n", "m\nd\no2\ne\n"):
            assert ClientServerConnection.send_command(None, cmd) == "ok"
        c.uninstall()
        ClientServerConnection.send_command(None, "c\no1\nfoo\ne\n")
        assert c.calls == 2
        assert len(sent) == 5
    finally:
        ClientServerConnection.send_command = real


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("seed", [3, 4])
def test_same_seed_gives_byte_identical_inputs(tmp_path, seed):
    digests = []
    for k in range(2):
        base = tmp_path / f"s{k}"
        gen.star(seed, 0.002, str(base / "star"))
        gen.derive(str(base / "star"), str(base / "derived"), 2)
        gen.ingest_corpus(seed, str(base / "ingest"), 2, 3, 50, 1)
        digests.append(_digest(str(base)))
    assert digests[0] == digests[1]
    other = tmp_path / "other"
    gen.star(seed + 100, 0.002, str(other / "star"))
    assert _digest(str(other / "star")) != _digest(str(tmp_path / "s0" / "star"))


def test_ingest_corpus_rows_distinct_and_redelivered(tmp_path):
    m = gen.ingest_corpus(1, str(tmp_path), 3, 3, 40, 1)
    keys = [k for b in m for ks in b["new_keys"].values() for k in ks]
    assert len(keys) == len(set(keys)) == 3 * 3 * 40
    assert {t for b in m for t, ks in b["new_keys"].items() if ks} == {"stm", "sec"}
    assert m[0]["redelivered"] == []
    for b in m[1:]:
        assert len(b["redelivered"]) == 1
        again = b["redelivered"][0]
        first = next(x for x in m if again in x["new_files"])
        with open(os.path.join(b["dir"], again), "rb") as f1, open(
            os.path.join(first["dir"], again), "rb"
        ) as f2:
            assert f1.read() == f2.read()


def test_derived_copies_shift_keys_apart(tmp_path):
    import pyarrow.parquet as pq

    gen.star(5, 0.002, str(tmp_path / "star"))
    gen.derive(str(tmp_path / "star"), str(tmp_path / "d"), 3)
    base = pq.read_table(str(tmp_path / "star" / "orders.parquet"))
    grown = pq.read_table(str(tmp_path / "d" / "orders.parquet"))
    assert grown.num_rows == 3 * base.num_rows
    keys = grown["o_orderkey"].to_pylist()
    assert len(set(keys)) == len(keys)
    # every line item still joins its own copy's order
    items = pq.read_table(str(tmp_path / "d" / "lineitem.parquet"))
    assert items.num_rows == 3 * pq.read_table(str(tmp_path / "star" / "lineitem.parquet")).num_rows
    assert set(items["l_orderkey"].to_pylist()) <= set(keys)
    assert pq.read_table(str(tmp_path / "d" / "customer.parquet")).equals(
        pq.read_table(str(tmp_path / "star" / "customer.parquet")))


def test_documents_plant_one_near_dup_in_twenty():
    docs = gen.star_tables(7, 0.01)["documents"]
    texts = docs["text"].to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(texts) == 500 and len(dups) == 25
    lengths = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(lengths) >= 10 and max(lengths) <= 99
    assert {w for t in texts for w in t.split()} <= set(gen.WORDS) | {"dup"}


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    b = _benchmark_json()
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == PER_LAYER


def _fake_result(kind: str) -> tuple[dict, dict]:
    tr = spans.Tracer(FakeClock())
    ops = []
    for p in range(4):
        with tr.span("query") as q:
            with tr.span("build"):
                pass
            with tr.span("write") as w:
                pass
        op = {"op": "x", "pass": p, "tag": f"{p}|x", "ok": True, "wall_s": 1.0 + p,
              "cpu_s": 2.0, "span": q["id"],
              "write_span": w["id"], "py4j_calls": 7, "catalyst_ms": {"analysis": 1},
              "persisted_rdds": 0, "sink": "/nonexistent", "written": {"stm": 1}}
        ops.append(op)
    res = {"ops": ops, "spans": tr.spans,
           "setup": {"import_s": 1.0, "session_start_s": 2.0, "warm_end": 5.0}}
    spec = {"kind": kind, "batches": [{"rows_in": 2, "new_bytes": 10}]}
    return res, spec


@pytest.mark.parametrize("kind", ["queries", "ingest"])
def test_printed_metric_names_match_tables(kind):
    res, spec = _fake_result(kind)
    e2e = run.end_to_end(res, 1.0)
    assert set(e2e) == set(END_TO_END)
    assert e2e["pass_s"] == 3.0  # median of the timed passes 2, 3, 4
    layer = run.per_layer(res, {}, spans.with_self_time(res["spans"]), spec, 2**20)
    assert set(layer) == set(PER_LAYER)
    assert layer["proc.peak_rss_mb"] == 1.0


def test_event_log_totals_by_job_group(tmp_path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "1|q|write"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "1|q|build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "RDD Info": [{"Scope": '{"name":"Scan parquet "}'}],
            "Submission Time": 1000, "Completion Time": 1750,
            "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
                {"Name": "internal.metrics.input.recordsRead", "Value": 100},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 64}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 2, "RDD Info": [{"Scope": '{"name":"InMemoryTableScan"}'}],
            "Accumulables": [{"Name": "internal.metrics.input.recordsRead", "Value": 5}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 1500, "jobGroupId": "1|q|write"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 3, "time": 4000},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in ev))
    t = eventlog.group_totals(str(path))
    w = t["1|q|write"]
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 2, 6)
    assert w["cpu_s"] == 2.0
    assert w["scan_rows"] == 100 and w["parquet_scan_rows"] == 100
    assert w["parquet_scan_s"] == 0.75
    assert w["shuffle_write_bytes"] == 64
    assert (w["sql_start"], w["sql_end"]) == (1.5, 4.0)
    assert t["1|q|build"]["jobs"] == 1 and t["1|q|build"]["stages"] == 0
