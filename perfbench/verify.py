"""Output checks, run by the harness after the engine process exits.

Queries: each output is compared with the query's registered DuckDB
oracle using the canonicalization of the repo's correctness harness
(``tools/check.py``), imported, not copied. A query without an oracle
gets a rows check. Ingest: every sink holds exactly the distinct
generated rows, and re-delivered files add zero rows.
"""

from __future__ import annotations

import os
import sys

import duckdb


def _check_module(repo: str):
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import check
    finally:
        sys.path.pop(0)
    return check


def _views(con, data_dir: str) -> None:
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{src}')"
        )


def check_queries(repo: str, data_dir: str, outputs: dict) -> dict[str, str]:
    """{query: problem} for every query whose output does not match."""
    check = _check_module(repo)
    from finance_etl_spark import plans

    con = duckdb.connect()
    _views(con, data_dir)
    problems = {}
    for name, out in outputs.items():
        p = _check_one(check, con, plans.get(name).oracle, out)
        if p:
            problems[name] = p
    return problems


def _check_one(check, con, oracle: str | None, out: dict | None) -> str | None:
    if out is None:
        return "no output (the query failed)"
    s_cols, s_rows = out["cols"], out["rows"]
    if out["array_cols"]:
        return f"raw ARRAY/MAP output columns {out['array_cols']}"
    if out["decimal_cols"]:
        return f"raw DECIMAL output columns {out['decimal_cols']}"
    if not s_rows:
        return "empty result"
    if oracle is None:
        return None
    tbl = con.execute(oracle).fetch_arrow_table()
    d_cols = list(tbl.column_names)
    cols_py = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    d_rows = list(zip(*cols_py)) if tbl.num_rows else []
    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} vs oracle {len(d_rows)}"
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return f"columns {sorted(s_cols)} vs oracle {sorted(d_cols)}"
    sk = {k.lower(): v for k, v in check.col_kinds(s_cols, s_rows).items()}
    dk = {k.lower(): v for k, v in check.col_kinds(d_cols, d_rows).items()}
    mism = {c: (sk[c], dk[c]) for c in sk if sk[c] != dk[c] and "null" not in (sk[c], dk[c])}
    if mism:
        return f"kinds {mism}"
    sm = check.rows_to_multiset([c.lower() for c in s_cols], s_rows)
    dm = check.rows_to_multiset([c.lower() for c in d_cols], d_rows)
    if sm != dm:
        only_s = [r for r in sm if r not in set(dm)][:2]
        return f"values differ, e.g. {only_s}"
    return check.driver_canon_diff(s_cols, s_rows, d_cols, d_rows)


def check_ingest(manifests: list[dict], ops: list[dict]) -> dict[str, str]:
    """{sink: problem} for every sink that does not hold exactly the
    generated rows, or whose batches wrote other than their new rows."""
    expected = {"stm": set(), "sec": set()}
    for m in manifests:
        for mtype, keys in m["new_keys"].items():
            expected[mtype].update(keys)
    problems = {}
    sinks = {}
    for op in ops:
        sinks.setdefault(op["sink"], []).append(op)
    con = duckdb.connect()
    for sink, batch_ops in sorted(sinks.items()):
        for b, op in enumerate(batch_ops):
            want = {t: len(k) for t, k in manifests[b]["new_keys"].items()}
            if not op["ok"] or op["written"] != want:
                problems[f"{sink} {op['op']}"] = f"wrote {op['written']}, expected {want}"
        for mtype, keys in expected.items():
            files = os.path.join(sink, mtype, "*.parquet")
            got = con.execute(
                f"SELECT surrogate_key FROM read_parquet('{files}')"
            ).fetchall()
            got_keys = [k for (k,) in got]
            if len(got_keys) != len(keys) or set(got_keys) != keys:
                problems[f"{sink}/{mtype}"] = (
                    f"{len(got_keys)} rows ({len(set(got_keys))} distinct keys),"
                    f" expected {len(keys)} distinct generated rows"
                )
    return problems
