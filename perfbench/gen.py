"""Seeded input generators for the benchmark.

Everything here is built with numpy and pyarrow, never with the Spark
engine under test, so a change to the engine cannot change its own
inputs. The same seed gives byte-identical files.

Three generators:

- ``star(seed, sf)``: the tables the benchmark's queries read (region,
  nation, customer, supplier, orders, lineitem, documents) with the
  column names, types, value domains and row counts per scale factor
  of the engine's reference corpus (lineitem = 6M x sf; documents are
  bags of words over the same 30-word vocabulary, 10 to 99 words long,
  5% of them an other document's text plus the token ``dup``).
- ``derive(src, dst, copies)``: grows lineitem and orders by
  key-shifted copies (orderkeys move in disjoint ranges) while the
  dimension tables stay as they are -- TPC-H-style fact growth against
  fixed dimensions, so every predicate keeps its selectivity.
- ``ingest_corpus(seed, ...)``: statement and securities CSV files for
  the three configured ingest groups, fed as batches. Every generated
  row is distinct; each batch after the first also re-delivers a share
  of earlier files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "orders",
    "lineitem",
    "documents",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.15, 0.14, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_EPOCH = np.datetime64("1995-01-01", "D")
_SHIP_EPOCH = np.datetime64("1995-01-02", "D")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per (seed, table), so adding a table
    never shifts the values of another."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_supp)),
        }
    )

    r = _rng(seed, "orders")
    odate = _ORDER_EPOCH + r.integers(0, 2405, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )

    r = _rng(seed, "lineitem")
    ship = _SHIP_EPOCH + r.integers(0, 2499, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(_cents(r, 0.0, 0.1, n_li)),
            "l_tax": pa.array(_cents(r, 0.0, 0.08, n_li)),
            "l_returnflag": _pick(r, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(r, ("F", "O"), n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )

    out["documents"] = _documents(_rng(seed, "documents"), n_docs)
    return out


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts, 10 to 99 words each; n/20 documents, at
    random positions, are replaced by a random document's text plus the
    token ``dup`` (planted near-dups)."""
    lengths = r.integers(10, 100, n)
    words = r.integers(0, len(WORDS), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(WORDS[w] for w in words[e - k : e]) for e, k in zip(ends, lengths)]
    for i in r.choice(n, size=n // 20, replace=False):
        src = int(r.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(r, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def star(seed: int, sf: float, dst: str, tables=STAR_TABLES) -> None:
    """Write the star corpus for ``seed`` at scale ``sf`` into ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        if name in tables:
            _write(table, os.path.join(dst, f"{name}.parquet"))


def _shift(col: pa.ChunkedArray, by) -> pa.ChunkedArray:
    return pc.add(col, pa.scalar(by, col.type))


def _key_shift(max_key: int) -> int:
    return 10 ** len(str(max_key))


def derive(src: str, dst: str, copies: int, tables=STAR_TABLES) -> None:
    """Grow lineitem and orders of the star corpus in ``src`` by
    ``copies`` key-shifted copies (written one file per copy); the other
    named ``tables`` are copied unchanged."""
    os.makedirs(dst, exist_ok=True)
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    okey = _key_shift(pc.max(orders["o_orderkey"]).as_py())
    shifts = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
    for name in tables:
        if name not in shifts:
            shutil.copyfile(
                os.path.join(src, f"{name}.parquet"),
                os.path.join(dst, f"{name}.parquet"),
            )
            continue
        out_dir = os.path.join(dst, f"{name}.parquet")
        os.makedirs(out_dir, exist_ok=True)
        base = pq.read_table(os.path.join(src, f"{name}.parquet"))
        col = shifts[name]
        i = base.schema.get_field_index(col)
        for k in range(copies):
            t = base.set_column(i, col, _shift(base[col], k * okey))
            _write(t, os.path.join(out_dir, f"part-{k:05d}.parquet"))


# --- ingest corpus ------------------------------------------------------

# (bank, acc_type, mapping_type, separator, header, account)
INGEST_GROUPS = (
    ("alpha", "current", "stm", ";", "Account;Date;Amount;D/C;Payee",
     "EE123456789012345678"),
    ("beta", "savings", "stm", ",", "Konto,Kuupaev,Summa,DC,Kirjeldus",
     "EE555000111222333444"),
    ("beta", "broker", "sec", ",",
     "SendDate,EffectiveDate,ISIN,Quantity,Price", None),
)
ISINS = ("EE0000001105", "US0378331005", "US5949181045", "DE0007164600",
         "FI0009000681", "LV0000101806")
_INGEST_EPOCH = dt.date(2025, 1, 1)


def _ingest_rows(r, group: int, first: int, n: int) -> list[list[str]]:
    """``n`` raw CSV rows for one group. Row ``first + i`` carries its
    global index, so every generated row is distinct."""
    bank, _, mtype, _, _, account = INGEST_GROUPS[group]
    days = r.integers(0, 365, n)
    rows = []
    if mtype == "stm":
        cents = r.integers(1, 500_000, n)
        dc = r.integers(0, 2, n)
        for i in range(n):
            d = _INGEST_EPOCH + dt.timedelta(days=int(days[i]))
            c = int(cents[i])
            if bank == "alpha":
                date, amount = d.strftime("%d.%m.%Y"), f"{c // 100},{c % 100:02d}"
            else:
                date, amount = d.strftime("%Y/%m/%d"), f"{c // 100}.{c % 100:02d}"
            rows.append([account, date, amount, "DC"[dc[i]], f"Payee {first + i}"])
    else:
        isin = r.integers(0, len(ISINS), n)
        lag = r.integers(0, 5, n)
        cents = r.integers(100, 100_000, n)
        for i in range(n):
            d = _INGEST_EPOCH + dt.timedelta(days=int(days[i]))
            e = d + dt.timedelta(days=int(lag[i]))
            c = int(cents[i])
            rows.append([d.isoformat(), e.isoformat(), ISINS[isin[i]],
                         str(first + i), f"{c // 100}.{c % 100:02d}"])
    return rows


def ingest_key(raw: list[str]) -> str:
    """The surrogate key of one raw row: md5 of the '#'-joined raw
    string values, computed independently of the engine."""
    return hashlib.md5("#".join(raw).encode()).hexdigest()


def ingest_corpus(
    seed: int,
    dst: str,
    batches: int,
    files_per_batch: int,
    rows_per_file: int,
    redeliver: int,
) -> list[dict]:
    """Write ``batches`` batch directories under ``dst``. Batch ``b`` holds
    ``files_per_batch`` new files (groups in rotation) plus ``redeliver``
    files copied byte for byte from earlier batches.

    Returns one manifest per batch: its directory, the new and the
    re-delivered file names, the expected new keys per mapping type, and
    the input row and byte counts."""
    r = _rng(seed, "ingest")
    manifests = []
    delivered: list[tuple[str, bytes]] = []
    row_no = 0
    file_no = 0
    for b in range(batches):
        bdir = os.path.join(dst, f"batch-{b:02d}")
        os.makedirs(bdir, exist_ok=True)
        keys: dict[str, list[str]] = {"stm": [], "sec": []}
        new_files, new_bytes, rows_in = [], 0, 0
        for _ in range(files_per_batch):
            g = file_no % len(INGEST_GROUPS)
            bank, acc_type, mtype, sep, header, _ = INGEST_GROUPS[g]
            day = _INGEST_EPOCH + dt.timedelta(days=file_no)
            name = f"{bank}_{acc_type}_{mtype}_{day:%Y%m%d}.csv"
            rows = _ingest_rows(r, g, row_no, rows_per_file)
            row_no += rows_per_file
            file_no += 1
            body = "\n".join([header] + [sep.join(x) for x in rows]) + "\n"
            data = body.encode()
            with open(os.path.join(bdir, name), "wb") as f:
                f.write(data)
            keys[mtype].extend(ingest_key(x) for x in rows)
            new_files.append(name)
            new_bytes += len(data)
            rows_in += rows_per_file
            delivered.append((name, data))
        again = []
        if b:
            earlier = delivered[: b * files_per_batch]
            for j in r.choice(len(earlier), size=min(redeliver, len(earlier)), replace=False):
                name, data = earlier[int(j)]
                with open(os.path.join(bdir, name), "wb") as f:
                    f.write(data)
                again.append(name)
                rows_in += data.count(b"\n") - 1
        manifests.append(
            {
                "dir": bdir,
                "new_files": new_files,
                "redelivered": sorted(again),
                "new_keys": keys,
                "rows_in": rows_in,
                "new_bytes": new_bytes,
            }
        )
    return manifests
