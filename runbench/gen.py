"""Seeded input generator for the archival-run benchmark.

Two kinds of input, both cached under the build directory:

* the base tables: the sf0.1 fixture set. ``documents`` and
  ``embeddings`` are the fixture files themselves (``fixtures/sf0.1``);
  the TPC-H-ish star schema and ``events`` are generated from a fixed
  seed with the fixtures' row counts, column names, types and parquet
  timestamp encoding and uniform value draws, so the query mix always
  sees the same data;
* an archive store per seed: the base tables plus a soft-delete column
  ``deleted_at``. The seed marks about 60% of ``orders`` and ``events``
  rows deleted at a time spread evenly over 1997-07-01 .. 1998-07-01;
  every ``lineitem`` row inherits its order's ``deleted_at`` (the way a
  cascading delete marks children). The three archivable tables are
  written as several parquet files so their scans are not single tasks.

Usage: python3 gen.py <out_dir> [seed]   (prints row and byte sizes)
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ARCHIVABLE = ["orders", "lineitem", "events"]
FILES_PER_TABLE = 4
MARKED_SHARE = 0.6
DELETE_FROM = dt.datetime(1997, 7, 1)
DELETE_TO = dt.datetime(1998, 7, 1)
HERE = os.path.dirname(os.path.abspath(__file__))
# unmodified copies of the sf0.1 fixture files of the library's text and
# vector tables (5,000 documents, 2,000 embeddings): the query mix's text
# queries depend on the corpus' vocabulary and near-duplicate structure
FIXTURES = {n: f"{HERE}/fixtures/sf0.1/{n}.parquet" for n in ("documents", "embeddings")}


def _ts(rng, lo, hi, n):
    """n timestamps uniform in [lo, hi), microsecond resolution."""
    lo_us = int(lo.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    hi_us = int(hi.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return rng.integers(lo_us, hi_us, n).astype("datetime64[us]")


def _days(rng, lo, hi, n):
    return (_ts(rng, lo, hi, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def version():
    """Digest of this generator and the fixture files: names the data
    directory, so a changed generator never reuses stale inputs."""
    h = hashlib.sha256()
    for path in [os.path.abspath(__file__)] + sorted(FIXTURES.values()):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def base_tables():
    """The generated base tables, as pyarrow tables keyed by name."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": regions})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = 15000
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    ns = 1000
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = 20000
    adj = ["large", "hot", "blue", "cold", "red", "small", "new", "old"]
    noun = ["ring", "bolt", "gear", "plate", "rod", "anvil", "widget", "nut"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart),
                                              rng.choice(noun, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = 150000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["O", "P", "F"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 2), no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    # 1..7 lines per order, unique (l_orderkey, l_linenumber), ~600k rows
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) -
            np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    nl = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 5), nl)})
    ne = 100000
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(_ts(rng, dt.datetime(2024, 1, 1),
                          dt.datetime(2024, 1, 31), ne)),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return t


def _dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _publish(tmp, out):
    """Atomically move a finished tree into place (concurrent-safe cache)."""
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise


def ensure_base(out):
    """Write the base tables as one parquet file each, once."""
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables().items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    for name, path in FIXTURES.items():
        shutil.copyfile(path, f"{tmp}/{name}.parquet")
    _publish(tmp, out)
    return out


def ensure_store(base, out, seed):
    """The seeded archive store derived from ``base``, once per seed.

    Returns a summary with the row and byte size of each table and how
    many rows carry a ``deleted_at``."""
    summary_path = f"{out}/_summary.json"
    if os.path.isfile(summary_path):
        with open(summary_path) as f:
            return json.load(f)
    rng = np.random.default_rng([seed, 7])
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {n: pq.read_table(f"{base}/{n}.parquet") for n in TABLES}

    def marks(n):
        deleted = _ts(rng, DELETE_FROM, DELETE_TO, n)
        keep = rng.random(n) >= MARKED_SHARE
        return pa.array(np.where(keep, np.datetime64("NaT"), deleted),
                        pa.timestamp("us"))

    orders_del = marks(tables["orders"].num_rows)
    tables["orders"] = tables["orders"].append_column("deleted_at", orders_del)
    okeys = tables["lineitem"].column("l_orderkey").to_numpy()
    tables["lineitem"] = tables["lineitem"].append_column(
        "deleted_at", orders_del.take(pa.array(okeys)))
    tables["events"] = tables["events"].append_column(
        "deleted_at", marks(tables["events"].num_rows))
    summary = {"seed": seed, "tables": {}}
    for name, table in tables.items():
        path = f"{tmp}/{name}.parquet"
        if name in ARCHIVABLE:
            os.makedirs(path)
            step = -(-table.num_rows // FILES_PER_TABLE)
            for i in range(FILES_PER_TABLE):
                pq.write_table(table.slice(i * step, step),
                               f"{path}/part-{i:05d}.parquet")
        else:
            shutil.copyfile(f"{base}/{name}.parquet", path)
        summary["tables"][name] = {
            "rows": table.num_rows, "bytes": _dir_bytes(path),
            "marked": (table.num_rows - table.column("deleted_at").null_count
                       if name in ARCHIVABLE else 0)}
    with open(f"{tmp}/_summary.json", "w") as f:
        json.dump(summary, f)
    _publish(tmp, out)
    return summary


if __name__ == "__main__":
    root = sys.argv[1]
    base = ensure_base(f"{root}/base")
    print(json.dumps({n: {"rows": pq.read_metadata(f"{base}/{n}.parquet").num_rows,
                          "bytes": _dir_bytes(f"{base}/{n}.parquet")}
                      for n in TABLES}))
    if len(sys.argv) > 2:
        s = int(sys.argv[2])
        print(json.dumps(ensure_store(base, f"{root}/store-{s}", s)))
