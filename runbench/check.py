"""Output checks for the archival-run benchmark, independent of Spark.

* ``check_archive``: the archival invariant, computed by DuckDB from the
  generated input and read back from every sink and the live store.
  For every completed table, each row past the cut is in every sink
  exactly once, with values equal by column name, and the live store is
  the input minus those rows. For a vetoed table, every row is still
  live and no sink holds a row that is not past the cut. A veto is a
  failed operation, not a failed check.
* ``check_queries``: every query's output equals DuckDB running its
  ``SparkEntry.oracleSql``, canonicalized as the repo's oracle gate
  does (column-name sort, row sort, ``str()`` cells).

Each sink is compared in its own rendering: CSV timestamps carry
milliseconds, and a SQL dump is compared as the text of its VALUES lists
(timestamps to the second, two-decimal numbers), so the expected rows are
rendered the same way before comparing.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

DB = "nova"  # SourceConfig name the benchmark archives under


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _parquet(path):
    """A Spark- or generator-written parquet table: a file or a dir."""
    if os.path.isfile(path):
        return f"read_parquet('{path}')"
    return f"read_parquet('{path}/*.parquet')"


def _types(con, rel):
    return {r[0].lower(): r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}


def _sql_literal(col, typ):
    """DuckDB expression for the literal `SqlDump.literal` writes for one
    value: strings MySQL-escaped and quoted, timestamps to the second,
    floating point to two decimals, NULL unquoted."""
    c = f'"{col}"'
    if typ.startswith("TIMESTAMP"):
        lit = f"'''' || strftime({c}::TIMESTAMP, '%Y-%m-%d %H:%M:%S') || ''''"
    elif typ in ("DOUBLE", "FLOAT"):
        lit = f"printf('%.2f', {c})"
    elif typ == "VARCHAR":
        lit = c
        # backslash first, as SqlDump.escape does
        for code, to in ((92, "chr(92) || chr(92)"), (39, "chr(92) || chr(39)"),
                         (10, "chr(92) || 'n'"), (13, "chr(92) || 'r'"),
                         (9, "chr(92) || 't'"), (0, "chr(92) || '0'")):
            lit = f"replace({lit}, chr({code}), {to})"
        lit = f"'''' || {lit} || ''''"
    else:
        lit = f"{c}::VARCHAR"
    return f"CASE WHEN {c} IS NULL THEN 'NULL' ELSE {lit} END"


def _sink_view(con, kind, rep, table, types):
    """A DuckDB view of one sink's rows for ``table``, and the select list
    that renders expected rows the way this sink stores them. Parquet,
    CSV and exported JDBC rows come back as the input's columns (lower
    case); a SQL dump is one ``values`` column, the text between
    ``VALUES (`` and ``)`` of each statement. (None, None) if the sink
    holds nothing for the table."""
    cols = sorted(types)
    path = {"parquet": f"{rep}/parquet/{DB}/{table}", "jdbc": f"{rep}/derby_export/{table}",
            "csv": f"{rep}/csv/{DB}.{table}.csv", "sql": f"{rep}/sql/{DB}.{table}.sql"}[kind]
    parts = sorted(glob.glob(f"{path}/part-*"))
    if not parts:
        return None, None
    view = f"sink_{kind}_{table}"
    if kind == "sql":
        with open(parts[0]) as fh:
            head = fh.readline().partition(") VALUES (")[0]
        order = [c.strip(" `").lower() for c in head.split("(", 1)[1].split(",")]
        lines = (f"read_csv('{path}/part-*', columns={{'line': 'VARCHAR'}}, header=false, "
                 "delim='\x01', quote='', escape='', auto_detect=false)")
        con.execute(f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT regexp_extract(line, "
                    f"' VALUES \\((.*)\\) ON DUPLICATE KEY UPDATE ', 1) AS \"values\" FROM {lines}")
        return view, ("concat_ws(', ', " + ", ".join(_sql_literal(c, types[c]) for c in order)
                      + ') AS "values"')
    if kind == "csv":
        src = f"read_csv('{path}/part-*', header=true, escape='\\', quote='\"', all_varchar=true)"
        got = {c: c for c in cols}
    else:
        src = _parquet(path)
        got = {k.lower(): k for k in _types(con, src)}
    sel = ", ".join(f'"{got[c]}"::{types[c]} AS "{c}"' for c in cols)
    con.execute(f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT {sel} FROM {src}")
    # CSV timestamps carry milliseconds
    return view, ", ".join(
        f"date_trunc('millisecond', \"{c}\"::TIMESTAMP) AS \"{c}\""
        if kind == "csv" and types[c].startswith("TIMESTAMP") else f'"{c}"' for c in cols)


def _diff(con, a, b, cols):
    """Rows of ``a`` not matched one-for-one in ``b`` (multiset)."""
    sel = ", ".join(f'"{c}"' for c in cols)
    return con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL "
                       f"SELECT {sel} FROM {b})").fetchone()[0]


def _same(con, a, b, cols):
    """Whether ``a`` and ``b`` hold the same rows as multisets: compared by
    row count and the sum of row hashes, one scan per side."""
    sel = ", ".join(f'"{c}"' for c in cols)
    fp = "SELECT count(*), sum(hash({})::HUGEINT) FROM {}"
    return (con.execute(fp.format(sel, a)).fetchone() ==
            con.execute(fp.format(sel, b)).fetchone())


def check_archive(rep, input_live, archive_seed, cut, results, sink_kinds):
    """Check one repetition's outputs. Returns (ok, problems, moved_rows)."""
    con = _con()
    problems, moved = [], 0
    for r in results:
        t = r["table"]
        src = _parquet(f"{input_live}/{t}.parquet")
        types = _types(con, src)
        cols = sorted(types)
        con.execute(f"CREATE OR REPLACE TEMP VIEW input_{t} AS SELECT * FROM {src}")
        con.execute(f"CREATE OR REPLACE TEMP VIEW exp_{t} AS SELECT * FROM input_{t} "
                    f"WHERE deleted_at IS NOT NULL AND deleted_at <= TIMESTAMP '{cut}'")
        con.execute(f"CREATE OR REPLACE TEMP VIEW live_{t} AS SELECT * FROM "
                    f"{_parquet(f'{rep}/live/{t}.parquet')}")
        # the parquet archive accumulates: earlier runs' rows plus today's
        seed = (f" UNION ALL BY NAME SELECT * FROM {_parquet(f'{archive_seed}/{DB}/{t}')}"
                if archive_seed and os.path.isdir(f"{archive_seed}/{DB}/{t}") else "")
        con.execute(f"CREATE OR REPLACE TEMP VIEW expacc_{t} AS SELECT * FROM exp_{t}{seed}")
        n_exp = con.execute(f"SELECT count(*) FROM exp_{t}").fetchone()[0]
        if n_exp != r["archived"]:
            problems.append(f"{t}: archived {r['archived']} rows, {n_exp} are past the cut")
        for kind in sink_kinds:
            view, rend = _sink_view(con, kind, rep, t, types)
            if view is None:
                if not r["vetoed"] and n_exp:
                    problems.append(f"{t}: {kind} sink holds nothing")
                continue
            want = f"expacc_{t}" if kind == "parquet" else f"exp_{t}"
            con.execute(f"CREATE OR REPLACE TEMP VIEW want_{kind}_{t} AS SELECT {rend} FROM {want}")
            sink_cols = ["values"] if kind == "sql" else cols
            if not r["vetoed"] and _same(con, view, f"want_{kind}_{t}", sink_cols):
                continue
            extra = _diff(con, view, f"want_{kind}_{t}", sink_cols)
            if extra:
                problems.append(f"{t}: {kind} sink holds {extra} rows that are not past the cut "
                                "(or are duplicated)")
            if not r["vetoed"]:
                missing = _diff(con, f"want_{kind}_{t}", view, sink_cols)
                problems.append(f"{t}: {kind} sink lacks {missing} archived rows")
        if r["vetoed"]:
            want_live = f"input_{t}"
        else:
            con.execute(f"CREATE OR REPLACE TEMP VIEW rest_{t} AS SELECT * FROM input_{t} "
                        f"WHERE deleted_at IS NULL OR deleted_at > TIMESTAMP '{cut}'")
            want_live = f"rest_{t}"
        if not _same(con, f"live_{t}", want_live, cols):
            problems.append(f"{t}: live store is not the input minus the archived rows"
                            if not r["vetoed"] else f"{t}: vetoed table lost live rows")
        if not r["vetoed"] and not any(p.startswith(f"{t}:") for p in problems):
            moved += n_exp
    con.close()
    return not problems, problems, moved


# --- query oracle -----------------------------------------------------------
def _canon(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(v) else str(float(v))
    if isinstance(v, np.ndarray):
        return "ARRAY[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(_canon(v) for v in row)
                        for row in df[cols].itertuples(index=False, name=None))


def check_queries(out_dir, base, names, cache_dir):
    """Compare each query's Spark output with its DuckDB oracle. The
    oracle's canonical rows are cached by SQL text and input directory.
    Returns (ok, problems, rows_per_query)."""
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    problems, nrows = [], {}
    for q in names:
        files = sorted(glob.glob(f"{out_dir}/{q}/*.parquet"))
        got_cols, got = _rows(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                              if files else pd.DataFrame())
        nrows[q] = len(got)
        if q not in oracle:
            problems.append(f"{q}: no oracle SQL")
            continue
        key = hashlib.sha256((oracle[q] + "\0" + base).encode()).hexdigest()[:24]
        cached = f"{cache_dir}/{q}-{key}.json"
        if os.path.isfile(cached):
            with open(cached) as f:
                exp_cols, exp = json.load(f)
            exp = [tuple(r) for r in exp]
        else:
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(f"{base}/*.parquet"):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
            exp_cols, exp = _rows(con.execute(oracle[q]).df())
            tmp = f"{cached}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump([exp_cols, exp], f)
            os.replace(tmp, cached)
        if got_cols != exp_cols:
            problems.append(f"{q}: columns {got_cols} != oracle {exp_cols}")
        elif got != exp:
            problems.append(f"{q}: {len(got)} rows differ from the oracle's {len(exp)}")
        elif not got:
            problems.append(f"{q}: empty result")
    if con is not None:
        con.close()
    return not problems, problems, nrows
