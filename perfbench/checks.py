"""Output checks of the benchmark. Each returns a list of problems;
an empty list means the output is correct."""
import csv
import glob
import json
import math
import os

import pyarrow.parquet as pq


def etl_output(out_dir: str, expected: dict) -> list:
    """A `BoatPipeline.run` output directory against the generator's
    expectation: Parquet row count, and the summary CSV row by row."""
    problems = []
    parts = glob.glob(os.path.join(out_dir, "data.parquet", "*.parquet"))
    if not parts:
        return [f"{out_dir}: no Parquet output"]
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    if rows != expected["listings"]:
        problems.append(f"{out_dir}: {rows} Parquet rows, expected {expected['listings']}")
    csvs = glob.glob(os.path.join(out_dir, "data_summary.csv", "*.csv"))
    if len(csvs) != 1:
        return problems + [f"{out_dir}: {len(csvs)} summary CSV files, expected 1"]
    with open(csvs[0], newline="", encoding="utf-8") as f:
        got = list(csv.DictReader(f))
    want = expected["summary"]
    seen = set()
    for r in got:
        c = r["country"]
        seen.add(c)
        if c not in want:
            problems.append(f"summary: unexpected country {c!r}")
            continue
        n, avg = want[c]
        if int(r["count"]) != n:
            problems.append(f"summary {c!r}: count {r['count']}, expected {n}")
        if avg is None:
            if r["avg_price"] != "":
                problems.append(f"summary {c!r}: avg {r['avg_price']}, expected null")
        elif r["avg_price"] == "" or not math.isclose(
                float(r["avg_price"]), avg, rel_tol=1e-9):
            problems.append(f"summary {c!r}: avg {r['avg_price']}, expected {avg}")
    missing = sorted(set(want) - seen)
    if missing:
        problems.append(f"summary: missing countries {missing}")
    avgs = [float(r["avg_price"]) for r in got if r["avg_price"] != ""]
    if avgs != sorted(avgs, reverse=True):
        problems.append("summary: not ordered by avg_price descending")
    return problems


def _unwrap(v):
    if hasattr(v, "tolist") and not isinstance(v, (list, tuple)):
        return v.tolist()
    if hasattr(v, "item"):
        try:
            return v.item()
        except (ValueError, AttributeError):
            return v
    return v


def _cell_eq(a, b) -> bool:
    import pandas as pd
    a, b = _unwrap(a), _unwrap(b)
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        return (isinstance(a, (list, tuple)) and isinstance(b, (list, tuple))
                and len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b)))
    try:
        if pd.isna(a) or pd.isna(b):
            return bool(pd.isna(a)) and bool(pd.isna(b))
    except (TypeError, ValueError):
        pass
    return a == b


def _kind(dtype) -> str:
    import pandas as pd
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "other"


def oracle_results(tables_dir: str, results_dir: str, oracle: dict, tmp: str) -> dict:
    """Each query's Spark result (Parquet) against its DuckDB oracle on
    the same tables, by tools/check.py's rule: columns sorted by name,
    the same row count, no int/float dtype-class divergence, and every
    value equal in the rows' given order (each query ends in a total
    ORDER BY). Returns {query: [problems]}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{tmp}'")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle.items()):
        res = os.path.join(results_dir, name)
        if sql is None:
            out[name] = ["no oracle SQL"]
            continue
        if not os.path.isdir(res):
            out[name] = ["no Spark result written"]
            continue
        try:
            got = pd.read_parquet(res)
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            out[name] = [f"{type(e).__name__}: {e}"[:300]]
            continue
        out[name] = _compare(got, want)
    return out


def _compare(got, want) -> list:
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    problems = []
    for c in got.columns:
        if {_kind(got[c].dtype), _kind(want[c].dtype)} == {"int", "float"}:
            problems.append(f"column {c}: dtype {got[c].dtype} vs {want[c].dtype}")
            continue
        ga, wa = got[c].to_numpy(), want[c].to_numpy()
        bad = [i for i in range(len(ga)) if not _cell_eq(ga[i], wa[i])]
        if bad:
            i = bad[0]
            problems.append(f"column {c}: {len(bad)} cells differ, first row {i}: "
                            f"{ga[i]!r} != {wa[i]!r}"[:300])
    return problems


def load_json(path: str):
    with open(path) as f:
        return json.load(f)
