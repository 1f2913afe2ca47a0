"""Output checks, run once per run and off the timer.

Queries: the harness's result parquet is compared with the query's
DuckDB oracle over the same generated inputs under ``tools/parity.py``'s
own rule (its ``canon`` and ``cell_eq``: columns by name, sorted rows,
exact cells). Every listed query has an oracle; one without would fail
its check until it gets a structural check of its own. ``emnist_ref``
checks exact counts, classifier quality and the reconstruction error.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import parity  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def first_difference(duck: pd.DataFrame, spark: pd.DataFrame):
    """None when parity.py calls the two frames equal, else the first
    difference it would report."""
    d, s = parity.canon(duck), parity.canon(spark)
    if list(d.columns) != list(s.columns):
        return f"columns duck={list(d.columns)} spark={list(s.columns)}"
    if len(d) != len(s):
        return f"rows duck={len(d)} spark={len(s)}"
    for col in d.columns:
        for i, (x, y) in enumerate(zip(d[col].tolist(), s[col].tolist())):
            if not parity.cell_eq(x, y):
                return f"first mismatch {col}[{i}] duck={x!r} spark={y!r}"
    return None


def check_queries(data_dir: str, check_dir: str, names: list) -> dict:
    """Query name -> None when its output is correct, else the reason."""
    try:
        oracles = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    except (OSError, ValueError):
        return {n: "no check output" for n in names}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            out[name] = "result not written"
            continue
        try:
            spark = pd.read_parquet(path)
            if name not in oracles:
                out[name] = "no oracle: add a structural check here before listing the query"
                continue
            duck = con.execute(oracles[name]).fetchdf()
            out[name] = first_difference(duck, spark)
        except Exception as e:  # a check that cannot run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out


# emnist_ref at fixture scale 4: 6,144 rows. The 85/15 split is a seeded
# randomSplit over a partitioning fixed by (label, row_id), so its sizes
# do not depend on the fixture seed.
EMNIST_COUNTS = {4: (6144, 5200, 944)}
# relative L2 error of the 64-component reconstruction; about 0.036 at
# scale 4 (the per-class noise the components do not span)
EMNIST_MAX_RECON_ERR = 0.08


def check_emnist(res: dict, scale: int) -> dict:
    """Check name -> None when it holds, else what was seen. Every pass is
    checked: exact counts, accuracy and macro-F1 >= 0.99 for both
    classifiers, and a finite reconstruction error under its bound."""
    out = {}
    rows, train, test = EMNIST_COUNTS[scale]
    for i, p in enumerate(res["passes"]):
        if "checks" not in p:  # the pass failed; it counts as a failed operation
            continue
        c = p["checks"]
        def put(name, ok, seen):
            out[f"pass{i}.{name}"] = None if ok else f"saw {seen}"
        put("counts", (c.get("rows"), c.get("train"), c.get("test")) == (rows, train, test),
            (c.get("rows"), c.get("train"), c.get("test")))
        for m in ("nb_accuracy", "nb_macro_f1", "hist_gbt_accuracy", "hist_gbt_macro_f1"):
            put(m, c.get(m, 0.0) >= 0.99, c.get(m))
        e = c.get("recon_rel_err")
        put("recon_rel_err", e is not None and math.isfinite(e) and e < EMNIST_MAX_RECON_ERR, e)
    return out
