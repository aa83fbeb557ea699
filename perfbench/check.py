"""Output checks, run outside every timed span.

* Queries: each query's dumped result against its DuckDB oracle on the
  same generated tables, at the tolerance of the repository's
  correctness gate (column-name-sorted, row-sorted; floats within
  rtol 1e-9 / atol 1e-12, everything else exact). A query without an
  oracle must return rows.
* Syncs: each sync's per-vendor summary against the counters the
  fleet generator derived by construction.
"""
import json
import os
import sys
import time

import duckdb
import numpy as np

# canonical ordering and result loading of the repository's gate
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_correctness import canon, load_result  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _compare(got, exp):
    """None when equal, else a one-line reason. Mirrors the comparison
    loop of main() in tools/check_correctness.py (warnings dropped)."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            a, b = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            ok = np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))
            if not ok.all():
                i = int(np.where(~ok)[0][0])
                return f"{c}: row {i} {a[i]!r} vs {b[i]!r}"
        else:
            a, b = gv.astype(str).to_numpy(), ev.astype(str).to_numpy()
            if not (a == b).all():
                i = int(np.where(a != b)[0][0])
                return f"{c}: row {i} {a[i]!r} vs {b[i]!r}"
    return None


def check_queries(check_dir, data_dir, ops, log):
    """Map each (round, query) in `ops` to None (correct) or the reason
    it is not. The oracle of a query runs once per call."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {}
    out = {}
    for r, n in ops:
        got = load_result(os.path.join(check_dir, f"r{r}", n))
        if got is None:
            out[(r, n)] = "no output"
            continue
        if n not in oracle:
            out[(r, n)] = None if len(got) > 0 else "no rows (no oracle)"
            continue
        if n not in expected:
            t0 = time.monotonic()
            try:
                expected[n] = con.execute(oracle[n]).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failed check
                expected[n] = f"oracle error {e}"
            log(f"oracle {n}: {time.monotonic() - t0:.2f} s")
        exp = expected[n]
        out[(r, n)] = exp if isinstance(exp, str) else _compare(got, exp)
    con.close()
    return out


def check_sync(summary, expected, creds_db):
    """None when one sync's summary matches the expected counters."""
    got = {s["vendorId"]: s for s in summary}
    if set(got) != set(expected):
        return f"vendors {sorted(set(got) ^ set(expected))} differ"
    for vid, exp in expected.items():
        g = got[vid]
        db = creds_db[vid] or "wholecell"
        if g["status"] != exp["status"] or g["database"] != db:
            return f"{vid}: status {g['status']}/{g['database']} vs {exp['status']}/{db}"
        keys = ("fetched", "valid", "skipped", "inserted", "updated", "stock")
        want = {k: exp.get(k, 0) for k in keys}
        have = {k: g[k] for k in keys}
        if have != want:
            return f"{vid}: {have} vs {want}"
        if g["operations"] != want["inserted"] + want["updated"]:
            return f"{vid}: operations {g['operations']}"
    return None
