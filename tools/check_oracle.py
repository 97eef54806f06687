#!/usr/bin/env python3
"""Check a graft.Verify dump against its DuckDB oracles.

    python3 tools/check_oracle.py <sfDir> <verifyOutDir> [budget_s]

Every <name>.parquet under sfDir (a file, or a Spark-written directory
of parts such as ScaleUp output) is registered as DuckDB view <name>.
Each oracle in <verifyOutDir>/oracle_sql.json then runs in its own
process under budget_s seconds (default 300): the oracle SQL is naive on
purpose, and at 10x a few spellings are super-linear, so one of them
must not hang the whole check.

The compare, in order: column names, row count, dtype family, values.
The dtype family is checked before values because the reference gate's
hash is type-sensitive: DuckDB widens an uncast integer SUM to HUGEINT
(a float64 frame column), which fails there even when every value
matches. Widening within a family (int32 vs int64) is accepted.

Output contract (churnbench/run.py parses it): one line per oracle that
starts with `PASS <name>`, `FAIL <name>`, `ERROR <name>` or
`TIMEOUT <name>`; exit code 0 iff every oracle passed, else 1.
"""
import glob
import json
import math
import multiprocessing as mp
import os
import sys
import time

import duckdb
import pandas  # noqa: F401  (loaded once here; each forked oracle reuses it)

# an oracle that cross-products must fail fast, not take the host down
MEMORY_LIMIT = "24GB"
WIDE = {"int": "int64", "float": "float64"}


def family(dtype):
    k = dtype.kind
    if k in "iu":
        return "int"
    return {"f": "float", "b": "bool", "O": "object", "M": "datetime",
            "m": "timedelta"}.get(k, k)


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "tolist"):  # numpy arrays (LIST columns)
        v = v.tolist()
    return repr(v)


def rows(df, cols):
    return sorted("\x1f".join(canon(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))


def compare(sf, out, name, sql):
    """Returns (status, message) for one oracle."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    for p in sorted(glob.glob(f"{sf}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        src = f"{p}/*.parquet" if os.path.isdir(p) else p  # a Spark-written dir of parts
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
    exp = con.execute(sql).df()
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return "FAIL", f"columns {cols} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return "FAIL", f"rows {len(got)} vs {len(exp)}"
    bad = [f"{c}: spark {got[c].dtype} vs oracle {exp[c].dtype}"
           for c in cols if family(got[c].dtype) != family(exp[c].dtype)]
    if bad:
        return "FAIL", "dtype family " + "; ".join(bad)
    for c in cols:
        w = WIDE.get(family(got[c].dtype))
        if w:
            got[c], exp[c] = got[c].astype(w), exp[c].astype(w)
    diff = next(((g, e) for g, e in zip(rows(got, cols), rows(exp, cols)) if g != e), None)
    if diff:
        return "FAIL", f"values differ; first diff:\n  got {diff[0][:300]}\n  exp {diff[1][:300]}"
    return "PASS", f"{len(got)} rows"


def child(sf, out, name, sql, conn):
    try:
        conn.send(compare(sf, out, name, sql))
    except Exception as ex:  # noqa: BLE001
        conn.send(("ERROR", str(ex).strip()[:300]))


def main(sf, out, budget=300.0):
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    ctx = mp.get_context("fork")
    counts = dict.fromkeys(["PASS", "FAIL", "ERROR", "TIMEOUT"], 0)
    for name, sql in sorted(oracles.items()):
        rx, tx = ctx.Pipe(False)
        p = ctx.Process(target=child, args=(sf, out, name, sql, tx))
        t0 = time.monotonic()
        p.start()
        p.join(budget)
        if p.is_alive():
            p.kill()
            p.join()
            status, msg = "TIMEOUT", f"over the {budget:g} s budget"
        elif rx.poll():
            status, msg = rx.recv()
        else:
            status, msg = "ERROR", f"oracle process exited with {p.exitcode}"
        counts[status] += 1
        print(f"{status} {name}: {msg} [{time.monotonic() - t0:.1f} s]", flush=True)
    print("\n" + " / ".join(f"{n} {s.lower()}" for s, n in counts.items()))
    return 0 if counts["PASS"] == len(oracles) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  float(sys.argv[3]) if len(sys.argv) > 3 else 300.0))
