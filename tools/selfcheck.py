#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/selfcheck.py [sfDir] [outDir]

Runs `sbt runMain graft.Verify <sfDir> <outDir>` is expected to have been run
already (or pass --run to run it here), then for each result parquet under
outDir, executes the matching oracle SQL from oracle_sql.json in DuckDB over
the same parquet tables and compares row counts, column-name sets, and a
row-order-insensitive hash of values (floats rounded to 6 significant-ish
decimals). Writes <outDir>/selfcheck.json: per gate the status, the row
count and the Spark-side value hash.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

# DuckDB output types that pandas/pyarrow-based readers render differently
# than fetchall() does (HUGEINT -> float64 "5.0" vs int "5"). The driver's
# harness is pandas-shaped, so any oracle emitting one of these passed the
# r13 selfcheck but failed the driver (corpus_mlm_mask / pipe_dataset_card).
# Convention enforced here: CAST integer sums to BIGINT, float math to
# DOUBLE, in the oracle SQL itself.
FRAGILE_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _dtype_class(dt):
    s = str(dt)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    if s.startswith("bool"):
        return "bool"
    return "obj"


def _round6_canon(v):
    """Plausible driver canon: floats rounded to 6 DECIMAL places (not 6
    sig figs) then repr'd — this renders float 5.0 as "5.0" while an int 5
    renders "5", which is exactly the procedure that failed the r13
    HUGEINT-typed oracles while passing every bit-drifting float gate."""
    import math as _m
    import numpy as _np
    if v is None:
        return "NULL"
    if isinstance(v, (float, _np.floating)):
        f = float(v)
        if _m.isnan(f):
            # pandas renders BOTH a SQL NULL and a real NaN as NaN, and the
            # engines differ in which they use for missing strings — fold
            # to NULL here; the fetchall-canon hash still distinguishes them
            return "NULL"
        return repr(round(f, 6))
    if isinstance(v, (int, _np.integer)):
        return str(int(v))
    if isinstance(v, _np.ndarray):
        return "[" + ",".join(_round6_canon(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_round6_canon(x) for x in v) + "]"
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        # parquet DATE reads back as date, DuckDB .df() as midnight
        # Timestamp — fold midnight datetimes to the date form
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return str(v)
    return str(v)


def pandas_view_check(spark_dir, con, sql):
    """Mimic a pandas-shaped driver: read the Spark parquet via pyarrow and
    the oracle via .df(); return (problems, warnings) a value-hash over
    those frames could trip on even when fetchall()-canon matches:
      * dtype CLASS mismatch per column (int vs float renders "5" vs "5.0")
        -> problem (this is the r13 corpus_mlm_mask/pipe_dataset_card bug)
      * row-multiset mismatch under round-to-6-decimals float canon
        -> problem (the driver tolerates last-bit float drift; more than
           1e-6 of absolute drift it does not)
      * float columns not bit-identical across engines -> warning only
        (driver-render sensitive, but every r13 float gate passed with it)
    """
    import pyarrow.parquet as pq_mod
    problems, warnings = [], []
    sdf = pq_mod.read_table(spark_dir).to_pandas()
    ddf = con.execute(sql).df()
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        sc, dc = _dtype_class(sdf[c].dtype), _dtype_class(ddf[c].dtype)
        if sc != dc:
            problems.append(
                f"dtype-class {c}: spark={sdf[c].dtype}({sc}) duck={ddf[c].dtype}({dc})")
        elif sc == "float":
            import numpy as np
            a = sdf[c].to_numpy(dtype="float64")
            b = ddf[c].to_numpy(dtype="float64")
            # normalize -0.0 so the equal-compare sort can't interleave bits
            a = np.sort(np.where(a == 0.0, 0.0, a))
            b = np.sort(np.where(b == 0.0, 0.0, b))
            if len(a) == len(b):
                av, bv = a.view("uint64"), b.view("uint64")
                # NaN bit patterns can legitimately differ; compare non-NaN bits
                mask = ~(np.isnan(a) | np.isnan(b))
                if not (av[mask] == bv[mask]).all() or (np.isnan(a) != np.isnan(b)).any():
                    warnings.append(f"float-bits {c}: not bit-identical across engines")
    if not problems:
        cols = [c for c in sdf.columns if c in ddf.columns]
        s_rows = sorted("|".join(_round6_canon(r[c]) for c in sorted(cols))
                        for _, r in sdf[cols].iterrows())
        d_rows = sorted("|".join(_round6_canon(r[c]) for c in sorted(cols))
                        for _, r in ddf[cols].iterrows())
        if s_rows != d_rows:
            diff = next(((x, y) for x, y in zip(s_rows, d_rows) if x != y), ("?", "?"))
            problems.append(
                f"round6-hash: spark={diff[0][:80]} duck={diff[1][:80]}")
    return problems, warnings


def described(con, sql):
    return [(c, t) for c, t, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
    if "--run" in sys.argv:
        subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd="/root/repo", check=True)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    # tiered big-SF sweeps (r15): GRAFT_SELFCHECK_ONLY / _SKIP filter by
    # comma-separated name PREFIXES — at sf1 the brute pair-join oracles
    # (dedup family) run hours in DuckDB, so they verify in their own pass
    import os
    only_pfx = [p for p in os.environ.get("GRAFT_SELFCHECK_ONLY", "").split(",") if p]
    skip_pfx = [p for p in os.environ.get("GRAFT_SELFCHECK_SKIP", "").split(",") if p]
    # GRAFT_SELFCHECK_FAST=1 skips the pandas-view render guard (python
    # iterrows — minutes on 10x-SF outputs). The guard catches dtype-CLASS
    # bugs, which are SF-independent and stay gated by the sf0.01 pass;
    # rows/schema/value-hash (the driver's actual compare) still run.
    fast = os.environ.get("GRAFT_SELFCHECK_FAST", "") == "1"
    results = {}
    compared = {}  # per gate: what the Spark side produced (selfcheck.json)
    for d in sorted(out_dir.iterdir()):
        if not d.is_dir():
            continue
        name = d.name
        if only_pfx and not any(name.startswith(p) for p in only_pfx):
            continue
        if skip_pfx and any(name.startswith(p) for p in skip_pfx):
            continue
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        got_cols = [c[0] for c in got.description]
        got_rows = got.fetchall()
        compared[name] = {"rows": len(got_rows),
                          "table_hash": table_hash(got_rows, got_cols)}
        if name not in oracle:
            results[name] = f"ROWS-ONLY rows={len(got_rows)}"
            _emit(name, results[name])
            continue
        try:
            exp = con.execute(oracle[name])
            exp_cols = [c[0] for c in exp.description]
            exp_rows = exp.fetchall()
        except Exception as e:
            results[name] = f"ORACLE-ERROR {e}"
            _emit(name, results[name])
            continue
        if sorted(got_cols) != sorted(exp_cols):
            results[name] = f"SCHEMA-MISMATCH spark={sorted(got_cols)} duck={sorted(exp_cols)}"
        elif len(got_rows) != len(exp_rows):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(got_rows)} duck={len(exp_rows)}"
        elif any(t.startswith(FRAGILE_DUCK_TYPES) for _, t in described(con, oracle[name])):
            frag = [f"{c}:{t}" for c, t in described(con, oracle[name])
                    if t.startswith(FRAGILE_DUCK_TYPES)]
            results[name] = f"FRAGILE-ORACLE-TYPE {' '.join(frag)} (CAST to BIGINT/DOUBLE in the SQL)"
        elif table_hash(got_rows, got_cols) != table_hash(exp_rows, exp_cols):
            # find a sample differing row for debugging
            g = sorted("|".join(canon(r[i]) for i in sorted(range(len(got_cols)), key=lambda i: got_cols[i])) for r in got_rows)
            e = sorted("|".join(canon(r[i]) for i in sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])) for r in exp_rows)
            diff = next(((a, b) for a, b in zip(g, e) if a != b), ("?", "?"))
            results[name] = f"HASH-MISMATCH rows={len(got_rows)} sample spark={diff[0][:120]} duck={diff[1][:120]}"
        else:
            try:
                probs, warns = ([], []) if fast else \
                    pandas_view_check(str(d), con, oracle[name])
            except Exception as e:  # pandas view is a guard, not the gate
                probs, warns = [f"pandas-view-error {e}"], []
            if probs:
                results[name] = f"PANDAS-VIEW {'; '.join(probs)[:200]}"
            else:
                w = f" [warn: {'; '.join(warns)[:120]}]" if warns else ""
                results[name] = f"OK rows={len(got_rows)}{w}"
        _emit(name, results[name])

    for k, v in results.items():
        compared[k]["status"] = v.split(" ", 1)[0]
    # the record of what was compared, so two dumps can be diffed gate by
    # gate (rows and Spark-side value hash) without re-running either
    (out_dir / "selfcheck.json").write_text(
        json.dumps(compared, indent=1, sort_keys=True) + "\n")
    ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("ROWS-ONLY"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') or v.startswith('ROWS-ONLY') else 'FAIL':4} {k}: {v}")
    print(f"== {ok}/{len(results)} pass")
    return 0 if ok == len(results) else 1


def _emit(name, v):
    """Incremental per-gate line (big-SF sweeps run hours — a buffered
    report means a killed run banks nothing)."""
    tag = 'PASS' if v.startswith('OK') or v.startswith('ROWS-ONLY') else 'FAIL'
    print(f"{tag} {name}: {v}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
