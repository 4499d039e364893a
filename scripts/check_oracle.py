#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Usage: check_oracle.py SF_DIR OUT_DIR
  SF_DIR  = /root/testdata/sf0.01   (tables)
  OUT_DIR = dir written by `sbt "runMain graft.Verify SF_DIR OUT_DIR"`

For each query result parquet under OUT_DIR/<name>/ and its oracle SQL in
OUT_DIR/oracle_sql.json: run the SQL in DuckDB over views on the parquet tables,
sort columns by name (the driver does), and compare row-by-row, exactly.
"""
import glob
import json
import math
import os
import sys

import duckdb

def main(sf_dir, out_dir, lenient_vacuity=False):
    # a bounded pool: over it DuckDB spills or fails the one query, where an
    # unbounded one can exhaust the host
    con = duckdb.connect(config={'memory_limit': '4GB'})
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    n_pass = n_fail = n_noracle = 0
    vacuity_stale = set(VACUITY_SANCTIONED)
    hash_passed = set()
    have = {os.path.basename(d.rstrip("/"))
            for d in glob.glob(os.path.join(out_dir, "*/"))}
    for name in sorted(oracle.keys() - have):
        print(f"  {name}: MISSING OUTPUT (query failed in Verify?)")
        n_fail += 1
    for d in sorted(glob.glob(os.path.join(out_dir, "*/"))):
        name = os.path.basename(d.rstrip("/"))
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            print(f"  {name}: NO OUTPUT FILES");  n_fail += 1;  continue
        got_sql = f"SELECT * FROM read_parquet({files!r})"
        got = con.execute(got_sql).fetchdf()
        got = got[sorted(got.columns)]
        got_types = dtypes(con, got_sql)
        if name not in oracle:
            print(f"  {name}: no oracle (rows-only), rows={len(got)}")
            n_noracle += 1
            continue
        try:
            want = con.execute(oracle[name]).fetchdf()
            want_types = dtypes(con, oracle[name])
        except Exception as e:
            print(f"  {name}: ORACLE SQL ERROR: {e}");  n_fail += 1;  continue
        want = want[sorted(want.columns)]
        errs = (compare(got, want, name) + compare_types(got_types, want_types)
                + ns_range_errs(con, got_sql, got_types)
                + ns_range_errs(con, oracle[name], want_types))
        if errs:
            n_fail += 1
            print(f"  {name}: FAIL")
            for e in errs[:6]:
                print(f"      {e}")
        else:
            hash_passed.add(name)
            vac = vacuity(got)
            if vac and lenient_vacuity:
                # cross-scale sweep mode: at sf0.001 some queries are
                # legitimately vacuous (0-row graph backbones, saturated
                # counts) — scale artifacts, not defects. The strict vacuity
                # gate runs at sf0.01; here vacuity is a warning only.
                n_pass += 1
                print(f"  {name}: ok rows={len(got)} [vacuous-at-this-sf: {vac}]")
            elif vac and name not in VACUITY_SANCTIONED:
                n_fail += 1
                print(f"  {name}: VACUOUS ({vac}) — hash-green but proves "
                      "nothing; fix the query or sanction it with a rationale")
            else:
                n_pass += 1
                tag = " [vacuity-sanctioned]" if vac else ""
                print(f"  {name}: ok rows={len(got)}{tag}")
            if not vac:
                vacuity_stale.discard(name)
    # Stale-sanction sweep runs only over queries whose hash check PASSED: a
    # sanctioned query that hash-fails is already reported once as a FAIL —
    # also flagging it stale would double-report one defect. Skipped entirely
    # in lenient mode (sanctions are defined against the strict sf0.01 gate).
    for name in sorted(set() if lenient_vacuity else (vacuity_stale & hash_passed)):
        n_fail += 1
        print(f"  {name}: STALE VACUITY SANCTION (result is no longer vacuous "
              "— remove from VACUITY_SANCTIONED so the list can't rot)")
    print(f"PASS={n_pass} FAIL={n_fail} NO_ORACLE={n_noracle}")
    return 1 if n_fail else 0

# Queries sanctioned as deliberately "vacuous-looking" (with rationale); the
# anti-rot rule mirrors PlanLint: a sanctioned query whose result stops being
# vacuous fails the gate until the entry is removed.
VACUITY_SANCTIONED = set()

def vacuity(df):
    """A hash-green result that proves nothing: 0 rows, or (>=2 rows and)
    every column that isn't id-like is constant. Id-like = all-distinct
    (sort keys / row ids); a frame whose only variation is its key column
    would stay green even if the computed columns were silently zeroed."""
    n = len(df)
    if n == 0:
        return "0 rows"
    if n == 1:
        return None  # single-row aggregates are 1-row by design
    nun = {c: df[c].astype(str).nunique(dropna=False) for c in df.columns}
    # Id-like = all-distinct AND not float-valued: an all-distinct float
    # column is a computed statistic (its variation is exactly what the hash
    # check proves), not a row key.
    def id_like(c):
        return nun[c] == n and df[c].dtype.kind != "f"
    non_id = [c for c in df.columns if not id_like(c)]
    if non_id and all(nun[c] <= 1 for c in non_id):
        return f"all non-key columns constant ({non_id})"
    return None

def kind(duck_type):
    """Collapse a DuckDB type to the pandas KIND the driver hashes.

    Round-1 driver evidence pins the equivalence classes: integer widths never
    mattered (agg_cube gid INTEGER vs BIGINT passed; dedup_simhash_hamming
    INTEGER vs TINYINT passed) and DATE vs TIMESTAMP passed (fn_datetime
    month_start), but int vs DOUBLE failed (fn_math) and int vs HUGEINT failed
    (fn_array, join_left_agg) — i.e. the driver hashes the pandas value, and
    HUGEINT/DOUBLE/DECIMAL become float64 ("3.0") while any int width hashes as
    "3". So the gate compares the pandas kind, not the raw DuckDB type."""
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT", "FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    if t.startswith(("DATE", "TIMESTAMP")):
        return "datetime"
    return t

def dtypes(con, sql):
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: kind(r[1]) for r in rows}

def ns_range_errs(con, sql, types):
    """Flag datetime values outside pandas datetime64[ns] range.

    The driver hashes through pyarrow/pandas, where ns-timestamps live in
    [1677-09-21 .. 2262-04-11]; a value outside (e.g. a year-9999 sentinel —
    scd2_history_build, round 2) overflows there while this DuckDB-based mimic
    normalizes both sides and passes. Guard the whole class locally."""
    errs = []
    for col, k in types.items():
        if k != "datetime":
            continue
        n = con.execute(
            f'SELECT count(*) FROM ({sql}) WHERE "{col}" < TIMESTAMP \'1677-09-22\''
            f' OR "{col}" > TIMESTAMP \'2262-04-10\'').fetchone()[0]
        if n:
            errs.append(f"col {col}: {n} values outside pandas datetime64[ns] "
                        "range — driver hash will diverge")
    return errs

def compare_types(got_types, want_types):
    errs = []
    for col in sorted(set(got_types) | set(want_types)):
        g, w = got_types.get(col), want_types.get(col)
        if g != w:
            errs.append(f"col {col}: dtype-kind spark={g} duck={w}")
    return errs

# Queries allowed sub-1e-12 relative drift: java.lang.Math vs libm trig
# differs in the last 1-2 bits and the driver gate has passed these since r04
# (its hash rounds below ~1e-12 relative). Everything else compares EXACTLY —
# a near-miss elsewhere is reported as a failure with a NEAR-MISS tag so an
# exact-vs-tolerant pass is always distinguishable in the output.
LIBM_TOLERANT = {"geo_nearest_center"}

def compare(got, want, name=""):
    tolerant = name in LIBM_TOLERANT
    errs = []
    if list(got.columns) != list(want.columns):
        return [f"columns differ: spark={list(got.columns)} duck={list(want.columns)}"]
    if len(got) != len(want):
        errs.append(f"row count: spark={len(got)} duck={len(want)}")
    n = min(len(got), len(want))
    for col in got.columns:
        g, w = got[col].iloc[:n], want[col].iloc[:n]
        bad = 0
        for i in range(n):
            gv, wv = g.iloc[i], w.iloc[i]
            if not eq(gv, wv, tolerant):
                bad += 1
                if bad <= 2:
                    tag = " NEAR-MISS(<1e-12 rel; driver may pass)" \
                        if eq(gv, wv, True) else ""
                    errs.append(f"col {col} row {i}: spark={gv!r} duck={wv!r}{tag}")
        if bad:
            errs.append(f"col {col}: {bad}/{n} mismatched")
    return errs

def eq(a, b, tolerant=False):
    try:
        if a is None and b is None:
            return True
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        if fa == fb:
            return True
        if tolerant:
            return abs(fa - fb) <= 1e-12 * max(abs(fa), abs(fb))
        return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return str(a) == str(b)

if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    sys.exit(main(argv[0], argv[1],
                  lenient_vacuity="--lenient-vacuity" in sys.argv))
