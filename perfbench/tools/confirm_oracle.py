#!/usr/bin/env python3
"""Confirms the committed corpus digests against DuckDB.

Usage, from the root of a checkout: python3 perfbench/tools/confirm_oracle.py OUT_DIR

For every query in the two corpus lists: graft.Verify writes its sf0.1 result
to OUT_DIR, scripts/check_oracle.py's comparison checks that result against
DuckDB running the query's oracle SQL, and perfbench.DigestDir digests the
same result, which must equal the committed digest. Exit code 0 only when
every query passes both.
"""
import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(pathlib.Path.cwd() / "scripts"))
import check_oracle  # noqa: E402
import run  # noqa: E402


def java(cp, *args):
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return subprocess.run(["java", *opens, *run.JVM_MEMORY, "-cp", cp, *args],
                          stdout=subprocess.PIPE, text=True, check=True).stdout


def main(out_dir):
    sf = run.sf_dir()
    entries = {}
    for lst in ("corpus_fixed_cost", "corpus_heavy_tail"):
        for line in (HERE.parent / "corpus" / f"{lst}.tsv").read_text().splitlines():
            f = line.split("\t")
            if not line.startswith("#") and f[0] != "name":
                entries[f[0]] = (int(f[6]), int(f[7]))
    names = sorted(entries)
    cp = run.build()
    java(cp, "graft.Verify", sf, out_dir, "|".join(names))
    oracle_path = os.path.join(out_dir, "oracle_sql.json")
    with open(oracle_path) as f:
        oracle = json.load(f)
    with open(oracle_path, "w") as f:
        json.dump({n: oracle[n] for n in names}, f)
    duck = check_oracle.main(sf, out_dir, lenient_vacuity=True)
    got = {}
    for line in java(cp, "perfbench.DigestDir", out_dir, str(run.WORK), *names).splitlines():
        n, d, rows = line.split("\t")
        got[n] = (int(d), int(rows))
    bad = [n for n in names if got.get(n) != entries[n]]
    for n in bad:
        print(f"  {n}: DIGEST MISMATCH committed {entries[n]} verified {got.get(n)}")
    print(f"digests: {len(names) - len(bad)} of {len(names)} match the DuckDB-checked results")
    return 1 if duck or bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
