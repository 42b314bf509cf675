#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify, then
for each query compare its parquet dump against DuckDB executing the declared
oracle SQL over the same testdata tables. Usage:

    python3 scripts/check_oracle.py /root/testdata/sf0.01 [outDir]

Verify runs with java.io.tmpdir set to a fresh directory; any graft-* entry
left there after the JVM exits is a leaked artifact dir and fails the check.
Pass --no-spark to reuse an existing outDir without re-running Verify."""
import sys, os, json, subprocess, glob, shutil, tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols, sort_rows):
    """Sort columns by name, stringify values; optionally sort rows.

    The driver's hash compare preserves RESULT ORDER and exact value types,
    so the primary check here is order-preserving; the sorted variant only
    distinguishes "order-only divergence" from a real value mismatch."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    if sort_rows:
        out.sort()
    return [c for c in sorted(cols)], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/tmp/graft-verify-out"
    leaked = []
    if "--no-spark" not in sys.argv:
        tmp = tempfile.mkdtemp(prefix="check-oracle-tmp-")
        env = dict(os.environ)
        env["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = (
            env.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
        try:
            subprocess.run(["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
                           cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           env=env, check=True,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            leaked = sorted(os.path.basename(p) for p in glob.glob(f"{tmp}/graft-*"))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name in sorted(oracle):
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
            got_fetched, got_types = got.fetchall(), [str(t) for t in got.types]
            got_cols, got_rows = canon(got_fetched, got.columns, sort_rows=False)
            want = con.sql(oracle[name])
            want_fetched, want_types = want.fetchall(), [str(t) for t in want.types]
            want_cols, want_rows = canon(want_fetched, want.columns, sort_rows=False)
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        type_by_col = dict(zip(got.columns, got_types))
        want_type_by_col = dict(zip(want.columns, want_types))
        if got_cols != want_cols:
            print(f"FAIL {name}: columns {got_cols} != {want_cols}"); n_fail += 1
        elif type_by_col != want_type_by_col:
            bad = {c: (type_by_col[c], want_type_by_col[c])
                   for c in type_by_col if type_by_col[c] != want_type_by_col.get(c)}
            print(f"FAIL {name}: column types differ (spark vs oracle): {bad}"); n_fail += 1
        elif got_rows != want_rows:
            _, got_sorted = canon(got_fetched, got.columns, sort_rows=True)
            _, want_sorted = canon(want_fetched, want.columns, sort_rows=True)
            if got_sorted == want_sorted:
                diff = [(i, a, b) for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b][:3]
                print(f"FAIL {name}: set-equal but ORDER differs; first diffs: {diff}")
            else:
                diff = [(a, b) for a, b in zip(got_sorted, want_sorted) if a != b][:3]
                print(f"FAIL {name}: {len(got_rows)} vs {len(want_rows)} rows; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)"); n_pass += 1

    # queries with no oracle: rows-only check
    for d in sorted(glob.glob(f"{out_dir}/q_*")):
        name = os.path.basename(d)
        if name not in oracle:
            n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"ROWS {name}: {n}")

    print(f"\n{n_pass} pass, {n_fail} fail")
    if leaked:
        print(f"FAIL Verify left {len(leaked)} graft-* entries in java.io.tmpdir: {leaked}")
    sys.exit(1 if n_fail or leaked else 0)


if __name__ == "__main__":
    main()
