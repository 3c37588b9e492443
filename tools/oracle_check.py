#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs DuckDB on each oracle_sql.json entry over the sf tables, loads the
Spark parquet dumps written by graft.Verify, sorts columns by name and
rows by value, and compares. Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/verify_out

sf1 mode (the scale-frontier pass COVERAGE.md documents — catches
overflow/layout bugs the small SFs can't see, e.g. the q1 DECIMAL(38)
widening): generate sf1 with graft.ScaleGen, dump everything except
the declared-quadratic oracle twins, then compare only what was dumped:

    sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"
    SPARK_GRAFT_CPUS=32 sbt "runMain graft.Verify /tmp/sf1 /tmp/verify_sf1 <scale-path queries...>"
    python3 tools/oracle_check.py /tmp/sf1 /tmp/verify_sf1 --only-present

Verify, like every graft main, runs at local[SPARK_GRAFT_CPUS] with one
shuffle partition per core (graft.Harness.session); unset, it uses every
core the JVM sees. The sf1 examples set 32, the count the sf1 artifacts
and their Prof pairs ran at.

--only-present skips oracle entries with no Spark dump (reported as
`skip`, not FAIL) so a subset Verify run can gate green; the default
strict mode still fails on missing outputs.

--id-cap=N (pairs with a Verify run under SPARK_GRAFT_ID_CAP=N): the
scale-frontier mode for the declared-quadratic oracle twins (the
QUADRATIC set). Truncates documents/embeddings to ids < N on BOTH
engines so cc1's recursive-CTE closure and dd4/dd5's O(N^2) pair joins
terminate at sf1; only the QUADRATIC queries are compared (a cap
changes every other query's answer). Example:

    SPARK_GRAFT_ID_CAP=2000 SPARK_GRAFT_CPUS=32 sbt "runMain graft.Verify \
      /tmp/sf1 /tmp/verify_sf1_quad cc1_dedup_clusters dd4_ngram_jaccard dd5_embedding_cosine"
    python3 tools/oracle_check.py /tmp/sf1 /tmp/verify_sf1_quad --id-cap=2000 --only-present
"""
import json
import math
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
QUADRATIC = {"cc1_dedup_clusters", "dd4_ngram_jaccard", "dd5_embedding_cosine"}


def norm(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def main(sf_dir, out_dir, only_present=False, id_cap=None):
    import os
    con = duckdb.connect()
    for t in TABLES:
        # driver SFs are single files; ScaleGen output is a directory of
        # part files (Spark layout) — glob it for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        sel = f"SELECT * FROM '{path}'"
        # --id-cap N: the scale-frontier mode for the declared-quadratic
        # oracle twins — truncate documents/embeddings to ids below the
        # cap, mirroring the Spark side's SPARK_GRAFT_ID_CAP (see
        # Tables.IdCapConf), so cc1's recursive CTE / dd4/dd5's O(N^2)
        # pair joins terminate at sf1
        if id_cap is not None and t in ("documents", "embeddings"):
            idc = "doc_id" if t == "documents" else "vec_id"
            sel += f" WHERE {idc} < {id_cap}"
        if t == "events":
            # ScaleGen output stores ts as raw int64 nanos (no parquet
            # TIMESTAMP(NANOS) annotation), the same thing Tables.events
            # self-configures on the Spark side — convert here
            (ts_type,) = [r[1] for r in con.sql(f"DESCRIBE {sel}").fetchall()
                          if r[0] == "ts"]
            if ts_type == "BIGINT":
                sel = f"SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{path}'"
        con.sql(f"CREATE VIEW {t} AS {sel}")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if id_cap is not None and name not in QUADRATIC:
            # capping changes every corpus query's answer — in id-cap
            # mode only the quadratic twins (whose dumps were produced
            # under the same cap) are comparable
            print(f"skip {name}: --id-cap mode checks only {sorted(QUADRATIC)}")
            n_skip += 1
            continue
        if only_present:
            import glob
            if not glob.glob(f"{out_dir}/{name}/*.parquet"):
                print(f"skip {name}: no spark dump (subset run)")
                n_skip += 1
                continue
        try:
            rel = con.sql(sql)
            want = rel.fetchall()
            wcols = [d[0] for d in rel.description]
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got = got_rel.fetchall()
            gcols = [d[0] for d in got_rel.description]
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_bad += 1
            continue
        # sort columns by name (driver behavior), then rows by value
        worder = sorted(range(len(wcols)), key=lambda i: wcols[i])
        gorder = sorted(range(len(gcols)), key=lambda i: gcols[i])
        if sorted(wcols) != sorted(gcols):
            print(f"FAIL {name}: columns differ: spark={sorted(gcols)} oracle={sorted(wcols)}")
            n_bad += 1
            continue
        wrows = sorted(tuple(norm(r[i]) for i in worder) for r in want)
        grows = sorted(tuple(norm(r[i]) for i in gorder) for r in got)
        if wrows == grows:
            print(f"ok   {name}: {len(grows)} rows")
            n_ok += 1
        else:
            print(f"FAIL {name}: rows spark={len(grows)} oracle={len(wrows)}")
            gset, wset = set(grows), set(wrows)
            only_w = [r for r in wrows if r not in gset][:3]
            only_g = [r for r in grows if r not in wset][:3]
            for r in only_w:
                print(f"     oracle-only: {r}")
            for r in only_g:
                print(f"     spark-only:  {r}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed" + (f", {n_skip} skipped" if n_skip else ""))
    return 1 if n_bad else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    cap = None
    for f in flags:
        if f.startswith("--id-cap="):
            cap = int(f.split("=", 1)[1])
    sys.exit(main(args[0], args[1], only_present="--only-present" in flags,
                  id_cap=cap))
