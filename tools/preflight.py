#!/usr/bin/env python3
"""Pre-flight oracle runner (SURVEY.md §5.3) — dev tool, not shipped code.

Mirrors the driver's t2 gate locally: for each key in oracle_sql.json,
load the Spark result parquet written by graft.Verify, run the oracle SQL
in DuckDB over the same fixture parquet, sort columns by name, and
compare values exactly. Usage:

    python3 tools/preflight.py <sfDir> <verifyOutDir> [key ...]

PASS criteria (deliberately mirroring the driver's hash gate, no more
and no less):
  - Columns are matched BY NAME after sorting both sides' column lists
    — the driver sorts columns by name before hashing, so a column-
    ORDER divergence between engines is not a defect and does not fail
    here either (rows, by contrast, compare in produced order).
  - NaN == NaN and NaT == NaT count as equal (canon() maps both to
    sentinel strings; the vectorized path uses isna-on-both-sides for
    the same semantics). Everything else is exact equality — no float
    tolerance.
"""
import sys, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The components-family oracles close the near-dup pair graph with a
# recursive CTE (all-pairs reachability) — quadratic in component size,
# which OOMs single-node DuckDB at sf1 (the Spark side labels by
# union-find plus a FastSV-hooked merge, DedupOps.componentLabels).
# With GRAFT_ITER_CLOSURE=1 the replay swaps ONLY the reach/comp block
# for an iterative min-label + pointer-jump loop with no hooking,
# keeping the simhash CTE chain and the final per-key SELECT verbatim.
# This is an independent second implementation of the closure, so a
# hash match is stronger evidence than the recursive mirror, and it
# runs at sf1 in bounded memory. Its 50-round cap is the cap the
# earlier Spark min-label loop hit, unconverged, on a shuffled
# 20k-vertex path.
_REACH_START = "reach(x, y) AS ("
_REACH_END = "GROUP BY n.x)"


def iterative_closure(con, sql):
    """Replay a components-family oracle with an iterative closure.

    Splits the oracle at the recursive reach/comp block, materializes
    `und` from the untouched CTE prefix, runs min-label propagation +
    pointer jumping as CREATE TABLE AS rounds until no label changes,
    then executes the untouched suffix with `comp` bound to the result.
    """
    i = sql.index(_REACH_START)
    j = sql.index(_REACH_END) + len(_REACH_END)
    prefix = sql[:i].rstrip().rstrip(",")   # WITH RECURSIVE ..., und AS (...)
    suffix = sql[j:]                        # ", sizes AS (..." or final SELECT
    con.execute(f"CREATE OR REPLACE TABLE __und AS {prefix} "
                "SELECT x, y FROM und")
    # Fused round 0: identity labels make the first min-neighbor step
    # min(x, min over neighbors) — one aggregate, no join.
    con.execute("CREATE OR REPLACE TABLE __lab AS "
                "SELECT x AS doc_id, least(x, min(y)) AS component "
                "FROM __und GROUP BY x")
    for _ in range(50):
        con.execute(
            "CREATE OR REPLACE TABLE __jumped AS "
            "WITH nmin AS (SELECT u.x AS doc_id, min(l.component) AS nl "
            "              FROM __und u JOIN __lab l ON u.y = l.doc_id "
            "              GROUP BY u.x), "
            "stepped AS (SELECT l.doc_id, "
            "              least(l.component, coalesce(n.nl, l.component))"
            "                AS component "
            "            FROM __lab l LEFT JOIN nmin n USING (doc_id)) "
            "SELECT s.doc_id, "
            "       least(s.component, coalesce(t.component, s.component))"
            "         AS component "
            "FROM stepped s LEFT JOIN stepped t ON s.component = t.doc_id")
        changed = con.sql(
            "SELECT count(*) FROM __jumped j JOIN __lab l USING (doc_id) "
            "WHERE j.component <> l.component").fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE __lab AS "
                    "SELECT * FROM __jumped")
        if changed == 0:
            break
    else:
        raise RuntimeError("iterative closure: no convergence in 50 rounds")
    return con.sql("WITH comp AS (SELECT doc_id, component FROM __lab)"
                   + suffix).df()


def split_ctes(sql):
    """Split a top-level WITH chain into ([(name, body)...], final_select).

    Paren-depth scanner that is single-quote-aware, so parens inside
    string literals don't break the chain. Only used for staged
    replays; the driver's gate always runs the oracle verbatim.
    """
    # Strip -- comments (quote-aware) first: a top-level comment would
    # otherwise scan as a CTE named "--".
    buf, q, p = [], False, 0
    while p < len(sql):
        c = sql[p]
        if q:
            buf.append(c)
            if c == "'":
                q = False
        elif c == "'":
            buf.append(c)
            q = True
        elif c == "-" and sql[p:p + 2] == "--":
            while p < len(sql) and sql[p] != "\n":
                p += 1
            continue
        else:
            buf.append(c)
        p += 1
    s = "".join(buf).strip()
    assert s.upper().startswith("WITH")
    i = len("WITH")
    ctes = []

    def balanced_end(p):
        depth, q = 0, False
        while True:
            c = s[p]
            if q:
                if c == "'":
                    q = False
            elif c == "'":
                q = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return p
            p += 1

    while True:
        # parse: <name> [(col, ...)] AS [MATERIALIZED] ( body )
        #        [, | final SELECT]
        while s[i].isspace():
            i += 1
        j = i
        while s[j] not in " \t\r\n(":
            j += 1
        name = s[i:j]
        # optional CTE column list: name(c1, c2) AS (...)
        cols = None
        m = j
        while s[m].isspace():
            m += 1
        if s[m] == "(":
            p = balanced_end(m)
            after = p + 1
            while s[after].isspace():
                after += 1
            if s[after:after + 2].upper() == "AS":
                cols = s[m + 1:p]
                j = after
        k = s.index("(", j)
        m = balanced_end(k)
        ctes.append((name, cols, s[k + 1:m]))
        m += 1
        while s[m].isspace():
            m += 1
        if s[m] == ",":
            i = m + 1
            continue
        return ctes, s[m:]


def staged_replay(con, sql):
    """Replay a (non-recursive) oracle as one CREATE TABLE per CTE.

    DuckDB's planner chokes on deep CTE chains whose members are
    referenced repeatedly with correlated subqueries (the greedy
    k-round oracles ran 40+ min at sf1 as ONE statement; the identical
    chain as sequential tables runs in seconds). Semantics are
    unchanged — each CTE body executes verbatim, in order, with
    earlier CTEs visible as tables.
    """
    ctes, final = split_ctes(sql)
    # Staged tables are created under the CTE's own name (references in
    # later bodies resolve unchanged). A CTE named like a base-table
    # view would try to shadow fixture state and the finally-drop would
    # then race the view — refuse loudly instead of corrupting the
    # sweep for every later key.
    clash = [n for n, _, _ in ctes if n.lower() in TABLES]
    if clash:
        raise ValueError(
            f"staged_replay: CTE name(s) {clash} collide with base "
            f"fixture tables; rename the CTE(s) in the oracle")
    made = []
    try:
        for name, cols, body in ctes:
            if cols:
                # CTE column list: rename through a FROM-alias wrapper
                con.execute(f"CREATE OR REPLACE TABLE {name} AS "
                            f"SELECT * FROM ({body}) AS __cl({cols})")
            else:
                con.execute(f"CREATE OR REPLACE TABLE {name} AS {body}")
            made.append(name)
        return con.sql(final).df()
    finally:
        for name in reversed(made):
            con.execute(f"DROP TABLE IF EXISTS {name}")


def canon(v):
    """Canonical cell form, tolerant of container/ts dtype differences."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    t = type(v).__name__
    if t == "NaTType":
        return "NaT"
    if t in ("ndarray", "list", "tuple"):
        return tuple(canon(x) for x in v)
    if t == "Timestamp":
        return v.isoformat()
    if t in ("date", "datetime"):
        return v.isoformat()
    if t == "Decimal":
        return float(v)
    if t in ("int64", "int32", "int8", "uint64", "bool_"):
        return v.item() if hasattr(v, "item") else v
    if t in ("float64", "float32"):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    return v


def selftest(sf, out, key="limit_topk"):
    """Negative control for the gate itself (round-11): rewrite one
    key's Spark output twice — byte-faithful (must still PASS, proving
    the rewrite round-trip preserves compare order) and with ONE cell
    corrupted (must FAIL). Guards against the comparator degrading into
    a rubber stamp. Usage:
        python3 tools/preflight.py <sfDir> <verifyOutDir> --selftest [key]
    """
    import os
    import shutil
    import subprocess
    import tempfile
    con = duckdb.connect()
    cols = con.sql(
        f"SELECT * FROM read_parquet('{out}/{key}/*.parquet') LIMIT 0").df()
    num = next((c for c in cols.columns
                if str(cols[c].dtype) not in ("object", "string")), None)
    if num is None:
        sys.exit(f"selftest: {key} has no numeric column to corrupt — "
                 "pick another key")
    results = {}
    for mode in ("faithful", "corrupted"):
        d = tempfile.mkdtemp(prefix=f"preflight-st-{mode}-")
        shutil.copy(f"{out}/oracle_sql.json", f"{d}/oracle_sql.json")
        os.makedirs(f"{d}/{key}")
        if mode == "corrupted":
            con.execute(
                f"COPY (SELECT * EXCLUDE (rowid) REPLACE (CASE WHEN rowid = 0 "
                f"THEN {num} + 1 ELSE {num} END AS {num}) FROM (SELECT *, "
                f"row_number() OVER () - 1 AS rowid FROM "
                f"read_parquet('{out}/{key}/*.parquet'))) "
                f"TO '{d}/{key}/part0.parquet' (FORMAT parquet)")
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{out}/{key}/*.parquet')) "
                f"TO '{d}/{key}/part0.parquet' (FORMAT parquet)")
        # Pass/fail comes from the subprocess RETURN CODE, not a
        # substring of its stdout: '0 fail' also matches '10 fail'/'20
        # fail' and silently depends on the summary print format
        # (round-11 ADVICE). main() already exits nonzero on any
        # mismatch, so rc==0 is the contract.
        rc = subprocess.run(
            ["python3", __file__, sf, d, key],
            capture_output=True, text=True).returncode
        results[mode] = rc == 0
        shutil.rmtree(d, ignore_errors=True)
    ok = results["faithful"] and not results["corrupted"]
    print(f"selftest({key}): faithful-rewrite pass={results['faithful']} "
          f"(want True), corrupted pass={results['corrupted']} (want False) "
          f"-> {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


def main():
    sf, out = sys.argv[1], sys.argv[2]
    if len(sys.argv) > 3 and sys.argv[3] == "--selftest":
        selftest(sf, out, *(sys.argv[4:5] or ["limit_topk"]))
    only = set(sys.argv[3:])
    con = duckdb.connect()
    import os
    # Scaled-fixture replays (sf1+) need bounded memory with disk
    # spill: GRAFT_DUCKDB_MEM caps the working set and
    # GRAFT_DUCKDB_TMP points the spill at a disk with room, so a
    # heavy replay degrades to spilling instead of OOMing the box.
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    tmpd = os.environ.get("GRAFT_DUCKDB_TMP")
    if tmpd:
        con.execute(f"SET temp_directory='{tmpd}'")
    for t in TABLES:
        tp = f"{sf}/{t}.parquet"
        # GenScale-produced fixtures are parquet DIRECTORIES; the
        # driver's are single files — glob accordingly.
        if os.path.isdir(tp):
            tp = f"{tp}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tp}')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    for k in sorted(oracle):
        if only and k not in only:
            continue
        sql = oracle[k]
        try:
            sdf = con.sql(
                f"SELECT * FROM read_parquet('{out}/{k}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {k}: spark result unreadable: {e}")
            n_fail += 1
            continue
        # GRAFT_KEY_TIMEOUT (seconds): bound each oracle replay so one
        # quadratic single-node replay can't stall a scaled-fixture
        # sweep — the interrupt surfaces as a per-key FAIL and the
        # sweep moves on (the Spark side is the scalable one by
        # design; see SURVEY §5.3).
        timeout = float(os.environ.get("GRAFT_KEY_TIMEOUT", "0"))
        timer = None
        if timeout > 0:
            import threading
            timer = threading.Timer(timeout, con.interrupt)
            timer.start()
        try:
            if (os.environ.get("GRAFT_ITER_CLOSURE") == "1"
                    and "WITH RECURSIVE" in sql and _REACH_START in sql):
                odf = iterative_closure(con, sql)
            elif (os.environ.get("GRAFT_STAGED") == "1"
                    and "WITH RECURSIVE" not in sql
                    and sql.strip().upper().startswith("WITH")):
                odf = staged_replay(con, sql)
            else:
                odf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {k}: oracle sql error: {e}", flush=True)
            n_fail += 1
            continue
        finally:
            if timer is not None:
                timer.cancel()
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {k}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            n_fail += 1
            continue
        sdf = sdf[sorted(sdf.columns)]
        odf = odf[sorted(odf.columns)]
        if len(sdf) != len(odf):
            print(f"FAIL {k}: rows spark={len(sdf)} oracle={len(odf)}")
            n_fail += 1
            continue
        # Vectorized per-column equality for simple dtypes (the sf3
        # sweep spent ~15 min per 28M-row key in the per-cell loop);
        # columns with container/Decimal cells fall back to canon().
        # Semantics match the loop: NaN==NaN counts equal (canon maps
        # NaN to the string "NaN"), everything else is exact.
        import numpy as np
        import pandas as pd
        bad_rows = np.zeros(len(sdf), dtype=bool)
        slow_cols = []
        for c in sdf.columns:
            a, b = sdf[c], odf[c]
            if ((pd.api.types.is_float_dtype(a) and
                    pd.api.types.is_float_dtype(b)) or
                    (a.dtype == b.dtype
                     and pd.api.types.is_datetime64_any_dtype(a))):
                # NaN==NaN and NaT==NaT count equal, like canon()
                bad_rows |= ~((a.values == b.values)
                              | (pd.isna(a.values) & pd.isna(b.values)))
            elif (a.dtype == b.dtype and
                    (pd.api.types.is_integer_dtype(a)
                     or pd.api.types.is_bool_dtype(a))):
                bad_rows |= a.values != b.values
            else:
                slow_cols.append(c)
        for c in slow_cols:
            av = sdf[c].tolist()
            bv = odf[c].tolist()
            bad_rows |= np.fromiter(
                (canon(x) != canon(y) for x, y in zip(av, bv)),
                dtype=bool, count=len(av))
        bad = None
        nz = np.flatnonzero(bad_rows)
        if len(nz):
            i = int(nz[0])
            bad = (i,
                   tuple(canon(v) for v in sdf.iloc[i]),
                   tuple(canon(v) for v in odf.iloc[i]))
        # dtype mismatches matter if the driver hashes typed values
        dt = [(c, str(sdf[c].dtype), str(odf[c].dtype))
              for c in sdf.columns if str(sdf[c].dtype) != str(odf[c].dtype)]
        if bad:
            print(f"FAIL {k}: row {bad[0]}\n  spark : {bad[1]}\n  oracle: {bad[2]}", flush=True)
            n_fail += 1
        else:
            note = f"  [dtype diff: {dt}]" if dt else ""
            print(f"PASS {k} ({len(sdf)} rows){note}", flush=True)
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
