#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [key ...]

Reads each <verifyOutDir>/<name>/ parquet (Spark output) and compares it
against DuckDB running oracle_sql.json's SQL over the same sf tables.
Columns are sorted by name before comparison (driver semantics); values
must match exactly. NOT part of the Scala engine — dev tooling only.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

# DuckDB's memory cap, as a share of the box's RAM: one restatement must
# not take the whole box. A restatement over the cap fails with DuckDB's
# out-of-memory error, which is reported as that key's failure.
DUCKDB_MEMORY_SHARE = 0.5

def cap_duckdb(con):
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET threads = {cores}")
    con.execute(f"SET memory_limit = '{int(ram * DUCKDB_MEMORY_SHARE) >> 20}MB'")

def load_tables(con, sf_dir):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def compare(name, spark_df, duck_df):
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA cols spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # Typed comparison: the driver hashes TYPED values, so int64 4568 vs
        # float64 4568.0 is a driver FAIL even though values are ==. Reject
        # numeric-kind drift here so the local gate can't pass what the
        # driver would fail (the r11 llm_bpe_merge_audit HUGEINT bug class).
        if av.dtype.kind != bv.dtype.kind and {av.dtype.kind, bv.dtype.kind} <= {'i', 'u', 'f'}:
            return f"DTYPE col {c} spark={av.dtype} duck={bv.dtype} (typed hash would differ)"
        try:
            if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                # BYTE-exact, like the driver's hash: -0.0 != +0.0 (the r14
                # fn_round_modes miss — numeric == hides signed zero). NaN
                # payloads are CANONICALIZED first (r21 fuzz: a Spark sum
                # over injected ±Inf yields a NaN whose parquet bit pattern
                # differs from DuckDB's quiet NaN — same value, different
                # bits; IEEE 754 does not make payloads observable and
                # neither engine's comparison/ORDER BY distinguishes them).
                an = av.astype('float64').to_numpy().copy()
                bn = bv.astype('float64').to_numpy().copy()
                an[np.isnan(an)] = np.float64('nan')
                bn[np.isnan(bn)] = np.float64('nan')
                ok = an.tobytes() == bn.tobytes()
            else:
                ok = av.astype(object).where(pd.notna(av), None).equals(
                     bv.astype(object).where(pd.notna(bv), None))
        except Exception as e:
            return f"COMPARE-ERR col {c}: {e}"
        if not ok:
            # mask/detail must stay inside try: object-cast == raises for
            # non-comparable dtype pairs (e.g. Timestamp vs float)
            try:
                if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                    an = av.astype('float64').to_numpy().copy()
                    bn = bv.astype('float64').to_numpy().copy()
                    an[np.isnan(an)] = np.float64('nan')
                    bn[np.isnan(bn)] = np.float64('nan')
                    neq = an.view('int64') != bn.view('int64')
                    idx = np.nonzero(neq)[0][:3]
                    detail = "; ".join(
                        f"row{int(i)}: spark={an[i]!r} duck={bn[i]!r}" for i in idx)
                    return f"VALUES col {c} (byte-exact float) {int(neq.sum())} diffs: {detail}"
                mask = ~(((av.isna()) & (bv.isna())) | (av.astype(object) == bv.astype(object)))
                idx = mask[mask].index[:3]
                detail = "; ".join(f"row{int(i)}: spark={av[i]!r} duck={bv[i]!r}" for i in idx)
                return f"VALUES col {c} ({av.dtype} vs {bv.dtype}) {int(mask.sum())} diffs: {detail}"
            except Exception:
                return f"VALUES col {c} ({av.dtype} vs {bv.dtype}) differ (non-comparable dtypes)"
    return None

# ---------------------------------------------------------------------------
# Envelope oracles for the algorithm-dependent sketch keys (r19 verdict #6):
# no cross-engine SQL can restate an HLL/GK estimate, but the estimate's
# CONTRACT — within a declared envelope of the exact answer, with matching
# group sets — is checkable against DuckDB's exact distinct/quantile. Each
# entry: (exact_sql, check(spark_df, exact_df) -> None | problem-string).
# Envelopes mirror the OperatorSpec cross-SF pins (5% rsd for HLL@0.01-ish,
# 5% rank-value for GK@10000, max(2, 2.5%) for the HLL-union path).
# `stream_late_data` stays rows-only by design — its assertion is temporal.

def _env_distinct(spark_df, exact_df):
    est = float(spark_df["approx_orders"].iloc[0])
    exact = float(exact_df["exact"].iloc[0])
    if exact <= 0:
        return f"exact distinct is {exact} — fixture broken"
    if abs(est - exact) / exact >= 0.05:
        return f"approx {est} vs exact {exact} outside 5% rsd envelope"
    return None

def _env_percentile(spark_df, exact_df):
    a = spark_df.set_index("o_orderpriority")
    b = exact_df.set_index("o_orderpriority")
    if set(a.index) != set(b.index):
        return f"group sets differ: spark={sorted(map(str, a.index))} exact={sorted(map(str, b.index))}"
    for g in a.index:
        for c in ("p50", "p90"):
            est, exact = float(a.loc[g, c]), float(b.loc[g, c])
            if abs(est - exact) > 0.05 * abs(exact):
                return f"{g} {c}: approx {est} vs exact {exact} outside 5%"
        if int(a.loc[g, "n"]) != int(b.loc[g, "n"]):
            return f"{g} n: {a.loc[g, 'n']} vs exact {b.loc[g, 'n']}"
    return None

def _env_sketch_union(spark_df, exact_df):
    a = spark_df.set_index("event_type")
    b = exact_df.set_index("event_type")
    if set(a.index) != set(b.index):
        return f"group sets differ: spark={sorted(map(str, a.index))} exact={sorted(map(str, b.index))}"
    for g in a.index:
        est, exact = float(a.loc[g, "approx_users"]), float(b.loc[g, "exact_users"])
        if abs(est - exact) > max(2.0, 0.025 * exact):
            return f"{g}: union estimate {est} vs exact {exact} outside max(2, 2.5%)"
        if int(a.loc[g, "n_events"]) != int(b.loc[g, "n_events"]):
            return f"{g} n_events: {a.loc[g, 'n_events']} vs exact {b.loc[g, 'n_events']}"
    return None

ENVELOPES = {
    "agg_approx_distinct": (
        "SELECT count(DISTINCT l_orderkey) AS exact FROM lineitem",
        _env_distinct),
    "agg_approx_percentile": (
        # same measure-ingest guard as the key and its exact twin
        """SELECT o_orderpriority,
                  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
                  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
                  count(*) AS n
           FROM orders
           WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
           GROUP BY o_orderpriority""",
        _env_percentile),
    "agg_sketch_union": (
        """SELECT event_type, count(DISTINCT user_id) AS exact_users,
                  count(*) AS n_events
           FROM events GROUP BY event_type""",
        _env_sketch_union),
}


def survey_keys(survey_path):
    """Every backticked key named in SURVEY.md §2's table rows (first
    cell). Handles the two multi-key rows: `join_left/right/full` and
    `set_union_all` / `set_union_distinct`."""
    import re
    keys = []
    in_s2 = False
    for line in open(survey_path):
        if line.startswith("## §2"):
            in_s2 = True
            continue
        if in_s2 and re.match(r"^## §\d", line):
            break
        if not (in_s2 and line.startswith("| `")):
            continue
        first_cell = line.split("|")[1]
        for tok in re.findall(r"`([^`]+)`", first_cell):
            if "/" in tok and not tok.startswith("/"):
                # join_left/right/full -> join_left, join_right, join_full
                head, *rest = tok.split("/")
                prefix = head.rsplit("_", 1)[0]
                keys.append(head)
                keys.extend(f"{prefix}_{r}" for r in rest)
            else:
                keys.append(tok)
    return keys


def contract_check(out_dir):
    """Diff the engine's full key list (_keys.json, dumped by Verify)
    against SURVEY.md §2 — the judge's mechanical contract check, run at
    build time. Returns a list of problem strings (empty = green)."""
    problems = []
    kp = os.path.join(out_dir, "_keys.json")
    sp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "SURVEY.md")
    if not os.path.exists(kp):
        return ["no _keys.json in out dir (re-run graft.Verify)"]
    engine = set(json.load(open(kp)))
    survey = survey_keys(sp)
    sdups = sorted({k for k in survey if survey.count(k) > 1})
    if sdups:
        problems.append(f"SURVEY §2 names keys twice: {sdups}")
    sset = set(survey)
    if sset - engine:
        problems.append(f"in SURVEY §2 but not in SparkEntry.queries: {sorted(sset - engine)}")
    if engine - sset:
        problems.append(f"in SparkEntry.queries but not in SURVEY §2: {sorted(engine - sset)}")
    return problems


def perf_check(new_path, prior_path, factor=1.5, floor_sec=0.25):
    """Build-time per-key perf-drift gate (r16 verdict #2): compare a fresh
    BENCH_FULL.json's per-key MEDIANS against a committed prior-round
    record. Flags non-suspect keys whose median grew > `factor`x AND by
    more than `floor_sec` absolute (tiny keys live at the scheduler floor
    where ratios are pure noise). Keys in either record's suspect list are
    reported but not flagged (box-noise adjudication is the sentinel's
    job, not this gate's). tools/perf_waivers.json holds deliberate
    trades: {key: reason} entries are reported as waived, never flagged.
    Returns (flagged, report_lines)."""
    new = json.load(open(new_path))
    prior = json.load(open(prior_path))
    nmed, pmed = new.get("median", {}), prior.get("median", {})
    suspects = set(new.get("suspect", [])) | set(prior.get("suspect", []))
    wpath = os.path.join(os.path.dirname(os.path.abspath(__file__)), "perf_waivers.json")
    waivers = json.load(open(wpath)) if os.path.exists(wpath) else {}
    lines, flagged = [], []
    # a record without medians (driver summary format, truncated file)
    # must FAIL the gate, not void it — zero shared keys means nothing
    # was compared (r17 review)
    if not set(nmed) & set(pmed):
        flagged.append("_no_shared_keys")
        lines.append("perf: FLAG no shared median keys between the two records — "
                     "gate is vacuous (wrong or truncated bench record?)")
        return flagged, lines
    added = sorted(set(nmed) - set(pmed))
    gone = sorted(set(pmed) - set(nmed))
    if added:
        lines.append(f"perf: new keys (no prior): {', '.join(added)}")
    if gone:
        lines.append(f"perf: keys missing from fresh record: {', '.join(gone)}")
    for k in sorted(set(nmed) & set(pmed)):
        n, p = nmed[k], pmed[k]
        if p <= 0 or n <= p * factor or n - p <= floor_sec:
            continue
        tag = f"{k} {p:.3f}s -> {n:.3f}s ({n/p:.2f}x)"
        if k in waivers:
            lines.append(f"perf: WAIVED {tag} :: {waivers[k]}")
        elif k in suspects:
            lines.append(f"perf: SUSPECT-SEGMENT {tag} (not flagged; re-measure)")
        else:
            flagged.append(k)
            lines.append(f"perf: FLAG {tag}")
    if not flagged:
        lines.append(f"perf: no unwaived regressions > {factor}x (+{floor_sec}s floor) "
                     f"across {len(set(nmed) & set(pmed))} shared keys")
    return flagged, lines


def main():
    # optional: --json <path> writes the per-key results as JSON (the
    # round-end local snapshot VERDICT r11 #8 asked for)
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    # optional: --perf <fresh BENCH_FULL.json> <prior BENCH_FULL.json>
    # runs ONLY the perf gate (no sfDir/outDir needed) and exits 3 on an
    # unwaived >1.5x median regression.
    if "--perf" in argv:
        i = argv.index("--perf")
        flagged, lines = perf_check(argv[i + 1], argv[i + 2])
        for l in lines:
            print(l)
        sys.exit(3 if flagged else 0)
    sf_dir, out_dir = argv[0], argv[1]
    only = set(argv[2:])
    con = duckdb.connect()
    cap_duckdb(con)
    con.execute("SET TimeZone='UTC'")
    load_tables(con, sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        pdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(pdir, "*.parquet"))
        if not files:
            results[name] = "MISSING spark output"
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        except Exception as e:
            results[name] = f"READ-ERR {e}"
            continue
        try:
            # DESCRIBE gate: a HUGEINT/UHUGEINT oracle column (DuckDB's
            # integer-sum default) surfaces in pandas as float64/object and
            # hash-mismatches Spark's BIGINT at the driver — reject outright.
            desc = con.execute(f"DESCRIBE {sql}").fetchdf()
            huge = [r["column_name"] for _, r in desc.iterrows()
                    if "HUGEINT" in str(r["column_type"]).upper()]
            if huge:
                results[name] = f"ORACLE-HUGEINT cols {huge} (cast to BIGINT in the oracle SQL)"
                continue
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE-ERR {str(e).splitlines()[0][:200]}"
            continue
        results[name] = compare(name, spark_df, duck_df)
        # Nested-leaf gate: the driver's canonicalizer CRASHES sorting an
        # array leaf (r14 llm_feature_hashing, TypeError in sort_values) —
        # an oracle-gated output with a non-scalar column is ungradable at
        # the driver no matter what this script computes, so fail it HERE.
        for c in spark_df.columns:
            nn = spark_df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (np.ndarray, list, dict)):
                results[name] = (f"NESTED-LEAF col '{c}' "
                                 f"({type(nn.iloc[0]).__name__}) — driver "
                                 f"comparator crashes; array_join/to_json it")
                break
    # Envelope-gated sketch keys (r19 verdict #6): no SQL-restatable
    # oracle, but the estimate must sit inside its declared envelope of
    # DuckDB's exact answer — on THIS dir's tables (clean, nulled or
    # fuzzed alike).
    envelope_keys = []
    for name, (exact_sql, check) in sorted(ENVELOPES.items()):
        if (only and name not in only) or name in oracle:
            continue
        pdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(pdir, "*.parquet"))
        if not files:
            continue   # key not in this Verify run
        envelope_keys.append(name)
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            exact_df = con.execute(exact_sql).fetchdf()
        except Exception as e:
            results[name] = f"ENVELOPE-ERR {str(e).splitlines()[0][:200]}"
            continue
        prob = check(spark_df, exact_df)
        results[name] = None if prob is None else f"ENVELOPE {prob}"
    npass = sum(1 for v in results.values() if v is None)
    for name, v in sorted(results.items()):
        tag = "PASS-ENV" if v is None and name in envelope_keys else \
              ("PASS" if v is None else "FAIL")
        print(f"{tag} {name}" + (f" :: {v}" if v else ""))
    print(f"== {npass}/{len(results)} pass ==")
    contract = contract_check(out_dir)
    for p in contract:
        print(f"CONTRACT-FAIL :: {p}")
    if not contract and os.path.exists(os.path.join(out_dir, "_keys.json")):
        nkeys = len(json.load(open(os.path.join(out_dir, "_keys.json"))))
        print(f"contract: {nkeys} keys, SURVEY §2 diff empty both directions")
    # note which query keys have no oracle AND no envelope (rows-only)
    missing = [n for n in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, n)) and n not in oracle
               and n not in envelope_keys]
    if missing and not only:
        print("rows-only (no oracle):", ", ".join(sorted(missing)))
    if envelope_keys and not only:
        print("envelope-gated (exact±declared bound):",
              ", ".join(sorted(envelope_keys)))
    if json_out:
        rec = {n: {"pass": v is None, "detail": v} for n, v in sorted(results.items())}
        rec["_summary"] = {"pass": npass, "total": len(results),
                           "rows_only": sorted(missing),
                           "envelope_keys": sorted(envelope_keys),
                           "contract_problems": contract}
        with open(json_out, "w") as f:
            json.dump(rec, f, indent=1)
        print("json ->", json_out)
    # exit LAST so a contract failure never suppresses the per-key
    # snapshot or the rows-only note computed above
    if contract:
        sys.exit(2)

if __name__ == "__main__":
    main()
