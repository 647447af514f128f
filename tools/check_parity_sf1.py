#!/usr/bin/env python3
"""Full-catalog sf1 parity sweep with a per-oracle watchdog.

Usage: python3 tools/check_parity_sf1.py <sfDir> <verifyOutDir> [timeout_s] [resume_log]

Same compare as check_parity.py (column names sorted, rows sorted,
values normalized) but each DuckDB oracle runs under a watchdog
(default 600 s): sf1 makes a handful of completeness oracles
(unblocked all-pairs joins) arbitrarily slow, and the sweep's point is
the OTHER 380 queries' degenerate-case coverage — a too-slow oracle is
recorded as SKIP with its elapsed time, never silently dropped, so the
exclusion list is part of the artifact. Emits one JSON line at the end
(ok / failed / skipped lists) for COVERAGE.md.

The first output line is `HEAD <git sha>` of the checkout the sweep
checks. `resume_log` is an earlier run's output: its `OK   q...` lines
are carried forward only when that log's HEAD line names the current
commit, so a result of older code is never reported for newer code.
"""
import json
import os
import subprocess
import sys
import threading

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def driver_sort(df: pd.DataFrame) -> None:
    df[sorted(df.columns)].sort_values(by=sorted(df.columns))


def head_sha():
    """The checkout's commit, or None outside a git work tree."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            check=True, cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def carried_oks(log_path, head):
    """The `OK   q...` names of a previous run's log, if it ran at `head`."""
    lines = open(log_path).read().splitlines()
    log_head = next(
        (l.split()[1] for l in lines if l.startswith("HEAD ") and len(l.split()) > 1),
        None)
    if head is None or log_head != head:
        print(f"RESUME ignored: {log_path} ran at HEAD {log_head}, "
              f"this run is at HEAD {head}; re-running every query",
              flush=True)
        return set()
    return {l.split()[1] for l in lines if l.startswith("OK   ")}


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    timeout_s = float(sys.argv[3]) if len(sys.argv) > 3 else 600.0
    head = head_sha()
    print(f"HEAD {head}", flush=True)
    # optional resume: a previous run's log — its "OK   q..." lines are
    # carried forward as ok without re-running (the sweep is ~3 h of
    # DuckDB time; an interruption must not restart it from zero), but
    # only when that run checked the same commit
    done = carried_oks(sys.argv[4], head) if len(sys.argv) > 4 else set()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # sf1 makes a handful of quadratic completeness oracles memory-
    # monsters as well as slow: an uncapped run was OOM-killed by the
    # kernel at 129 GB RSS. Cap DuckDB and give it a disk spill dir —
    # operators that can spill run slower (and then hit the watchdog,
    # recorded as SKIP); operators that cannot raise an OOM error,
    # recorded as SKIP below, never a kernel kill.
    con.execute("SET memory_limit='24GB'")
    os.makedirs("/tmp/duck_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        # driver testdata tables are single parquet FILES; ScaleUp
        # replicas are Spark output DIRECTORIES — DuckDB needs a glob
        # for the latter
        p = f"{sf_dir}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok, failed, skipped = [], [], []
    for name, sql in sorted(oracle.items()):
        if name in done:
            print(f"OK   {name} (carried from previous run)", flush=True)
            ok.append(name)
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})", flush=True)
            failed.append(name)
            continue
        # watchdog: interrupt the oracle if it exceeds the budget —
        # DuckDB raises InterruptException, recorded as SKIP
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        import time
        t0 = time.time()
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            dt = time.time() - t0
            if "INTERRUPT" in str(e).upper() or dt >= timeout_s - 1:
                print(f"SKIP {name}: oracle exceeded {timeout_s:.0f}s "
                      f"(elapsed {dt:.0f}s)", flush=True)
                skipped.append(name)
            elif "OUT OF MEMORY" in str(e).upper() \
                    or "MEMORY LIMIT" in str(e).upper():
                print(f"SKIP {name}: oracle over the DuckDB memory cap "
                      f"(elapsed {dt:.0f}s): {e}", flush=True)
                skipped.append(name)
            else:
                print(f"FAIL {name}: oracle error: {e}", flush=True)
                failed.append(name)
            continue
        finally:
            timer.cancel()
        try:
            driver_sort(got)
            driver_sort(exp)
        except Exception as e:
            print(f"FAIL {name}: driver-compat raw sort crashed: {e}",
                  flush=True)
            failed.append(name)
            continue
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs "
                  f"{list(x.columns)}", flush=True)
            failed.append(name)
        elif len(g) != len(x):
            print(f"FAIL {name}: rows {len(g)} vs {len(x)}", flush=True)
            failed.append(name)
        elif not g.equals(x):
            diff = (g != x).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())} differing rows "
                  f"(of {len(g)})", flush=True)
            failed.append(name)
        else:
            print(f"OK   {name} ({len(g)} rows)", flush=True)
            ok.append(name)
    print(json.dumps({
        "sf": sf_dir, "timeout_s": timeout_s, "ok": len(ok),
        "failed": failed, "skipped": skipped}), flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
