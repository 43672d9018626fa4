"""Correctness checks run after every benchmark run, outside the timed part.

Each check returns a list of error strings; an empty list means it passed.
A run whose checks fail reports the failures and no timings.
"""
import datetime as dt
import os
import re
import sys

_CREATED = re.compile(r'"created_at":"([^"]+)"')
TTL_DAYS = 3


def created_at(raw):
    """Epoch seconds of an event's RFC3339 `created_at`."""
    s = _CREATED.search(raw).group(1)
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ") \
        .replace(tzinfo=dt.timezone.utc).timestamp()


def read_archive(path):
    """(id as string, raw) for every row stored under an archive directory."""
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["id", "raw"])
    return list(zip((str(i) for i in t.column("id").to_pylist()),
                    t.column("raw").to_pylist()))


def check_archived(expected, stored, exactly_once=False):
    """Every expected id is stored with its raw byte-for-byte, and nothing
    else is stored. At-least-once storage may repeat a row unless
    `exactly_once`."""
    errs, seen = [], {}
    for i, raw in stored:
        seen[i] = seen.get(i, 0) + 1
        want = expected.get(i)
        if want is None:
            errs.append(f"id {i} stored but never sent in range")
        elif raw != want:
            errs.append(f"id {i}: raw differs from the input "
                        f"({0 if raw is None else len(raw)} vs {len(want)} chars)")
    missing = [i for i in expected if i not in seen]
    if missing:
        errs.append(f"{len(missing)} ids lost, e.g. {missing[:3]}")
    if exactly_once:
        dups = [i for i, n in seen.items() if n > 1]
        if dups:
            errs.append(f"{len(dups)} ids stored more than once, e.g. {dups[:3]}")
    return errs[:20]


def expected_day_counts(expected):
    """Per-day distinct-event counts inside the 3-day TTL window, the
    newest event setting "now" (ArchiveStream.applyTtl's rule)."""
    ts = [created_at(r) for r in expected.values()]
    cutoff = max(ts) - TTL_DAYS * 86400
    out = {}
    for t in ts:
        if t >= cutoff:
            d = dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%d")
            out[d] = out.get(d, 0) + 1
    return out


def check_day_counts(expected, got):
    """The replace-by-key + TTL read returns each live id exactly once."""
    errs = []
    for d in sorted(set(expected) | set(got)):
        if expected.get(d, 0) != got.get(d, 0):
            errs.append(f"day {d}: read returned {got.get(d, 0)} rows, "
                        f"expected {expected.get(d, 0)}")
    return errs


def check_hours_read(files_read, outside):
    """Listing-level pruning: no hour file outside the range is read."""
    bad = sorted(set(files_read) & set(outside))
    return [f"out-of-range hour files read: {bad}"] if bad else []


def check_hour_rows(expected, got):
    """The source decodes every line of every in-range hour file, with its
    `created_at` parsed, and returns no row of any other hour. `expected`
    maps hour key to line count; `got` holds {hour, n, n_ts} per hour."""
    errs = []
    rows = {g["hour"]: g for g in got}
    for h in sorted(set(expected) | set(rows)):
        g = rows.get(h, {"n": 0, "n_ts": 0})
        if g["n"] != expected.get(h, 0):
            errs.append(f"hour {h}: {g['n']} rows read, expected {expected.get(h, 0)}")
        elif g["n_ts"] != g["n"]:
            errs.append(f"hour {h}: {g['n'] - g['n_ts']} rows without a parsed ts")
    return errs[:20]


# --- query results against the DuckDB oracle -----------------------------

def _verify_local():
    """The repository's DuckDB oracle comparison, `tools/verify_local.py`."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import verify_local
    return verify_local


def connect(tables_dir, tmp_dir):
    """verify_local's connection over the query tables, spilling (if ever)
    under `tmp_dir` and with a memory cap for a machine shared with Spark."""
    con = _verify_local().connect(tables_dir)
    con.sql(f"SET temp_directory='{tmp_dir}'")
    con.sql("SET memory_limit='1GB'")
    return con


def check_query_results(con, check_dir, oracle_sql, keys):
    """Per key: the Spark result in `check_dir/<key>/` matches its oracle as
    `verify_local.compare_key` judges it; keys without an oracle
    (approximate by design) must return rows. Returns {key: errors}."""
    vl = _verify_local()
    out = {}
    for k in keys:
        path = os.path.join(check_dir, k)
        if not os.path.isdir(path):
            out[k] = ["no result written"]
            continue
        sql = oracle_sql.get(k)
        if sql is None:
            n = con.sql(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
            out[k] = [] if n else ["approximate key returned no rows"]
            continue
        status, detail = vl.compare_key(con, check_dir, k, sql)
        out[k] = [] if status == "pass" else [f"{status}: {detail}"]
    return out
