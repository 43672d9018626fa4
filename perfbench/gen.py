"""Seeded input generator for the archive benchmark.

Every input the engine sees comes from here, from one `seed`, in one
process; the same seed gives byte-identical files. Three input sets:

- `ingest_inputs`: raw GitHub event JSON in the shape the events API and
  GH Archive deliver (string `"id"`, RFC3339 `created_at`, verbatim payload
  of log-normal length), cut into catch-up adds and live pages, with a
  stated at-least-once replay share and a small share of events out of
  order within the archiver's 10-minute watermark.
- `backfill_inputs`: the same events as hourly `YYYY-MM-DD-H.json.gz` NDJSON
  files, some of them outside the hour range the load asks for, with a few
  events repeated across files.
- `query_tables`: the star-schema + events + documents + embeddings tables
  the query keys read (`Tables.*`), with the column types and value domains
  of the engine's test fixtures, at a chosen scale.
"""
import datetime as dt
import gzip
import json
import os

import numpy as np

# Share of rows in every catch-up add and live page that re-send an event
# already sent (the events API returns overlapping pages; GH Archive hours
# overlap at their edges).
REPLAY_SHARE = 0.10
# Share of events whose created_at lags their neighbours, by at most
# OOO_MAX_S seconds: late, but inside the archiver's 10-minute watermark.
OOO_SHARE = 0.02
OOO_MAX_S = 480
# Raw payload length: log-normal, median 1,000 bytes (mean ~1.5 KB).
RAW_MEDIAN = 1000
RAW_SIGMA = 0.9

EVENT_TYPES = ["PushEvent", "CreateEvent", "WatchEvent", "IssueCommentEvent",
               "PullRequestEvent", "IssuesEvent", "ForkEvent", "DeleteEvent"]
EVENT_WEIGHTS = [0.45, 0.12, 0.12, 0.08, 0.08, 0.06, 0.05, 0.04]
WORDS = ("fix add update merge bump refactor test docs build release the a of "
         "to in for with on branch pull request issue commit readme ci lint "
         "version deps config api client server cache error handler "
         "café naïve 日本 über tab\tquote\" back\\slash "
         "line\nbreak").split(" ")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _text_pool(rng, n_words=60000):
    return " ".join(rng.choice(WORDS, size=n_words))


def _rfc3339(epoch_s):
    return dt.datetime.fromtimestamp(int(epoch_s), dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%SZ")


def gh_events(seed, n, start_epoch, mean_gap_s):
    """`n` distinct events as (id string, created_at epoch seconds, raw JSON).

    Ids grow with event order, as GitHub's do; created_at follows a Poisson
    process with `mean_gap_s`, except the OOO_SHARE of events that lag by
    up to OOO_MAX_S seconds.
    """
    rng = _rng(seed, 1)
    pool = _text_pool(rng)
    ids = 30_000_000_000 + np.cumsum(rng.integers(1, 6, size=n))
    ts = start_epoch + np.cumsum(rng.exponential(mean_gap_s, size=n))
    late = rng.random(n) < OOO_SHARE
    ts = np.where(late, ts - rng.uniform(1, OOO_MAX_S, size=n), ts)
    ts = np.maximum(ts, start_epoch)
    kinds = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_WEIGHTS)
    actors = rng.integers(1, 5_000_000, size=n)
    repos = rng.integers(1, 90_000_000, size=n)
    lengths = np.clip(rng.lognormal(np.log(RAW_MEDIAN), RAW_SIGMA, size=n),
                      300, 40_000).astype(np.int64)
    offsets = rng.integers(0, len(pool) // 2, size=n)
    out = []
    for i in range(n):
        actor, repo = int(actors[i]), int(repos[i])
        head = {
            "id": str(int(ids[i])),
            "type": EVENT_TYPES[kinds[i]],
            "actor": {"id": actor, "login": f"user{actor}",
                      "url": f"https://api.github.com/users/user{actor}"},
            "repo": {"id": repo, "name": f"org{repo % 9973}/repo{repo}",
                     "url": f"https://api.github.com/repos/org{repo % 9973}/repo{repo}"},
        }
        body_len = max(16, int(lengths[i]) - 400)
        o = int(offsets[i])
        payload = {"ref": "refs/heads/main", "size": 1 + i % 4,
                   "body": pool[o:o + body_len]}
        raw = (json.dumps(head, ensure_ascii=False, separators=(",", ":"))[:-1]
               + ',"payload":'
               + json.dumps(payload, ensure_ascii=False, separators=(",", ":"))
               + ',"public":true,"created_at":"' + _rfc3339(ts[i]) + '"}')
        out.append((head["id"], float(ts[i]), raw))
    return out


def _with_replays(rng, fresh, history, share=REPLAY_SHARE):
    """`fresh` plus a tail of re-sent rows drawn from `history` (which
    includes `fresh`); returns (rows, number of replays)."""
    k = int(round(len(fresh) * share))
    picks = rng.integers(0, len(history), size=k)
    return fresh + [history[j] for j in picks], k


def ingest_inputs(seed, n_backlog, add_rows, n_ticks, page_rows,
                  start_epoch=1_704_067_200, mean_gap_s=8.0):
    """Catch-up adds and live pages of raw event JSON.

    Returns a dict with `warmup` (one small page sent before timing),
    `adds` (list of lists of raw strings), `pages` (list of lists), the
    expected `events` {id: raw} and the replay count. With the default
    8 s mean gap a 40k-event backlog spans ~4 days of event time, so the
    archive holds several day partitions and the 3-day TTL has work.
    """
    n_live = n_ticks * page_rows
    events = gh_events(seed, n_backlog + n_live, start_epoch, mean_gap_s)
    rng = _rng(seed, 2)
    raws = [e[2] for e in events]
    adds, replays = [], 0
    for lo in range(0, n_backlog, add_rows):
        rows, k = _with_replays(rng, raws[lo:min(lo + add_rows, n_backlog)],
                                raws[:min(lo + add_rows, n_backlog)])
        adds.append(rows)
        replays += k
    pages = []
    fresh_per_page = page_rows - int(round(page_rows * REPLAY_SHARE))
    pos = n_backlog
    for _ in range(n_ticks):
        fresh = raws[pos:pos + fresh_per_page]
        pos += fresh_per_page
        # re-sends come from the last few pages: recent, inside the watermark
        rows, k = _with_replays(rng, fresh, raws[max(0, pos - 5 * page_rows):pos],
                                share=(page_rows - fresh_per_page) / fresh_per_page)
        pages.append(rows)
        replays += k
    sent = {e[0]: e[2] for e in events[:pos]}
    return {"warmup": [raws[0]], "adds": adds, "pages": pages,
            "events": sent, "replays": replays}


def write_lines(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(r)
            f.write("\n")


def hour_key(epoch_s):
    t = dt.datetime.fromtimestamp(int(epoch_s), dt.timezone.utc)
    return f"{t:%Y-%m-%d}-{t.hour}"


def backfill_inputs(seed, out_dir, n_hours, in_from, in_to, per_hour,
                    start_epoch=1_705_276_800):
    """Hour files `YYYY-MM-DD-H.json.gz` for `n_hours` consecutive hours.

    Hours with index in [in_from, in_to) are the range the load asks for;
    the rest lie outside it. REPLAY_SHARE of each file's rows repeat events
    of the same or the previous hour (an at-least-once export). Returns
    (from hour key, to hour key, expected {id: raw} of in-range events,
    names of out-of-range files).
    """
    os.makedirs(out_dir, exist_ok=True)
    events = gh_events(seed, n_hours * per_hour, start_epoch, 3600.0 / per_hour)
    rng = _rng(seed, 3)
    by_hour = [[] for _ in range(n_hours)]
    for e in events:
        h = min(n_hours - 1, int((e[1] - start_epoch) // 3600))
        by_hour[h].append(e)
    expected, outside = {}, []
    for h in range(n_hours):
        prev = by_hour[h - 1] if h > 0 else []
        rows, _ = _with_replays(rng, by_hour[h], prev + by_hour[h])
        name = hour_key(start_epoch + h * 3600) + ".json.gz"
        # mtime 0: gzip headers carry no wall clock, so bytes depend on seed only
        with open(os.path.join(out_dir, name), "wb") as raw_f, \
                gzip.GzipFile(filename="", mode="wb", fileobj=raw_f, mtime=0,
                              compresslevel=6) as gz:
            gz.write("".join(r[2] + "\n" for r in rows).encode("utf-8"))
        if in_from <= h < in_to:
            expected.update({r[0]: r[2] for r in rows})
        else:
            outside.append(name)
    return (hour_key(start_epoch + in_from * 3600),
            hour_key(start_epoch + in_to * 3600), expected, outside)


# --- query tables -------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EV_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, size=n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def query_tables(seed, out_dir, sf):
    """Write the ten query tables at scale `sf` (1.0 = lineitem ~6M rows)
    as single parquet files `<out_dir>/<table>.parquet`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 4)
    n_supp, n_cust = max(10, int(10_000 * sf)), max(150, int(150_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_users = max(150, n_cust // 10)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    us = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table({k: pa.array(v, type=t)
                                 for k, (v, t) in cols.items()}),
                       os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": (np.arange(5), i32), "r_name": (REGIONS, s)})
    write("nation", {"n_nationkey": (np.arange(25), i32),
                     "n_name": ([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": (np.arange(25) % 5, i32)})
    write("supplier", {"s_suppkey": (np.arange(n_supp), i64),
                       "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                       "s_nationkey": (rng.integers(0, 25, n_supp), i32),
                       "s_acctbal": (_cents(rng, -999.99, 9999.99, n_supp), f64)})
    write("customer", {"c_custkey": (np.arange(n_cust), i64),
                       "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
                       "c_nationkey": (rng.integers(0, 25, n_cust), i32),
                       "c_acctbal": (_cents(rng, -999.99, 9999.99, n_cust), f64),
                       "c_mktsegment": (rng.choice(SEGMENTS, n_cust), s)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write("part", {"p_partkey": (np.arange(n_part), i64),
                   "p_name": (rng.choice(names, n_part), s),
                   "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
                   "p_type": (rng.choice(PART_TYPES, n_part), s),
                   "p_size": (rng.integers(1, 51, n_part), i32),
                   "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64)})
    write("orders", {"o_orderkey": (np.arange(n_ord), i64),
                     "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
                     "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
                     "o_totalprice": (_cents(rng, 1000, 500_000, n_ord), f64),
                     "o_orderdate": (_days(rng, "1995-01-01", "2001-08-01", n_ord), us),
                     "o_orderpriority": (rng.choice(PRIORITIES, n_ord), s)})
    write("lineitem", {"l_orderkey": (rng.integers(0, n_ord, n_line), i64),
                       "l_partkey": (rng.integers(0, n_part, n_line), i64),
                       "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
                       "l_linenumber": (rng.integers(1, 8, n_line), i32),
                       "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
                       "l_extendedprice": (_cents(rng, 900, 105_000, n_line), f64),
                       "l_discount": (rng.integers(0, 11, n_line) / 100, f64),
                       "l_tax": (rng.integers(0, 9, n_line) / 100, f64),
                       "l_returnflag": (rng.choice(["A", "N", "R"], n_line), s),
                       "l_linestatus": (rng.choice(["F", "O"], n_line), s),
                       "l_shipdate": (_days(rng, "1995-01-02", "2001-11-04", n_line), us)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span, size=n_ev, replace=False)) + start
    write("events", {"event_id": (np.arange(n_ev), i64),
                     "ts": (ts.astype("datetime64[us]"), us),
                     "user_id": (rng.integers(0, n_users, n_ev), i64),
                     "event_type": (rng.choice(EV_TYPES, n_ev), s),
                     "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
                     "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(DOC_WORDS, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_docs)]
    # 5% near-duplicates: another document's text plus one word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    write("documents", {"doc_id": (np.arange(n_docs), i64), "text": (texts, s),
                        "lang": (rng.choice(LANGS, n_docs, p=LANG_P), s),
                        "source": ([f"src{i % 20}" for i in range(n_docs)], s),
                        "n_chars": ([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {"vec_id": (np.arange(n_vecs), i64),
                         "embedding": (list(v), pa.list_(pa.float32())),
                         "label": (rng.integers(0, 10, n_vecs), i32)})
