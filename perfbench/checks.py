"""Output checks, run outside the timed window. Each returns
(items compared, mismatches); a mismatch makes the run incorrect.

- cel_msgs: checked inside the harness JVM (interpreter vs Cel.auto
  byte for byte, json_* twins after normalisation, a sample against
  Cel.evalOnce); nothing more here.
- paged_stream, every pass on its own: every session the watermark
  closed must equal a DuckDB gap-sessionization of the generated
  events, every session DuckDB closes before the pass's final watermark
  must have been emitted, and the engine's late-row count must equal
  the generator's.
- the query mix of the traced paged_stream run: every query result must
  equal its SparkEntry.oracleSql run through DuckDB on the same fixture.
"""
import datetime as dt
import glob
import json
import math
import os
import statistics
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _ms(iso):
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _progress(out):
    with open(os.path.join(out, "progress.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def stream_summary(inputs, out):
    """Batch timings and per-layer streaming metrics from the engine's
    progress reports. Every pass reads the same pages in the same
    micro-batches, so a batch (its page range) has one sample per pass;
    `median_ms` holds each batch's median over the passes."""
    with open(os.path.join(inputs, "pages_meta.json")) as f:
        meta = json.load(f)
    pages = meta["pages"]
    passes = {}
    for p in _progress(out):
        d = p["durationMs"]
        st = (p.get("stateOperators") or [{}])[0]
        b = {"batch": p["batchId"], "rows": p["numInputRows"],
             "duration_ms": d.get("triggerExecution", 0),
             "plan_ms": d.get("latestOffset", 0) + d.get("getBatch", 0) + d.get("queryPlanning", 0),
             "add_batch_ms": d.get("addBatch", 0),
             "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
             "state_ms": st.get("allUpdatesTimeMs", 0) + st.get("commitTimeMs", 0),
             "state_rows": st.get("numRowsTotal", 0),
             "state_bytes": st.get("memoryUsedBytes", 0),
             "dropped": st.get("numRowsDroppedByWatermark", 0),
             "watermark": p.get("eventTime", {}).get("watermark"),
             "pages": (int(p["sources"][0]["startOffset"] or 0), int(p["sources"][0]["endOffset"]))}
        passes.setdefault(p["name"], []).append(b)
    # timings skip each pass's first batch, which also pays for planning
    # the new query and loading its state stores
    timed = [b for bs in passes.values() for b in [x for x in bs if x["rows"] > 0][1:]]
    samples = {}
    for b in timed:
        samples.setdefault(b["pages"], []).append(b["duration_ms"])
    median_ms = {k: statistics.median(v) for k, v in samples.items()}
    events = sum(pages[p]["events"] - pages[p]["late"] for lo, hi in median_ms for p in range(lo, hi))
    last = list(passes.values())[-1][-1]
    med = lambda k: statistics.median(b[k] for b in timed)  # noqa: E731
    return {
        "passes": passes,
        "median_ms": list(median_ms.values()),
        "all_batches_s": sum(b["duration_ms"] for bs in passes.values() for b in bs) / 1000.0,
        "events_per_s": events / (sum(median_ms.values()) / 1000.0),
        "gap_ms": meta["gap_minutes"] * 60 * 1000,
        "per_layer": {
            "streaming.batches": len(timed),
            "streaming.batch_p90_ms": statistics.quantiles(
                [b["duration_ms"] for b in timed], n=10)[-1],
            "streaming.plan_ms": med("plan_ms"),
            "streaming.add_batch_ms": med("add_batch_ms"),
            "streaming.commit_ms": med("commit_ms"),
            "streaming.state_ms": med("state_ms"),
            "streaming.state_rows": last["state_rows"],
            "streaming.state_mb": last["state_bytes"] / (1024.0 * 1024.0),
            # per pass; every pass drops the same rows
            "streaming.late_dropped": sum(b["dropped"] for b in list(passes.values())[-1]),
        },
    }


def check_stream(inputs, out):
    """Checks every pass on its own against one DuckDB sessionization."""
    s = stream_summary(inputs, out)
    with open(os.path.join(inputs, "pages_meta.json")) as f:
        pages = json.load(f)["pages"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_csv('{inputs}/events.csv', header=true, "
                "columns={'page': 'BIGINT', 'event_id': 'BIGINT', 'user_id': 'BIGINT', "
                "'tus': 'BIGINT', 'cents': 'BIGINT', 'late': 'INTEGER'}) WHERE late = 0")
    con.execute(f"""CREATE VIEW got AS SELECT * FROM read_csv('{out}/sessions.csv', header=true,
          columns={{'pass': 'VARCHAR', 'batch': 'BIGINT', 'user_id': 'BIGINT', 'start_us': 'BIGINT',
                    'end_us': 'BIGINT', 'n_events': 'BIGINT', 'sum_value': 'DOUBLE'}})""")
    gap_us = s["gap_ms"] * 1000
    compared = bad = 0
    for name, batches in s["passes"].items():
        consumed = max(b["pages"][1] for b in batches)
        expected = con.execute(f"""
            WITH o AS (SELECT *, CASE WHEN tus - lag(tus) OVER w > {gap_us} THEN 1 ELSE 0 END AS brk
                       FROM ev WHERE page < {consumed}
                       WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
                 s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid FROM o)
            SELECT user_id, min(tus), max(tus), count(*), sum(cents) FROM s GROUP BY user_id, sid
        """).fetchall()
        got = con.execute("SELECT user_id, start_us, end_us, n_events, round(sum_value * 100)::BIGINT "
                          "FROM got WHERE pass = ?", [name]).fetchall()
        want, have = set(expected), set(got)
        extra = have - want
        # sessions the pass's final watermark has certainly closed
        wm = batches[-1]["watermark"]
        wm_ms = _ms(wm) if wm else 0.0
        closed = {x for x in want if x[2] / 1000.0 + s["gap_ms"] < wm_ms - 1}
        missing = closed - have
        late_expected = sum(pages[p]["late"] for p in range(consumed))
        late_dropped = sum(b["dropped"] for b in batches)
        late_ok = late_dropped == late_expected
        if extra or missing or not late_ok or len(got) != len(have):
            log(f"paged_stream {name}: {len(extra)} unexpected, {len(missing)} missing of "
                f"{len(closed)} closed sessions; late dropped {late_dropped} "
                f"vs generated {late_expected}; first unexpected {sorted(extra)[:2]}")
        compared += len(have | closed) + 1
        bad += len(extra) + len(missing) + (len(got) - len(have)) + (0 if late_ok else 1)
    con.close()
    return compared, bad


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


def check_analytics(inputs, out):
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/fixture/{t}.parquet')")
    bad = 0
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        if not sql or not files:
            log(f"query mix: {name}: {'no oracle' if not sql else 'no spark output'}")
            bad += 1
            continue
        want_cur = con.execute(sql)
        wcols = [d[0] for d in want_cur.description]
        want = want_cur.fetchall()
        got_cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
        gcols = [d[0] for d in got_cur.description]
        got = got_cur.fetchall()
        if sorted(wcols) != sorted(gcols) or len(want) != len(got):
            log(f"query mix: {name}: shape want {len(want)}x{sorted(wcols)} "
                f"got {len(got)}x{sorted(gcols)}")
            bad += 1
            continue
        gi = [gcols.index(c) for c in wcols]
        diffs = [(i, c) for i, (w, g) in enumerate(zip(want, got))
                 for c, (x, j) in enumerate(zip(w, gi)) if not _same(x, g[j])]
        if diffs:
            i, c = diffs[0]
            log(f"query mix: {name}: {len(diffs)} cell diffs; first row {i} col "
                f"{wcols[c]}: want {want[i][c]!r} got {got[i][gi[c]]!r}")
            bad += 1
    con.close()
    return len(oracle), bad


def run(workload, inputs, out, trace):
    if workload != "paged_stream":
        return 0, 0
    att, bad = check_stream(inputs, out)
    if trace:
        q_att, q_bad = check_analytics(os.path.join(inputs, "analytics"), out)
        att, bad = att + q_att, bad + q_bad
    return att, bad
