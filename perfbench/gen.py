"""Seeded input generators for the two workloads.

Every input a run uses comes from here and from the run's `--seed`:
the same seed gives byte-identical files, a different seed different
ones (test_gen.py checks both). The JVM side only reads what these
functions write.

- cel_msgs: `messages.jsonl`, one cel-input-style JSON document per line.
- paged_stream: `pages.jsonl`, one HTTP page body per line, plus
  `pages_meta.json` (per-page event counts and late events) and
  `events.csv` (every generated event, for the DuckDB check).
- the query mix of the traced paged_stream run:
  `analytics/fixture/<table>.parquet`, a fixed synthetic star schema
  whose row order is permuted by the seed, plus `analytics/order.txt`,
  the seed-permuted query order.
"""
import datetime as dt
import json
import math
import os
import random

from metrics import QUERIES

# ---------------------------------------------------------------- cel_msgs

N_MESSAGES = 4000
REPEAT_SHARE = 0.2          # exact repeats of an earlier message
KINDS = ["click", "view", "purchase", "signup", "error", "logout"]
TAGS = ["red", "green", "blue", "prod", "dev", "eu", "us", "beta", "vip", ""]
HOSTS = ["api.example.com", "edge-1.example.net", "auth.example.org",
         "cdn.example.io"]
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _rfc3339(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _rng(seed, stream):
    return random.Random(f"perfbench:{seed}:{stream}")


def _item(r, base):
    attrs = {} if r.random() < 0.3 else {
        "region": r.choice(["eu", "us", "ap"]),
        "score": round(r.uniform(0, 1), 4),
        "flags": [] if r.random() < 0.5 else [r.choice(TAGS)],
    }
    return {
        "id": r.randrange(1, 10**9),
        "ts": _rfc3339(base + dt.timedelta(microseconds=r.randrange(0, 86400 * 10**6))),
        "kind": r.choice(KINDS),
        "amount": round(r.uniform(0, 500), 2),
        "tags": [r.choice(TAGS) for _ in range(r.randrange(0, 4))],
        "attrs": attrs,
        "note": "" if r.random() < 0.4 else "x" * r.randrange(1, 40),
    }


def message(r, i):
    """One document: nested objects and arrays with RFC3339 strings.
    Item counts are lognormal, so sizes have a median near 1 KB and a
    tail to tens of KB."""
    base = T0 + dt.timedelta(seconds=r.randrange(0, 30 * 86400))
    n_items = min(300, int(round(r.lognormvariate(math.log(4), 1.0))))
    return {
        "id": f"msg-{i:06d}-{r.getrandbits(32):08x}",
        "k": r.randrange(0, 100),
        "created": _rfc3339(base),
        "source": {"host": r.choice(HOSTS),
                   "ip": ".".join(str(r.randrange(1, 255)) for _ in range(4))},
        "user": {"id": r.randrange(1, 5000), "name": f"user_{r.randrange(1, 5000)}",
                 "roles": [r.choice(["admin", "dev", "ops", "viewer"])
                           for _ in range(r.randrange(0, 3))]},
        "items": [_item(r, base) for _ in range(n_items)],
        "cursor": {"page": r.randrange(0, 50), "token": f"{r.getrandbits(64):016x}"},
        "extra": None if r.random() < 0.5 else {"empty": [], "blank": ""},
    }


def messages(seed, n=N_MESSAGES):
    r = _rng(seed, "messages")
    out = []
    for i in range(n):
        if out and r.random() < REPEAT_SHARE:
            out.append(out[r.randrange(len(out))])
        else:
            out.append(json.dumps(message(r, i), separators=(",", ":")))
    return out


def write_messages(seed, d):
    with open(os.path.join(d, "messages.jsonl"), "w") as f:
        for m in messages(seed):
            f.write(m + "\n")


# ------------------------------------------------------------ paged_stream

N_PAGES = 64                # one pass of the stream: 16 micro-batches
PAGES_PER_TRIGGER = 4
PAGE_SPAN_S = 20            # event time one page covers
WATERMARK_S = 60            # withWatermark delay
GAP_MINUTES = 5             # session gap
N_USERS = 2000
ZIPF_S = 1.1
LATE_SHARE = 0.01           # events placed far behind the watermark
SWAP_SHARE = 0.1            # in-page out-of-order share
HEARTBEAT_SHARE = 0.05      # filtered out by the page program
STREAM_T0_US = int(T0.timestamp()) * 10**6


def _zipf_table(n, s):
    w = [1.0 / (k ** s) for k in range(1, n + 1)]
    tot = sum(w)
    acc, cum = 0.0, []
    for x in w:
        acc += x / tot
        cum.append(acc)
    return cum


_minute_prefix = {}


def _us_to_rfc3339(us):
    """Epoch microseconds to RFC3339, formatting each minute's prefix once."""
    sec, micro = divmod(us, 10**6)
    minute, s = divmod(sec, 60)
    prefix = _minute_prefix.get(minute)
    if prefix is None:
        prefix = _minute_prefix[minute] = dt.datetime.fromtimestamp(
            minute * 60, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:")
    return f"{prefix}{s:02d}.{micro:06d}Z"


def pages(seed, n_pages=N_PAGES):
    """Pages of a few hundred events each. Page p covers event time
    [p, p+1) * PAGE_SPAN_S. Within a page a share of events is out of
    order; across pages time only moves forward, except for the late
    events, which sit minutes behind the watermark the batch of their
    page runs under (Spark: max event time of earlier batches minus
    the delay), so the engine must drop exactly those."""
    import bisect
    r = _rng(seed, "pages")
    cum = _zipf_table(N_USERS, ZIPF_S)
    user_perm = list(range(1, N_USERS + 1))
    r.shuffle(user_perm)
    span_us = PAGE_SPAN_S * 10**6
    bodies, meta, events = [], [], []
    next_id = 1
    max_ts_by_batch = {}
    for p in range(n_pages):
        b = p // PAGES_PER_TRIGGER
        prior = max((max_ts_by_batch[x] for x in range(max(0, b - 2), b)
                     if x in max_ts_by_batch), default=None)
        wm_us = prior - WATERMARK_S * 10**6 if prior is not None else None
        n = r.randrange(150, 351)
        lo = STREAM_T0_US + p * span_us
        ts = sorted(lo + r.randrange(0, span_us) for _ in range(n))
        for i in range(n - 1):
            if r.random() < SWAP_SHARE:
                ts[i], ts[i + 1] = ts[i + 1], ts[i]
        items, n_late, n_events = [], 0, 0
        for t in ts:
            kind = "heartbeat" if r.random() < HEARTBEAT_SHARE else r.choice(KINDS)
            late = wm_us is not None and b >= 3 and r.random() < LATE_SHARE
            if late:
                t = wm_us - r.randrange(2 * 60 * 10**6, 30 * 60 * 10**6)
            elif kind != "heartbeat":  # heartbeats never reach the watermark
                max_ts_by_batch[b] = max(max_ts_by_batch.get(b, t), t)
            uid = user_perm[bisect.bisect_left(cum, r.random())]
            amount = round(r.uniform(0, 300), 2)
            eid = next_id
            next_id += 1
            items.append({"id": eid, "user": {"id": uid, "name": f"u{uid}"},
                          "ts": _us_to_rfc3339(t), "kind": kind, "amount": amount,
                          "tags": [r.choice(TAGS) for _ in range(r.randrange(0, 3))]})
            if kind != "heartbeat":
                n_events += 1
                n_late += late
                events.append((p, eid, uid, t, int(round(amount * 100)), late))
        bodies.append(json.dumps({"page": p, "items": items,
                                  "next": p + 1 if p + 1 < n_pages else None},
                                 separators=(",", ":")))
        meta.append({"events": n_events, "late": n_late})
    return bodies, meta, events


def write_pages(seed, d):
    bodies, meta, events = pages(seed)
    with open(os.path.join(d, "pages.jsonl"), "w") as f:
        for b in bodies:
            f.write(b + "\n")
    with open(os.path.join(d, "pages_meta.json"), "w") as f:
        json.dump({"pages_per_trigger": PAGES_PER_TRIGGER, "watermark_s": WATERMARK_S,
                   "gap_minutes": GAP_MINUTES, "pages": meta}, f, separators=(",", ":"))
    with open(os.path.join(d, "events.csv"), "w") as f:
        f.write("page,event_id,user_id,tus,cents,late\n")
        for e in events:
            f.write("%d,%d,%d,%d,%d,%d\n" % e)


# ------------------------------------------------- query mix (traced run)

FIXTURE_SEED = 42           # the fixture's content; the run seed only permutes rows
SCALE = 0.0125              # TPC-H-style scale factor of the fixture
WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
         "query", "big", "key", "window", "row", "table", "stream", "merge",
         "data", "vector", "customer", "the", "join"]


def _u(i, k, s=FIXTURE_SEED):
    """Uniform [0,1) from a hash of (row, column, seed): pure SQL, so the
    content does not depend on thread scheduling."""
    return f"((hash({i}, {k}, {s}) % 1000003) / 1000003.0)"


def _fixture_sql(scale):
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_ev, n_doc, n_emb = int(1500000 * scale), int(1000000 * scale), \
        int(50000 * scale), int(20000 * scale)
    n_user = max(50, n_ev // 66)
    w = "[" + ",".join(f"'{x}'" for x in WORDS) + "]"
    day0 = "TIMESTAMP '1992-01-01'"
    return {
        "region": f"""SELECT range::INTEGER AS r_regionkey,
            (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[range + 1] AS r_name
            FROM range(5)""",
        "nation": f"""SELECT range::INTEGER AS n_nationkey, 'NATION_' || range AS n_name,
            (range % 5)::INTEGER AS n_regionkey FROM range(25)""",
        "customer": f"""SELECT range::BIGINT AS c_custkey, 'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
            floor({_u('range', 1)} * 25)::INTEGER AS c_nationkey,
            round({_u('range', 2)} * 10999 - 999, 2) AS c_acctbal,
            (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])[1 + floor({_u('range', 3)} * 5)::INTEGER] AS c_mktsegment
            FROM range({n_cust})""",
        "supplier": f"""SELECT range::BIGINT AS s_suppkey, 'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
            floor({_u('range', 4)} * 25)::INTEGER AS s_nationkey,
            round({_u('range', 5)} * 10999 - 999, 2) AS s_acctbal FROM range({n_supp})""",
        "part": f"""SELECT range::BIGINT AS p_partkey, 'part ' || range AS p_name,
            'Brand#' || (1 + floor({_u('range', 6)} * 5)::INTEGER) || (1 + floor({_u('range', 7)} * 5)::INTEGER) AS p_brand,
            (['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'])[1 + floor({_u('range', 8)} * 6)::INTEGER]
              || ' ' || (['ANODIZED','BURNISHED','PLATED','POLISHED','BRUSHED'])[1 + floor({_u('range', 9)} * 5)::INTEGER] AS p_type,
            (1 + floor({_u('range', 10)} * 50))::INTEGER AS p_size,
            round(900 + {_u('range', 11)} * 1100, 2) AS p_retailprice FROM range({n_part})""",
        "orders": f"""SELECT range::BIGINT AS o_orderkey, floor({_u('range', 12)} * {n_cust})::BIGINT AS o_custkey,
            (['O','F','P'])[1 + floor({_u('range', 13)} * 3)::INTEGER] AS o_orderstatus,
            round(1000 + {_u('range', 14)} * 400000, 2) AS o_totalprice,
            {day0} + to_days(floor({_u('range', 15)} * 2400)::INTEGER) AS o_orderdate,
            (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[1 + floor({_u('range', 16)} * 5)::INTEGER] AS o_orderpriority
            FROM range({n_ord})""",
        "lineitem": f"""SELECT o.range::BIGINT AS l_orderkey,
            floor({_u('o.range * 8 + l.range', 17)} * {n_part})::BIGINT AS l_partkey,
            floor({_u('o.range * 8 + l.range', 18)} * {n_supp})::BIGINT AS l_suppkey,
            (l.range + 1)::INTEGER AS l_linenumber,
            (1 + floor({_u('o.range * 8 + l.range', 19)} * 50))::DOUBLE AS l_quantity,
            round(900 + {_u('o.range * 8 + l.range', 20)} * 100000, 2) AS l_extendedprice,
            round(floor({_u('o.range * 8 + l.range', 21)} * 11) / 100, 2) AS l_discount,
            round(floor({_u('o.range * 8 + l.range', 22)} * 9) / 100, 2) AS l_tax,
            (['R','A','N'])[1 + floor({_u('o.range * 8 + l.range', 23)} * 3)::INTEGER] AS l_returnflag,
            (['O','F'])[1 + floor({_u('o.range * 8 + l.range', 24)} * 2)::INTEGER] AS l_linestatus,
            {day0} + to_days(floor({_u('o.range * 8 + l.range', 25)} * 2500)::INTEGER) AS l_shipdate
            FROM range({n_ord}) o, range(7) l
            WHERE l.range < 1 + floor({_u('o.range', 26)} * 7)""",
        "events": f"""SELECT range::BIGINT AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(floor({_u('range', 27)} * 2592000000000)::BIGINT) AS ts,
            floor({_u('range', 28)} * {n_user})::BIGINT AS user_id,
            (['view','click','purchase','signup','error'])[1 + floor({_u('range', 29)} * 5)::INTEGER] AS event_type,
            round({_u('range', 30)} * 200, 2) AS value,
            '{{"k": ' || floor({_u('range', 31)} * 100)::INTEGER || '}}' AS props
            FROM range({n_ev})""",
        # a fifth of the documents are near-copies of an earlier one (one
        # word changed), so the dedup/minhash queries find clusters
        "documents": f"""WITH base AS (
              SELECT range AS doc_id,
                list_transform(range(10 + floor({_u('range', 32)} * 85)::INTEGER),
                  j -> ({w})[1 + floor({_u('range * 131 + j', 33)} * {len(WORDS)})::INTEGER]) AS ws
              FROM range({n_doc})),
            src AS (
              SELECT b.doc_id, CASE WHEN {_u('b.doc_id', 34)} < 0.2 AND b.doc_id > 0
                THEN floor({_u('b.doc_id', 35)} * b.doc_id)::BIGINT ELSE b.doc_id END AS from_id
              FROM base b),
            txt AS (
              SELECT s.doc_id, CASE WHEN s.from_id = s.doc_id THEN array_to_string(b.ws, ' ')
                ELSE array_to_string(list_transform(b.ws, (x, j) -> CASE WHEN j = 1 + (s.doc_id % len(b.ws))
                  THEN ({w})[1 + (s.doc_id % {len(WORDS)})::INTEGER] ELSE x END), ' ') END AS text
              FROM src s JOIN base b ON b.doc_id = s.from_id)
            SELECT doc_id::BIGINT AS doc_id, text,
              (['en','en','en','es','fr','de','zh'])[1 + floor({_u('doc_id', 36)} * 7)::INTEGER] AS lang,
              'src' || floor({_u('doc_id', 37)} * 20)::INTEGER AS source,
              length(text)::BIGINT AS n_chars
            FROM txt""",
        "embeddings": f"""SELECT range::BIGINT AS vec_id,
            list_transform(range(64), j -> ((({_u('(range % 10) * 64 + j', 38)} - 0.5) * 0.5
              + ({_u('range * 64 + j', 39)} - 0.5) * 0.3))::FLOAT) AS embedding,
            (range % 10)::INTEGER AS label FROM range({n_emb})""",
    }


KEYS = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
        "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
        "lineitem": "l_orderkey * 8 + l_linenumber", "events": "event_id",
        "documents": "doc_id", "embeddings": "vec_id"}


def write_fixture(seed, d, scale=SCALE):
    """The fixture's content is fixed (FIXTURE_SEED); the run seed only
    permutes row order, so partition contents and skew vary with the
    seed while every query result stays the same."""
    import duckdb
    fx = os.path.join(d, "fixture")
    os.makedirs(fx, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    for name, sql in _fixture_sql(scale).items():
        path = os.path.join(fx, f"{name}.parquet")
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY hash({KEYS[name]}, {int(seed)})) "
                    f"TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 8192)")
    con.close()
    order = list(QUERIES)
    _rng(seed, "order").shuffle(order)
    with open(os.path.join(d, "order.txt"), "w") as f:
        f.write("\n".join(order) + "\n")


def write_query_inputs(seed, d):
    write_fixture(seed, os.path.join(d, "analytics"))


WRITERS = {"cel_msgs": [write_messages], "paged_stream": [write_pages]}
# what only the traced run reads: the query mix of the traced paged_stream run
TRACED_WRITERS = {"cel_msgs": [], "paged_stream": [write_query_inputs]}


def generate(workload, seed, d, trace=False):
    os.makedirs(d, exist_ok=True)
    for w in WRITERS[workload] + (TRACED_WRITERS[workload] if trace else []):
        w(seed, d)
