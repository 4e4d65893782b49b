"""Seeded input generators. Nothing in this module runs inside a timed phase.

Every generator is a pure function of its seed: the same seed writes the
same bytes, and the expected output of each workload is derived here from
the generated input, independently of the code under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# -- push_http -----------------------------------------------------------------

# per 500-event body: exactly this many events lie 30 min outside PT10M and
# exactly this many carry a timestamp that does not parse
PUSH_OUTSIDE = 15
PUSH_UNPARSEABLE = 5


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def push_bodies(seed: int, n_bodies: int, body_events: int = 500):
    """``n_bodies`` POST bodies. Body ``k`` is sent at simulated time
    ``EPOCH + k minutes`` (the Tranquilizer clock), its in-window events
    spread +-5 min around that instant.

    Returns ``(bodies, accepted)``: each body is ``(now, json_bytes,
    n_sent)``; ``accepted`` is a DataFrame of every event the sink must
    hold at the end (eid, page, user, added, ts)."""
    rng = np.random.default_rng(seed)
    bodies, accepted = [], []
    eid = 0
    for k in range(n_bodies):
        now = EPOCH + dt.timedelta(minutes=k)
        offs = rng.integers(-300_000, 300_000, body_events)  # ms
        kind = np.zeros(body_events, dtype=np.int8)  # 0 ok, 1 outside, 2 bad
        pick = rng.permutation(body_events)
        kind[pick[:PUSH_OUTSIDE]] = 1
        kind[pick[PUSH_OUTSIDE:PUSH_OUTSIDE + PUSH_UNPARSEABLE]] = 2
        sign = rng.choice([-1, 1], body_events)
        pages = rng.integers(0, 50, body_events)
        users = rng.integers(0, 10_000, body_events)
        added = rng.integers(0, 4000, body_events) / 4.0  # exact in binary
        events = []
        for i in range(body_events):
            if kind[i] == 1:
                t = now + dt.timedelta(minutes=30 * int(sign[i]), milliseconds=int(offs[i]) // 10)
            else:
                t = now + dt.timedelta(milliseconds=int(offs[i]))
            ev = {
                "timestamp": "not-a-time" if kind[i] == 2 else _iso(t),
                "eid": eid,
                "page": f"page{pages[i]}",
                "user": int(users[i]),
                "added": float(added[i]),
            }
            events.append(ev)
            if kind[i] == 0:
                accepted.append((eid, ev["page"], ev["user"], ev["added"], t.replace(tzinfo=None)))
            eid += 1
        n_sent = body_events - PUSH_OUTSIDE - PUSH_UNPARSEABLE
        bodies.append((now, json.dumps(events).encode(), n_sent))
    want = pd.DataFrame(accepted, columns=["eid", "page", "user", "added", "ts"])
    return bodies, want


# -- stream_drain --------------------------------------------------------------

STREAM_PAGES = 100
STREAM_LATE_MS = 20_000  # out-of-order spread; stays inside the watermark


def stream_files(directory: str, seed: int, n_files: int, file_events: int = 10_000) -> pd.DataFrame:
    """Write ``n_files`` newline-JSON files; file ``k`` holds events of
    minute ``k``, some shifted up to 20 s back into the previous minute. File modification times increase with ``k``, so a file source
    reads them in event-time order. Returns every generated event (ts, page,
    added)."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    base_ms = int(EPOCH.timestamp() * 1000)
    frames = []
    for k in range(n_files):
        ms = base_ms + k * 60_000 + rng.integers(0, 60_000, file_events)
        late = rng.random(file_events) < 0.1
        ms = ms - late * rng.integers(0, STREAM_LATE_MS, file_events)
        df = pd.DataFrame({
            "ts": pd.to_datetime(ms, unit="ms"),
            "page": pd.Series(rng.integers(0, STREAM_PAGES, file_events)).map("p{:03d}".format),
            "added": rng.integers(0, 400, file_events) / 4.0,
        })
        lines = pd.DataFrame({
            "ts": df.ts.dt.strftime("%Y-%m-%dT%H:%M:%S.%f").str[:-3] + "Z",
            "page": df.page,
            "added": df.added,
        }).to_json(orient="records", lines=True)
        path = os.path.join(directory, f"part-{k:05d}.json")
        with open(path + ".tmp", "w") as fh:
            fh.write(lines)
        os.replace(path + ".tmp", path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def stream_oracle(events: pd.DataFrame, watermark_s: int) -> pd.DataFrame:
    """The rollup the sink must hold after a drain: MINUTE segments, SECOND
    query granularity, keyed by page, over the windows the final watermark
    (max event time - watermark) has closed."""
    closed_before = events.ts.max() - pd.Timedelta(seconds=watermark_s)
    seg = events.ts.dt.floor("min")
    ev = events.assign(segment_start=seg, ts=events.ts.dt.floor("s"))
    ev = ev[seg + pd.Timedelta(minutes=1) <= closed_before]
    return (
        ev.groupby(["segment_start", "ts", "page"], as_index=False)
        .agg(n=("added", "size"), added_sum=("added", "sum"))
    )


# -- catalog_mix ---------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def catalog_tables(sf_dir: str, seed: int, sf: float = 0.1,
                   tables=("orders", "lineitem", "supplier", "documents")) -> None:
    """The tables the catalog_mix entries read, in the driver testdata's
    schema and value distributions: uniform TPC-H-ish columns, and a
    word-salad corpus in which about 5 % of documents are a copy of another
    with " dup" appended and about 2.5 % are exact copies. Each table has
    its own random stream, so a table does not depend on which others are
    written."""
    os.makedirs(sf_dir, exist_ok=True)
    n_li, n_ord, n_supp, n_docs = int(6e6 * sf), int(1.5e6 * sf), int(1e4 * sf), int(5e4 * sf)
    day = np.timedelta64(1, "D")
    for ti, table in enumerate(("orders", "lineitem", "supplier", "documents")):
        if table not in tables:
            continue
        rng = np.random.default_rng([seed, ti])
        if table == "orders":
            df = pd.DataFrame({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_ord // 10, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
                "o_orderdate": np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord) * day,
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
            })
            schema = [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]
        elif table == "lineitem":
            df = pd.DataFrame({
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_li // 30, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": np.datetime64("1995-01-02") + rng.integers(0, 2499, n_li) * day,
            })
            schema = [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", pa.timestamp("us"))]
        elif table == "supplier":
            df = pd.DataFrame({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            })
            schema = [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
        else:
            vocab = np.array(_VOCAB)
            texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
                     for _ in range(n_docs)]
            copy_of = rng.integers(0, n_docs, n_docs)
            kind = rng.random(n_docs)
            for i in range(n_docs):
                if kind[i] < 0.05:
                    texts[i] = texts[copy_of[i]] + " dup"
                elif kind[i] < 0.075:
                    texts[i] = texts[copy_of[i]]
            df = pd.DataFrame({
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(_LANGS[0], n_docs, p=_LANGS[1]),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            })
            schema = [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())]
        pq.write_table(pa.Table.from_pandas(df, schema=pa.schema(schema), preserve_index=False),
                       f"{sf_dir}/{table}.parquet")
