"""Seeded input generator for the benchmark.

Every input the benchmark feeds the program comes from here, as a pure
function of ``(seed, params)``: the same pair writes byte-identical
parquet files (checked by ``file_digest`` on every run). A dataset
directory holds the ten tables ``gmall_flink_20_spark.io.TABLES`` names,
in the schemas the package and its DuckDB oracles read, plus
``params.json`` recording the seed and every generator parameter.

Traffic dimensions of the ``events`` table:

- ``users``: user count; per-user activity is lognormal
  (``activity_sigma``; 0 gives every user the same expected activity);
- ``n_items`` / ``item_zipf``: item popularity is Zipf-skewed (exponent 0
  is uniform);
- ``days``: event-time span (batch) — or, for live streams,
  ``speedup``: event-seconds per wall-second;
- ``late_share`` / ``late_s``: share of click events that arrive up to
  ``late_s`` event-seconds after their event time (bounded disorder).
  Only clicks are delayed, so per-user view/purchase order — which the
  order-timeout state machine consumes — stays intact.

Where the values come from. The reference datasets the package's parity
checks run on (``scripts/check_parity.py``; 10k events from 150 users at
sf0.01, 100k from 1,500 at sf0.1, both over 30 days) were measured once:

- event types: 19.8–20.3% each of click, view, purchase, signup and
  error, so ``EVENT_TYPE_P`` is uniform;
- ``value``: median 34.8, p10 5.4, p90 114, mean 49.9 — an exponential
  with mean 50 (median 34.7, p10 5.3, p90 115), rounded to cents;
- items: ``props`` carries 100 item keys, each 0.9–1.1% of events
  (log-log slope of count against rank 0.03), so ``n_items`` is 100 and
  ``item_zipf`` 0;
- activity: events per user have a coefficient of variation of 0.12,
  what uniform user choice gives at 67 events per user (Poisson), so
  ``activity_sigma`` is 0;
- documents: 10–100 tokens from a 31-word vocabulary with no word
  markedly more frequent, 20 sources, languages en 41%, zh 15%, es 15%,
  fr 15%, de 14%; embeddings: 64 dimensions, unit norm, 10 labels.

Event and user counts and the event-time span are the workloads' own
(``batch.py``, ``live.py``). The disorder bound of 300 s is the one the
package's ``login_fail_streaming`` replay uses. The planted
near-duplicates (``dup_share``, ``dup_edit_share``) and the spread of the
embedding clusters (``cluster_noise``) are the corpus's test structure:
set, not measured.

The dimension tables are small fixed tables in the schemas the queries read
(``nation`` feeds ``province_ad_clicks``); the corpus tables carry planted
near-duplicate document clusters and clustered, unit-norm embeddings.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.2, 0.2, 0.2, 0.2, 0.2]
VALUE_MEAN = 50.0
LATE_S = 300
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclasses.dataclass(frozen=True)
class EventParams:
    events: int
    users: int
    days: float = 7.0
    activity_sigma: float = 0.0
    n_items: int = 100
    item_zipf: float = 0.0
    late_share: float = 0.0
    late_s: int = 0


@dataclasses.dataclass(frozen=True)
class CorpusParams:
    docs: int
    vectors: int
    dup_share: float = 0.25
    dup_edit_share: float = 0.05
    vocab: int = 31
    word_zipf: float = 0.0
    dim: int = 64
    clusters: int = 10
    cluster_noise: float = 0.35


# Workloads that do not read the corpus still write one, because the
# oracles' DuckDB views cover every table.
NO_CORPUS = CorpusParams(docs=8, vectors=8)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a table or a
    column never shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def event_columns(seed: int, p: EventParams, t0_us: int = EPOCH_US) -> dict[str, np.ndarray]:
    """The events as columns, sorted by event time, ids 0..n-1 in that
    order. ``arrival_us`` is when each event reaches the stream: its event
    time, or up to ``late_s`` later for the late share of clicks."""
    r = _rng(seed, "events")
    n = p.events
    activity = r.lognormal(0.0, p.activity_sigma, p.users)
    users = r.choice(p.users, n, p=activity / activity.sum())
    span_us = int(p.days * 86_400 * 1_000_000)
    ts = np.sort(t0_us + r.integers(0, span_us, n))
    types = r.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    ranks = np.arange(1, p.n_items + 1, dtype=np.float64)
    pop = ranks ** -p.item_zipf
    items = r.permutation(p.n_items)[r.choice(p.n_items, n, p=pop / pop.sum())]
    value = np.round(r.exponential(VALUE_MEAN, n), 2)
    late = (types == 0) & (r.random(n) < p.late_share)
    delay_us = r.integers(0, max(p.late_s, 1) * 1_000_000, n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": users.astype(np.int64),
        "type_idx": types,
        "value": value,
        "item": items.astype(np.int64),
        "arrival_us": np.where(late, ts + delay_us, ts),
    }


def events_table(cols: dict[str, np.ndarray], idx: np.ndarray | None = None) -> pa.Table:
    """Arrow table in the ``events`` schema (``props`` = ``{"k": n}``)."""
    sel = (lambda a: a) if idx is None else (lambda a: a[idx])
    types = np.array(EVENT_TYPES, dtype=object)[sel(cols["type_idx"])]
    props = [f'{{"k": {k}}}' for k in sel(cols["item"]).tolist()]
    return pa.table(
        [
            pa.array(sel(cols["event_id"])),
            pa.array(sel(cols["ts"]), pa.timestamp("us")),
            pa.array(sel(cols["user_id"])),
            pa.array(types, pa.string()),
            pa.array(sel(cols["value"])),
            pa.array(props, pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def _dimension_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "dims")
    n = 16
    keys = np.arange(n, dtype=np.int64)
    day_us = 86_400 * 1_000_000
    dates = pa.array(EPOCH_US - 9_000 * day_us + r.integers(0, 3_000, n) * day_us, pa.timestamp("us"))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    return {
        "region": pa.table(
            {"r_regionkey": i32(range(5)), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{i:09d}" for i in keys],
                "c_nationkey": i32(r.integers(0, 25, n)),
                "c_acctbal": np.round(r.uniform(0, 9000, n), 2),
                "c_mktsegment": r.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"], n).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": keys,
                "s_name": [f"Supplier#{i:09d}" for i in keys],
                "s_nationkey": i32(r.integers(0, 25, n)),
                "s_acctbal": np.round(r.uniform(0, 9000, n), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": keys,
                "p_name": [f"part {i}" for i in keys],
                "p_brand": [f"Brand#{i % 5}" for i in keys],
                "p_type": r.choice(["ECONOMY", "SMALL", "LARGE"], n).tolist(),
                "p_size": i32(r.integers(1, 50, n)),
                "p_retailprice": np.round(900 + keys * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": r.integers(0, n, n),
                "o_orderstatus": r.choice(["F", "O", "P"], n).tolist(),
                "o_totalprice": np.round(r.uniform(1e3, 4e5, n), 2),
                "o_orderdate": dates,
                "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "5-LOW"], n).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": keys,
                "l_partkey": r.integers(0, n, n),
                "l_suppkey": r.integers(0, n, n),
                "l_linenumber": i32(np.ones(n)),
                "l_quantity": r.integers(1, 50, n).astype(np.float64),
                "l_extendedprice": np.round(r.uniform(1e3, 9e4, n), 2),
                "l_discount": np.round(r.integers(0, 10, n) / 100, 2),
                "l_tax": np.round(r.integers(0, 8, n) / 100, 2),
                "l_returnflag": r.choice(["A", "N", "R"], n).tolist(),
                "l_linestatus": r.choice(["F", "O"], n).tolist(),
                "l_shipdate": dates,
            }
        ),
    }


def _corpus_tables(seed: int, p: CorpusParams) -> dict[str, pa.Table]:
    """Documents with planted near-duplicate clusters (copies of a base
    document with ``dup_edit_share`` of their words replaced) and
    embeddings drawn around ``clusters`` unit centres, a ``dup_share`` of
    them near-copies of another vector."""
    r = _rng(seed, "corpus")
    words = np.array([f"w{i}" for i in range(p.vocab)], dtype=object)
    wp = np.arange(1, p.vocab + 1, dtype=np.float64) ** -p.word_zipf
    wp /= wp.sum()
    texts: list[str] = []
    for i in range(p.docs):
        if i > 0 and r.random() < p.dup_share:
            toks = texts[int(r.integers(0, i))].split()
            edit = r.random(len(toks)) < p.dup_edit_share
            toks = np.where(edit, words[r.choice(p.vocab, len(toks), p=wp)], toks).tolist()
        else:
            toks = words[r.choice(p.vocab, int(r.integers(10, 101)), p=wp)].tolist()
        texts.append(" ".join(toks))
    docs = pa.table(
        {
            "doc_id": np.arange(p.docs, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, p.docs, p=LANG_P).tolist(),
            "source": [f"src{int(s)}" for s in r.integers(0, 20, p.docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centres = r.normal(size=(p.clusters, p.dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = r.integers(0, p.clusters, p.vectors)
    x = centres[label] + r.normal(scale=p.cluster_noise / np.sqrt(p.dim), size=(p.vectors, p.dim))
    dup = r.random(p.vectors) < p.dup_share
    src = (r.random(p.vectors) * np.arange(p.vectors)).astype(np.int64)
    x = np.where(dup[:, None], x[src] + r.normal(scale=1e-3, size=x.shape), x)
    label = np.where(dup, label[src], label)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(p.vectors, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_dataset(
    out_dir: str,
    seed: int,
    events: pa.Table,
    corpus: CorpusParams,
    params: dict,
) -> None:
    """Write all ten tables plus ``params.json`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"events": events, **_dimension_tables(seed), **_corpus_tables(seed, corpus)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: t.num_rows for name, t in tables.items()}
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({"seed": seed, "rows": rows, **params}, f, indent=1, sort_keys=True)


def batch_dataset(out_dir: str, seed: int, ev: EventParams, corpus: CorpusParams) -> dict:
    """A complete dataset for the batch workloads; returns its params."""
    params = {"events": dataclasses.asdict(ev), "corpus": dataclasses.asdict(corpus)}
    write_dataset(out_dir, seed, events_table(event_columns(seed, ev)), corpus, params)
    return params


def file_digest(out_dir: str) -> str:
    """sha256 over every file of a dataset directory, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
