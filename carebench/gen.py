"""Seeded input files in the engine's source schemas.

Every workload input is written here, before the Spark session starts,
so the engine only ever sees parquet files. The same seed always gives
byte-identical tables. The shapes follow the repo's own test data at
sf0.1 (its seed-42 files, measured with DuckDB; see
``README.md``), with one deliberate change to the documents.

* ``events``    — event_id bigint, ts timestamp, user_id bigint,
  event_type string, value double, props string, as in the test data:
  ~3,333 events a day, users drawn uniformly from 1,500, the five event
  types equally likely, ``value`` exponential with mean 50, ``props``
  ``{"k": 0..99}``. Sorted by ts, so parquet row-group statistics can
  prune a date window.
* ``orders``    — o_orderkey, o_custkey, o_orderstatus, o_totalprice,
  o_orderdate, o_orderpriority (the campaign-spend and CRM-lead views are
  derived from it).
* ``documents`` — doc_id bigint, text string, lang string, source string,
  n_chars bigint. As in the test data: 10-100 tokens drawn from its
  31-word vocabulary, 20 equally likely sources, ~41% ``en``. Unlike it,
  every third token is a rare per-document token, and 10% of documents
  are near-duplicates (an earlier document's text plus one token). This
  is the corpus ``scripts/scale_stress.py`` uses: with a 31-word vocabulary
  alone, unrelated documents share most 8-character shingles and collide
  in LSH bands, so dedup would measure that saturation instead of the
  banding.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
EVENT_TYPES = pa.array(["view", "click", "error", "signup", "purchase"])
ROW_GROUP = 65536

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


def events_for_days(rng: np.random.Generator, first_day: int, n_days: int,
                    rows_per_day: int, n_users: int, first_id: int) -> pa.Table:
    """``rows_per_day`` events on each of ``n_days`` days, ids dense from
    ``first_id`` in timestamp order."""
    n = n_days * rows_per_day
    day = np.repeat(np.arange(first_day, first_day + n_days, dtype=np.int64), rows_per_day)
    us = day * 86_400_000_000 + rng.integers(0, 86_400_000_000, n)
    us.sort()
    users = rng.integers(0, n_users, n)
    ks = rng.integers(0, 100, n)
    props = pc.binary_join_element_wise(
        pa.array(np.full(n, '{"k": ')), pc.cast(pa.array(ks), pa.string()),
        pa.array(np.full(n, "}")), "",
    )
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(us + EPOCH_US, pa.timestamp("us")),
            pa.array(users.astype(np.int64)),
            pc.take(EVENT_TYPES, pa.array(rng.integers(0, 5, n))),
            pa.array(np.round(rng.exponential(50.0, n), 2)),
            props,
        ],
        schema=EVENTS_SCHEMA,
    )


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(1, n + 1, dtype=np.int64)
    days = rng.integers(0, 365, n)
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, max(2, n // 10), n).astype(np.int64),
            "o_orderstatus": pc.take(pa.array(["O", "F", "P"]), pa.array(rng.integers(0, 3, n))),
            "o_totalprice": np.round(rng.random(n) * 5e5, 2),
            "o_orderdate": pa.array(days * 86_400_000_000 + EPOCH_US, pa.timestamp("us")),
            "o_orderpriority": pc.take(
                pa.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                pa.array(rng.integers(0, 5, n)),
            ),
        }
    )


VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP = 0.1


def documents(rng: np.random.Generator, n: int, first_id: int = 0,
              n_sources: int = 20) -> pa.Table:
    """``n`` documents: 90% fresh text whose every third token is rare,
    10% near-duplicates of an earlier document of the same shard."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP:
            base = texts[int(rng.integers(0, i))]
            texts.append(f"{base} zz{int(rng.integers(0, 7))}")
            continue
        toks = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))].astype(object)
        rare = rng.integers(0, 1_000_000_000, len(toks))
        toks[2::3] = [f"w{r}" for r in rare[2::3]]
        texts.append(" ".join(toks))
    text = pa.array(texts)
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": text,
            "lang": pc.take(pa.array(LANGS), pa.array(rng.choice(len(LANGS), n, p=LANG_P))),
            "source": pc.binary_join_element_wise(
                pa.array(np.full(n, "src")),
                pc.cast(pa.array(rng.integers(0, n_sources, n)), pa.string()), "",
            ),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def write(table: pa.Table, sf_dir: str, name: str) -> str:
    """Write ``name.parquet`` atomically (readers never see a torn file)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)
    return path
