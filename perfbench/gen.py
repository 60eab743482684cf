"""Seeded input generators for the benchmark.

Everything here is plain Python + pyarrow: the program under test only ever
sees the parquet files these functions write. The same seed always gives
byte-identical tables.

Two families:

* ``write_training`` — the four reference-shaped tables of FIXTURES.md §A
  (``impressions``, ``clicks``, ``add_to_carts``, ``orders``), with the edge
  cases the training contract names planted on purpose.
* ``write_corpus`` — the driver-testdata-shaped ``documents`` table the LLM
  slugs and the document ingest read, plus ``churn_documents``, which
  derives the next daily snapshot from the previous one.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# training tables
# ---------------------------------------------------------------------------

TRAINING_DAY0 = dt.date(2025, 3, 1)  # first impression day
TRAINING_DAYS = 10                   # impression days
HISTORY_DAYS = 500                   # actions reach back past the 365-day horizon

IMPRESSIONS_SCHEMA = pa.schema([
    ("dt", pa.string()),
    ("ranking_id", pa.string()),
    ("customer_id", pa.int64()),
    ("impressions", pa.list_(pa.struct([("item_id", pa.int64()),
                                        ("is_order", pa.bool_())]))),
])
CLICKS_SCHEMA = pa.schema([
    ("dt", pa.string()), ("customer_id", pa.int64()),
    ("item_id", pa.int64()), ("click_time", pa.timestamp("us", tz="UTC")),
])
CARTS_SCHEMA = pa.schema([
    ("dt", pa.string()), ("customer_id", pa.int64()),
    ("config_id", pa.int64()), ("simple_id", pa.int32()),
    ("occurred_at", pa.timestamp("us", tz="UTC")),
])
ORDERS_SCHEMA = pa.schema([
    ("order_date", pa.string()), ("customer_id", pa.int64()),
    ("config_id", pa.int64()), ("simple_id", pa.int32()),
    ("occurred_at", pa.timestamp("us", tz="UTC")),
])


def _utc(d: dt.date, seconds: int) -> dt.datetime:
    return (dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=seconds))


def training_tables(seed: int, n_customers: int, n_rankings: int) -> dict:
    """Rows of the four training tables, as Python lists of tuples.

    Customer classes (by id, so a checker can find every class):

    * ``id % 10 == 0`` — no actions at all (zero-padding path);
    * ids ``1`` and ``2`` — heavy: more than 1000 in-horizon actions
      (truncation path);
    * everyone else — 0 to 60 actions, spread over ``HISTORY_DAYS`` days, so
      some fall past the 365-day horizon.

    Every customer's actions use a coarse second grid, so exact timestamp
    ties are common, and some land exactly at midnight of an impression day
    or later on that day (the no-leakage predicate). Rankings carry 0 to 20
    items with ~10% ``is_order``; some have a NULL ``ranking_id``, an empty
    array or a NULL array.
    """
    rng = random.Random(seed)
    impressions, clicks, carts, orders = [], [], [], []
    last_day = TRAINING_DAY0 + dt.timedelta(days=TRAINING_DAYS - 1)
    grid = (0, 0, 3600, 43200, 43200, 86399)

    for r in range(n_rankings):
        cust = rng.randint(1, n_customers)
        day = TRAINING_DAY0 + dt.timedelta(days=rng.randrange(TRAINING_DAYS))
        rid = None if rng.random() < 0.05 else f"r{seed}-{r}"
        roll = rng.random()
        if roll < 0.03:
            items = None
        elif roll < 0.06:
            items = []
        else:
            items = [{"item_id": rng.randint(1, 5000),
                      "is_order": rng.random() < 0.1}
                     for _ in range(rng.randint(1, 20))]
        impressions.append((day.isoformat(), rid, cust, items))

    for cust in range(1, n_customers + 1):
        if cust % 10 == 0:
            continue
        if cust in (1, 2):
            # heavy customers: > 1000 actions inside the horizon
            n, span = 1300, 300
        else:
            n, span = rng.randint(0, 60), HISTORY_DAYS
        for _ in range(n):
            day = last_day - dt.timedelta(days=rng.randrange(span))
            ts = _utc(day, rng.choice(grid))
            item = rng.randint(1, 5000)
            kind = rng.random()
            if kind < 0.6:
                clicks.append((day.isoformat(), cust, item, ts))
            elif kind < 0.85:
                carts.append((day.isoformat(), cust, item,
                              rng.randint(1, 9), ts))
            else:
                orders.append((day.isoformat(), cust, item,
                               rng.randint(1, 9), ts))
    # a few rows with NULL keys: the pipeline must drop them
    clicks.append((TRAINING_DAY0.isoformat(), None, 7, _utc(TRAINING_DAY0, -5)))
    carts.append((TRAINING_DAY0.isoformat(), 3, None, 1, _utc(TRAINING_DAY0, -5)))
    orders.append((TRAINING_DAY0.isoformat(), 3, 7, 1, None))
    return {"impressions": impressions, "clicks": clicks,
            "add_to_carts": carts, "orders": orders}


def write_training(out_dir: str, tables: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    schemas = {"impressions": IMPRESSIONS_SCHEMA, "clicks": CLICKS_SCHEMA,
               "add_to_carts": CARTS_SCHEMA, "orders": ORDERS_SCHEMA}
    for name, schema in schemas.items():
        write_rows(os.path.join(out_dir, f"{name}.parquet"), schema, tables[name])


# ---------------------------------------------------------------------------
# documents (the driver-testdata shape)
# ---------------------------------------------------------------------------

WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window join small big order data column query "
         "customer stream filter group vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")

DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 90)))


def _near_copy(rng: random.Random, text: str) -> str:
    """Edit ~5% of the words: close enough for the LSH verifier."""
    toks = text.split()
    for _ in range(max(1, len(toks) // 20)):
        toks[rng.randrange(len(toks))] = rng.choice(WORDS)
    return " ".join(toks)


def corpus_documents(seed: int, n_docs: int) -> list[tuple]:
    """``documents`` rows; ~15% are near copies of an earlier document and
    ~3% exact copies, so the dedup slugs find pairs and multi-member
    clusters."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for i in range(n_docs):
        roll = rng.random()
        if rows and roll < 0.03:
            text = rows[rng.randrange(len(rows))][1]
        elif rows and roll < 0.18:
            text = _near_copy(rng, rows[rng.randrange(len(rows))][1])
        else:
            text = _doc_text(rng)
        rows.append((i, text, rng.choice(LANGS), f"src{i % 20}", len(text)))
    return rows


def churn_documents(seed: int, step: int, rows: list[tuple],
                    frac: float) -> list[tuple]:
    """The next daily snapshot: ``frac`` of the documents edited in place
    and half as many near copies added under new ids."""
    rng = random.Random(seed * 104729 + step)
    out = list(rows)
    n_edit = max(1, int(len(rows) * frac))
    for i in rng.sample(range(len(out)), n_edit):
        doc_id, text, lang, source, _ = out[i]
        text = _near_copy(rng, text)
        out[i] = (doc_id, text, lang, source, len(text))
    next_id = max(r[0] for r in out) + 1
    for j in range(max(1, n_edit // 2)):
        base = out[rng.randrange(len(rows))]
        text = _near_copy(rng, base[1])
        out.append((next_id + j, text, base[2], base[3], len(text)))
    return out


def write_rows(path: str, schema: pa.Schema, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    pq.write_table(pa.table([pa.array(list(c), type=f.type)
                             for c, f in zip(cols, schema)], schema=schema),
                   path)


def write_corpus(out_dir: str, docs: list[tuple]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    write_rows(os.path.join(out_dir, "documents.parquet"), DOCUMENTS_SCHEMA, docs)
