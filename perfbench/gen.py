"""Seeded input generators. Everything here runs before the clock starts.

The same seed always gives the same inputs: every generator draws from its
own ``numpy.random.Generator`` seeded from ``(seed, name)``, and no output
depends on the host, the time or the order of file listings.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T


def rng_for(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lower-case pseudo-words (the engine tokenizes on
    single spaces, so words must hold no spaces or punctuation)."""
    syllables = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < n:
        for row in rng.integers(0, len(syllables), (n, 4)):
            words.add("".join(syllables[i] for i in row[: 2 + row[0] % 3]))
    return sorted(words)[:n]


# ---- ingest: Kafka poll batches ------------------------------------------

TOPICS = ("orders", "clicks")
PARTITIONS_PER_TOPIC = 3
EVENT_TYPES = ("view", "click", "cart", "purchase", "refund")
VALUE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("promo", T.BooleanType()),
        T.StructField("note", T.StringType()),
    ]
)
KAFKA_DDL = "key string, topic string, partition int, offset long, value binary"
_KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("value", pa.binary()),
    ]
)


@dataclass(frozen=True)
class PollBatch:
    path: str
    rows: int
    payload_bytes: int  # key + value bytes, the Kafka record payload
    event_id_sum: int
    event_id_sq_mod: int  # sum(event_id * event_id % 1000003)
    starts: frozenset  # {(topic, partition, offset // flush_size * flush_size)}


class KafkaStream:
    """Consecutive poll batches of one Kafka stream, one parquet file each.

    Keys are zipf-skewed user ids; a key always maps to the same partition
    of its topic (Kafka's key partitioner), so partitions are skewed too.
    Offsets are contiguous per topic-partition and continue across
    batches, as successive polls of one consumer would see them. Batches
    are made in order and on demand, so a run makes only what it uses."""

    def __init__(self, seed: int, out_dir: str, batch_rows: int, flush_size: int) -> None:
        self.rng = rng_for(seed, "kafka")
        self.words = _vocab(self.rng, 400)
        self.out_dir = out_dir
        self.batch_rows = batch_rows
        self.flush_size = flush_size
        self.next_offset = {(t, p): 0 for t in TOPICS for p in range(PARTITIONS_PER_TOPIC)}
        self.next_event = 0
        self.batches: list[PollBatch] = []
        os.makedirs(out_dir, exist_ok=True)

    def batch(self, j: int) -> PollBatch:
        while len(self.batches) <= j:
            self.batches.append(self._make(len(self.batches)))
        return self.batches[j]

    def _make(self, b: int) -> PollBatch:
        rng, n = self.rng, self.batch_rows
        users = np.minimum(rng.zipf(1.3, n), 50_000)
        topic_ix = rng.integers(0, len(TOPICS), n)
        etype = rng.integers(0, len(EVENT_TYPES), n)
        amount = np.round(rng.gamma(2.0, 20.0, n), 2)
        qty = rng.integers(1, 10, n)
        promo = rng.random(n) < 0.2
        note = rng.integers(0, len(self.words), n)
        cols: dict[str, list] = {k: [] for k in _KAFKA_SCHEMA.names}
        starts, payload = set(), 0
        ids = np.arange(self.next_event, self.next_event + n, dtype=np.int64)
        self.next_event += n
        for i in range(n):
            key = f"user-{users[i]}"
            topic = TOPICS[topic_ix[i]]
            part = zlib.crc32(key.encode()) % PARTITIONS_PER_TOPIC
            off = self.next_offset[(topic, part)]
            self.next_offset[(topic, part)] = off + 1
            value = json.dumps(
                {
                    "event_id": int(ids[i]),
                    "user_id": int(users[i]),
                    "event_type": EVENT_TYPES[etype[i]],
                    "amount": float(amount[i]),
                    "qty": int(qty[i]),
                    "promo": bool(promo[i]),
                    "note": self.words[note[i]],
                },
                separators=(",", ":"),
            ).encode()
            for k, v in zip(_KAFKA_SCHEMA.names, (key, topic, part, off, value)):
                cols[k].append(v)
            starts.add((topic, part, off // self.flush_size * self.flush_size))
            payload += len(key) + len(value)
        path = os.path.join(self.out_dir, f"poll_{b:05d}.parquet")
        pq.write_table(pa.table(cols, schema=_KAFKA_SCHEMA), path)
        return PollBatch(
            path=path,
            rows=n,
            payload_bytes=payload,
            event_id_sum=int(ids.sum()),
            event_id_sq_mod=int((ids * ids % 1000003).sum()),
            starts=frozenset(starts),
        )


# ---- curation: document drops -----------------------------------------------

LANGS = ("en", "de", "fr", "es", "zh")
DOC_DDL = "doc_id long, text string, lang string"


@dataclass(frozen=True)
class Drop:
    path: str
    docs: int
    text_bytes: int
    exact_within: int
    exact_corpus: int


class DropStream:
    """Document drops with planted duplicates, made in order on demand.

    Per drop: fresh base documents (random word sequences over a large
    vocabulary, so no two are near each other), exact copies of this
    drop's bases (``exact_within``), exact copies of earlier drops' bases
    (``exact_corpus``) and one-word edits of earlier drops' bases (near
    duplicates). Bases carry the smallest doc ids of a drop, so a base
    always represents its own copies and is kept; a later exact copy of it
    therefore hits the accepted corpus state. Near duplicates only derive
    from earlier drops, so they never decide a base's own stage."""

    def __init__(self, seed: int, out_dir: str, drop_docs: int) -> None:
        self.rng = rng_for(seed, "docs")
        self.words = _vocab(self.rng, 20_000)
        self.out_dir = out_dir
        self.n_dup = drop_docs // 10  # per kind of planted duplicate
        self.n_base = drop_docs - 3 * self.n_dup
        self.earlier: list[tuple[str, str]] = []  # (text, lang) of earlier bases
        self.next_id = 0
        self.drops: list[Drop] = []
        os.makedirs(out_dir, exist_ok=True)

    def drop(self, j: int) -> Drop:
        while len(self.drops) <= j:
            self.drops.append(self._make(len(self.drops)))
        return self.drops[j]

    def _make(self, d: int) -> Drop:
        rng, words = self.rng, self.words
        bases = []
        for _ in range(self.n_base):
            n_words = int(rng.integers(30, 80))
            text = " ".join(words[i] for i in rng.integers(0, len(words), n_words))
            bases.append((text, LANGS[rng.integers(0, len(LANGS))]))
        copies = [bases[i] for i in rng.integers(0, self.n_base, self.n_dup)]
        corpus, near = [], []
        if self.earlier:
            pick = rng.integers(0, len(self.earlier), self.n_dup)
            corpus = [self.earlier[i] for i in pick]
            for i in rng.integers(0, len(self.earlier), self.n_dup):
                toks = self.earlier[i][0].split(" ")
                toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
                near.append((" ".join(toks), self.earlier[i][1]))
        docs = bases + copies + corpus + near
        ids = list(range(self.next_id, self.next_id + len(docs)))
        self.next_id += len(docs)
        self.earlier.extend(bases)
        path = os.path.join(self.out_dir, f"drop_{d:05d}.parquet")
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [t for t, _ in docs],
                "lang": [lang for _, lang in docs],
            }
        )
        pq.write_table(table, path)
        return Drop(
            path=path,
            docs=len(docs),
            text_bytes=sum(len(t.encode()) for t, _ in docs),
            exact_within=len(copies),
            exact_corpus=len(corpus),
        )
