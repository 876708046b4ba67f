"""The benchmark's fixed corpus: ``documents.parquet`` and ``events.parquet``.

The corpus has the schema of the engine's catalog tables (see
``aruna_spark/catalog.py``) and is generated from a constant seed, so every
run and every workload serves the same store; only the request script
depends on ``--seed``. It is written once per checkout under ``.work/`` and
published by an atomic rename, so a half-written corpus is never read.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import random
import shutil

CORPUS_SEED = 20240101
N_DOCS = 1000
N_EVENTS = 20_000
N_USERS = 300
N_SOURCES = 20
LANGS = ("en", "fr", "de", "es", "zh")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
# word list of the catalog's synthetic documents; the first words are the
# most frequent (Zipf draw), so search queries see a range of df values
VOCAB = (
    "data table spark query value scan join part row key stream window "
    "batch order group merge sort filter column line fast slow small big "
    "hash vector customer agg index shard cache graph crate object"
).split()
CORPUS_VERSION = "v1"


def _zipf_weights(n: int, s: float = 1.0) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def documents(rng: random.Random) -> dict[str, list]:
    weights = _zipf_weights(len(VOCAB))
    doc_id, text, lang, source, n_chars = [], [], [], [], []
    for i in range(N_DOCS):
        words = rng.choices(VOCAB, weights, k=rng.randint(8, 100))
        t = " ".join(words)
        doc_id.append(i)
        text.append(t)
        lang.append(rng.choice(LANGS))
        source.append(f"src{i % N_SOURCES}")
        n_chars.append(len(t))
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": lang,
        "source": source,
        "n_chars": n_chars,
    }


def events(rng: random.Random) -> dict[str, list]:
    t0 = datetime.datetime(2024, 1, 1)
    ts, t = [], t0
    for _ in range(N_EVENTS):
        t += datetime.timedelta(microseconds=rng.randrange(1, 60_000_000))
        ts.append(t)
    return {
        "event_id": list(range(N_EVENTS)),
        "ts": ts,
        "user_id": [rng.randrange(N_USERS) for _ in range(N_EVENTS)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(N_EVENTS)],
        "value": [round(rng.random() * 500.0, 2) for _ in range(N_EVENTS)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(N_EVENTS)],
    }


@functools.cache
def corpus_documents() -> dict[str, list]:
    """The documents table as columns, recomputed from the corpus seed."""
    return documents(random.Random(CORPUS_SEED))


def ensure_corpus(work_dir: str) -> str:
    """Return the corpus directory under ``work_dir``, writing it first if
    this checkout has none yet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = os.path.join(work_dir, f"corpus-{CORPUS_VERSION}")
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.table(corpus_documents()), os.path.join(tmp, "documents.parquet")
    )
    ev = events(random.Random(CORPUS_SEED + 1))
    ev["ts"] = pa.array(ev["ts"], pa.timestamp("us"))
    pq.write_table(pa.table(ev), os.path.join(tmp, "events.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, dest)
    except OSError:
        # another run published the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)
    return dest
