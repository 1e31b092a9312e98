"""Seeded input generators for the benchmark.

Everything the program sees is produced here from ``--seed``: the
curation corpus (documents with planted exact and near duplicates,
embeddings with planted semantic duplicates, a held-out set) and the
stream of Kafka-envelope JSON files. The same seed gives the same bytes; the
program never reads anything else.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a the of and to in is it that for data spark stream batch query join "
    "group sort hash scan filter window table column row key value order "
    "line part customer vector merge agg fast slow big small"
).split()
LANGS = ("en", "en", "en", "en", "en", "en", "es", "fr", "zh")
BOILERPLATE = (
    "subscribe to our newsletter for more data",
    "all rights reserved by the stream group",
)

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def corpus(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Random-vocabulary documents with planted duplicates: ~3% exact
    copies, ~8% near copies (one or two words changed) and ~15%
    carrying a boilerplate sentence, so every dedup stage has work."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.11:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
            continue
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(12, 90)))])
        if r > 0.85:
            words += BOILERPLATE[int(rng.integers(0, 2))].split()
        texts.append(" ".join(words))
    return texts


def _documents(rng: np.random.Generator, out_dir: str, n_docs: int, n_vecs: int) -> None:
    texts = corpus(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(np.char.add("src", rng.integers(1, 20, n_docs).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (n_vecs, 64))).astype("float32")
    # ~5% near-identical vectors, the semantic-duplicate case
    dup = np.flatnonzero(rng.random(n_vecs) < 0.05)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.01, (len(dup), 64)).astype("float32")
    label[dup] = label[src]
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _heldout(rng: np.random.Generator, out_dir: str, n_copied: int = 10, n_fresh: int = 10) -> None:
    """A held-out evaluation set for the curation job's decontamination
    stage: documents copied from the corpus (their n-grams must be
    removed from it) and fresh ones."""
    docs = pq.read_table(os.path.join(out_dir, "documents.parquet"), columns=["text"])
    texts = docs.column("text").to_pylist()
    picked = [texts[int(i)] for i in rng.choice(len(texts), n_copied, replace=False)]
    _write(out_dir, "heldout", {
        "doc_id": pa.array(np.arange(n_copied + n_fresh), pa.int64()),
        "text": pa.array(picked + corpus(rng, n_fresh)),
    })


def make_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write the ``documents`` and ``embeddings`` tables the curation
    queries read, and the held-out set, into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    _documents(np.random.default_rng([seed, 1]), out_dir, n_docs, n_vecs)
    _heldout(np.random.default_rng([seed, 4]), out_dir)


# ---------------------------------------------------------------------------
# stream input: Kafka-envelope JSON files
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class StreamFile:
    name: str
    due_s: float  # creation stamp: seconds after the schedule starts
    phase: str  # "warmup" | "steady" | "burst"
    body: bytes
    event_ids: tuple[int, ...]


@dataclass(frozen=True)
class StreamPlan:
    warmup_files: int = 6
    steady_files: int = 300
    steady_files_per_s: float = 20.0
    burst_files: int = 300
    events_per_file: int = 50
    burst_events_per_file: int = 100
    dup_share: float = 0.10


def stream_files(seed: int, plan: StreamPlan) -> list[StreamFile]:
    """The whole stream schedule, deterministic in ``seed``.

    Each line is ``{"key": <event_id>, "value": <payload JSON>}`` as
    ``send_to_kafka.py`` produces; ``plan.dup_share`` of the lines are
    redeliveries of earlier events (at-least-once delivery), byte-equal
    to the first delivery. Warm-up files are due at 0, steady files on
    a fixed schedule, burst files all at once after the steady phase.
    """
    rng = np.random.default_rng([seed, 2])
    mult = int(rng.integers(1, 1 << 30)) * 2 + 1
    offset = int(rng.integers(0, 1 << 40))
    payloads: list[bytes] = []  # by event serial
    ids: list[int] = []
    files: list[StreamFile] = []
    n_total = plan.warmup_files + plan.steady_files + plan.burst_files
    for f in range(n_total):
        if f < plan.warmup_files:
            phase, due, per = "warmup", 0.0, plan.events_per_file
        elif f < plan.warmup_files + plan.steady_files:
            k = f - plan.warmup_files
            phase, due, per = "steady", k / plan.steady_files_per_s, plan.events_per_file
        else:
            phase = "burst"
            due, per = plan.steady_files / plan.steady_files_per_s, plan.burst_events_per_file
        lines, fids = [], []
        for _ in range(per):
            if payloads and rng.random() < plan.dup_share:
                j = int(rng.integers(0, len(payloads)))
            else:
                j = len(payloads)
                eid = (j * mult + offset) % (1 << 62)
                ts_us = _EPOCH_2024_US + int(rng.integers(0, 3 * _DAY_US))
                value = {
                    "event_id": eid,
                    "ts": _iso(ts_us),
                    "user_id": int(rng.integers(0, 5000)),
                    "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
                    "value": round(float(rng.exponential(60.0)), 2),
                    "created_s": round(due, 3),
                }
                payloads.append(json.dumps(
                    {"key": str(eid), "value": json.dumps(value)}).encode())
                ids.append(eid)
            lines.append(payloads[j])
            fids.append(ids[j])
        files.append(StreamFile(f"events-{f:05d}.json", due, phase,
                                b"\n".join(lines) + b"\n", tuple(fids)))
    return files


def _iso(ts_us: int) -> str:
    secs, us = divmod(ts_us, 1_000_000)
    return np.datetime_as_string(np.datetime64(secs, "s")) + f".{us:06d}"

