"""Seeded input generators. The engine only ever sees the files they write.

Each generator also returns the ground truth the checks need, computed in
plain Python: the true instant behind every timestamp field, the binlog
as DuckDB will read it, and the planted near-duplicate set.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

UTC = dt.timezone.utc

# The reference plugin's 3-format cascade (example/from_string.yml order).
FILTER_FORMATS = ["%Y-%m-%d %H:%M:%S.%N %z", "%Y-%m-%d %H:%M:%S %z", "%Y-%m-%d"]
FILTER_TO_TZ = "America/New_York"  # a DST zone, so the offset varies by row
CSV_SCHEMA = "id long, ts string, ms long, sec double"

# 2016-01-01 .. 2025-01-01: crosses DST switches and leap days
_T0, _T1 = 1451606400, 1735689600


@dataclass
class FilterRow:
    """One row's true values: each field's denoted instant in microseconds."""

    ts_text: str
    ts_us: int  # instant the string denotes (date-only → midnight UTC)
    ms: int  # epoch-ms long
    sec_us: int  # instant of the epoch-sec double (a multiple of 1/8 s)
    at_texts: list = field(default_factory=list)  # JSONL nested array strings
    at_us: list = field(default_factory=list)


def _render(kind: int, s: int, us: int) -> "tuple[str, int]":
    """Render second ``s`` + ``us`` in format ``kind``; return the text and
    the instant it denotes."""
    d = dt.datetime.fromtimestamp(s, UTC)
    if kind == 0:  # fractional with +0900
        local = d + dt.timedelta(hours=9)
        return local.strftime("%Y-%m-%d %H:%M:%S.") + f"{us:06d} +0900", s * 10**6 + us
    if kind == 1:  # whole seconds with -0500
        local = d - dt.timedelta(hours=5)
        return local.strftime("%Y-%m-%d %H:%M:%S") + " -0500", s * 10**6
    midnight = s - s % 86400  # date only: midnight of the UTC date
    return d.strftime("%Y-%m-%d"), midnight * 10**6


def filter_rows(seed: int, n: int) -> "list[FilterRow]":
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        s, us = rng.randrange(_T0, _T1), rng.randrange(10**6)
        text, ts_us = _render(i % 3, s, us)
        at = [_render((i + k) % 3, s + 3600 * k, us) for k in (1, 2)]
        rows.append(
            FilterRow(
                ts_text=text,
                ts_us=ts_us,
                ms=s * 1000 + us // 1000,
                sec_us=s * 10**6 + (us // 125000) * 125000,
                at_texts=[t for t, _ in at],
                at_us=[u for _, u in at],
            )
        )
    return rows


def write_filter_files(rows: "list[FilterRow]", csv_dir: str, jsonl_dir: str, files: int) -> None:
    """``files`` part files per format, as a file input directory holds
    them. CSV: ``id,ts,ms,sec``. JSONL: the same values under a
    ``record`` object, two more strings inside a nested array."""
    os.makedirs(csv_dir)
    os.makedirs(jsonl_dir)
    per_file = -(-len(rows) // files)
    for k in range(files):
        part = range(k * per_file, min(len(rows), (k + 1) * per_file))
        with open(os.path.join(csv_dir, f"part{k}.csv"), "w") as f:
            for i in part:
                r = rows[i]
                f.write(f"{i},{r.ts_text},{r.ms},{r.sec_us / 10**6!r}\n")
        with open(os.path.join(jsonl_dir, f"part{k}.jsonl"), "w") as f:
            for i in part:
                r = rows[i]
                rec = {
                    "id": i,
                    "ts": r.ts_text,
                    "ms": r.ms,
                    "nested": {"events": [{"at": t} for t in r.at_texts]},
                }
                f.write(json.dumps(rec) + "\n")


def filter_tasks() -> "tuple[dict, dict]":
    """(csv task, jsonl task) as the plugin's config dicts."""
    common = {
        "default_from_timestamp_format": FILTER_FORMATS,
        "default_to_timezone": FILTER_TO_TZ,
    }
    csv_task = {
        **common,
        "columns": [
            {"name": "ts", "type": "string"},
            {"name": "ms", "type": "string", "from_unit": "ms"},
            {"name": "sec", "type": "long", "from_unit": "sec", "to_unit": "ms"},
        ],
    }
    jsonl_task = {
        **common,
        "columns": [
            {"name": "$.record.ts", "type": "string"},
            {"name": "$.record.ms", "type": "string", "from_unit": "ms"},
            {"name": "$.record.nested.events[*].at", "type": "long", "to_unit": "ms"},
        ],
    }
    return csv_task, jsonl_task


# ---------------------------------------------------------------------------
# binlog
# ---------------------------------------------------------------------------


def split_binlog(chunk_dir: str, out_dir: str, sizes: "list[int]") -> "list[str]":
    """Cut one generated binlog chunk into consecutive micro-batch files
    of ``sizes`` events each, in offset order (what a file-source stream
    would hand to ``foreachBatch``)."""
    import pyarrow.parquet as pq

    table = pq.read_table(chunk_dir).sort_by("offset")
    os.makedirs(out_dir, exist_ok=True)
    paths, start = [], 0
    for i, size in enumerate(sizes):
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        pq.write_table(table.slice(start, size), path)
        paths.append(path)
        start += size
    if start != table.num_rows:
        raise ValueError(f"binlog has {table.num_rows} events, batches take {start}")
    return paths


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do", "fe", "gi", "ho", "ju"]


@dataclass
class Corpus:
    docs: "list[tuple[int, str]]"  # (doc_id, text), doc_id ascending
    planted: "dict[int, int]"  # near-duplicate doc_id -> the doc it copies


def corpus(seed: int, n: int, dup_share: float, min_words: int = 40, max_words: int = 80) -> Corpus:
    """``n`` docs of random pseudo-words; a ``dup_share`` of them are
    copies of an earlier doc with exactly one word replaced (3-shingle
    Jaccard ≥ 0.85 at these lengths, above the 0.8 dedup threshold)."""
    rng = random.Random(seed)
    vocab = sorted(
        {"".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5))) for _ in range(4000)}
    )
    docs: "list[tuple[int, str]]" = []
    planted: "dict[int, int]" = {}
    for doc_id in range(n):
        if docs and rng.random() < dup_share:
            src_id, src = docs[rng.randrange(len(docs))]
            words = src.split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            planted[doc_id] = src_id
        else:
            words = [rng.choice(vocab) for _ in range(rng.randrange(min_words, max_words))]
        docs.append((doc_id, " ".join(words)))
    return Corpus(docs, planted)


def write_corpus_batch(docs: "list[tuple[int, str]]", path: str) -> None:
    """One merge batch: upserts keyed by doc_id, seq = doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = [d for d, _ in docs]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [t for _, t in docs],
                "event_seq": pa.array(ids, pa.int64()),
                "op": ["U"] * len(docs),
            }
        ),
        path,
    )
