"""Correctness checks that do not run the engine.

Each check compares an engine output with a reference computed here from
the generated inputs: Python ``datetime``/``zoneinfo`` for the timestamp
filter, DuckDB for the CDC table state and the dedup survivors. Every
check returns a list of error strings; empty means correct.
"""

from __future__ import annotations

import datetime as dt
import json
from zoneinfo import ZoneInfo

from inputs import FILTER_TO_TZ, FilterRow

_UTC = dt.timezone.utc
_MAX_ERRORS = 5


def _render_us(us: int, tz: ZoneInfo) -> str:
    """The filter's default to_format, ``%Y-%m-%d %H:%M:%S.%6N %z``."""
    d = dt.datetime.fromtimestamp(us // 10**6, _UTC).replace(microsecond=us % 10**6)
    return d.astimezone(tz).strftime("%Y-%m-%d %H:%M:%S.%f %z")


def expected_filter_values(rows: "list[FilterRow]") -> "tuple[list, list]":
    """(csv rows, jsonl records) the filter must produce, in input order."""
    tz = ZoneInfo(FILTER_TO_TZ)
    csv_out, json_out = [], []
    for i, r in enumerate(rows):
        ts, ms = _render_us(r.ts_us, tz), _render_us(r.ms * 1000, tz)
        csv_out.append({"id": i, "ts": ts, "ms": ms, "sec": r.sec_us // 1000})
        json_out.append(
            {
                "id": i,
                "ts": ts,
                "ms": ms,
                "nested": {"events": [{"at": u // 1000} for u in r.at_us]},
            }
        )
    return csv_out, json_out


def check_filter_output(csv_dir: str, json_dir: str, expected: "tuple[list, list]") -> "list[str]":
    """Compare one pass's parquet outputs with the expected values."""
    import pyarrow.parquet as pq

    exp_csv, exp_json = expected
    errors: "list[str]" = []
    got_csv = sorted(pq.read_table(csv_dir).to_pylist(), key=lambda r: r["id"])
    if len(got_csv) != len(exp_csv):
        errors.append(f"csv: {len(got_csv)} rows, expected {len(exp_csv)}")
    for got, exp in zip(got_csv, exp_csv):
        if got != exp:
            errors.append(f"csv row {exp['id']}: got {got}, expected {exp}")
            if len(errors) >= _MAX_ERRORS:
                return errors
    records = [json.loads(r) for r in pq.read_table(json_dir).column("record").to_pylist()]
    records.sort(key=lambda r: r["id"])
    if len(records) != len(exp_json):
        errors.append(f"jsonl: {len(records)} records, expected {len(exp_json)}")
    for got, exp in zip(records, exp_json):
        if got != exp:
            errors.append(f"jsonl record {exp['id']}: got {got}, expected {exp}")
            if len(errors) >= _MAX_ERRORS:
                return errors
    return errors


# ---------------------------------------------------------------------------
# CDC
# ---------------------------------------------------------------------------


def _expected_event_time_str(ms: int) -> str:
    """CdcPipeline's coercion renders the binlog's ``... .SSS UTC`` string
    in the default to_format at UTC."""
    return _render_us(ms * 1000, ZoneInfo("UTC"))


def expected_cdc_state(batch_files: "list[str]") -> "dict[str, dict]":
    """Latest row per doc_id by event_seq over the applied binlog, with
    delete rows dropped: DuckDB over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            SELECT doc_id, op, event_seq, tokens, n_tok, source, event_time_ms, event_time_sec
            FROM read_parquet(?)
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_seq DESC) = 1
            """,
            [batch_files],
        ).fetchall()
    finally:
        con.close()
    out = {}
    for doc_id, op, seq, tokens, n_tok, source, ms, sec in rows:
        if op == "D":
            continue
        out[doc_id] = {
            "doc_id": doc_id,
            "event_seq": seq,
            "tokens": list(tokens),
            "n_tok": n_tok,
            "source": source,
            "event_time": dt.datetime.fromtimestamp(ms // 1000, _UTC).replace(microsecond=(ms % 1000) * 1000),
            "event_time_str": _expected_event_time_str(ms),
            "ingest_time_unix": int(sec // 1),
        }
    return out


def expected_cdc_changes(batch_files: "list[str]") -> "list[set]":
    """The net changes each batch makes, as ``IceTable.changes`` reports
    them between the versions before and after it: DuckDB's latest event
    per doc_id in each batch file, folded in order over each doc's latest
    event so far. A doc that becomes present is an ``insert``, one that
    stays present under a newer event an ``update_postimage``, one that
    stops being present a ``delete``."""
    import duckdb

    latest: "dict[str, tuple[int, str]]" = {}  # doc_id -> (event_seq, op)
    out = []
    con = duckdb.connect()
    try:
        for path in batch_files:
            rows = con.execute(
                """
                SELECT doc_id, op, event_seq FROM read_parquet(?)
                QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_seq DESC) = 1
                """,
                [path],
            ).fetchall()
            changes = set()
            for doc_id, op, seq in rows:
                old = latest.get(doc_id)
                if old is not None and old[0] >= seq:
                    continue
                latest[doc_id] = (seq, op)
                was = old is not None and old[1] != "D"
                if op != "D":
                    changes.add((doc_id, "update_postimage" if was else "insert"))
                elif was:
                    changes.add((doc_id, "delete"))
            out.append(changes)
    finally:
        con.close()
    return out


def check_cdc_state(got_rows: "list[dict]", expected: "dict[str, dict]") -> "list[str]":
    """Table rows (as dicts) against the DuckDB latest-by state; token
    arrays are compared element by element."""
    errors: "list[str]" = []
    got = {}
    for r in got_rows:
        if r["doc_id"] in got:
            errors.append(f"doc {r['doc_id']} appears twice")
        got[r["doc_id"]] = r
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        errors.append(f"{len(missing)} docs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errors.append(f"{len(extra)} unexpected docs, e.g. {sorted(extra)[:3]}")
    for doc_id in sorted(expected.keys() & got.keys()):
        exp, row = expected[doc_id], got[doc_id]
        for col, want in exp.items():
            have = row[col]
            if col == "event_time" and have is not None:
                have = have.replace(tzinfo=_UTC) if have.tzinfo is None else have.astimezone(_UTC)
            if col == "tokens" and have is not None:
                have = list(have)
            if have != want:
                errors.append(f"doc {doc_id} {col}: got {have!r}, expected {want!r}")
                break
        if len(errors) >= _MAX_ERRORS:
            break
    return errors


# ---------------------------------------------------------------------------
# corpus dedup
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> "set[str]":
    words = text.lower().split()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def expected_survivors(phases: "list[list[tuple[int, str]]]", pairs_sql) -> "tuple[list[set], dict]":
    """Replay the incremental passes with the repo's DuckDB MinHash-LSH
    oracle SQL: each phase dedups (survivors ∪ new docs) and drops the
    larger id of every verified pair. Whether two docs pair depends only
    on their texts, so the SQL runs once over every doc and the phases
    are replayed on its pair list. Returns (survivor ids after each
    phase, dropped id -> partner id)."""
    import duckdb
    import pyarrow as pa

    docs = sorted(d for phase in phases for d in phase)
    con = duckdb.connect()
    try:
        con.register(
            "corpus",
            pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()), "text": [t for _, t in docs]}),
        )
        pairs = [(a, b) for a, b, _j in con.execute(pairs_sql("corpus")).fetchall()]
    finally:
        con.close()
    survivors: "set[int]" = set()
    per_phase: "list[set[int]]" = []
    dropped: "dict[int, int]" = {}
    for phase in phases:
        present = survivors | {d for d, _ in phase}
        for a, b in pairs:
            if a in present and b in present:
                dropped.setdefault(b, a)
        survivors = present - dropped.keys()
        per_phase.append(survivors)
    return per_phase, dropped


def check_dedup(
    got_ids: "set[int]",
    expected_ids: "set[int]",
    oracle_partner: "dict[int, int]",
    texts: "dict[int, str]",
) -> "list[str]":
    """Survivors must equal the oracle's, and every doc the engine dropped
    must have an earlier doc at exact 3-shingle Jaccard ≥ 0.8."""
    errors: "list[str]" = []
    if got_ids != expected_ids:
        errors.append(
            f"survivors differ: {len(got_ids - expected_ids)} extra, "
            f"{len(expected_ids - got_ids)} missing, e.g. "
            f"{sorted(got_ids ^ expected_ids)[:5]}"
        )
    for doc_id in sorted(texts.keys() - got_ids):
        partner = oracle_partner.get(doc_id)
        if partner is None or jaccard(texts[doc_id], texts[partner]) < 0.8:
            partner = next(
                (p for p in texts if p < doc_id and jaccard(texts[doc_id], texts[p]) >= 0.8),
                None,
            )
        if partner is None:
            errors.append(f"doc {doc_id} dropped without a partner at exact Jaccard >= 0.8")
            if len(errors) >= _MAX_ERRORS:
                break
    return errors
