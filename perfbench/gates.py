"""Correctness gates, run on every pass outside the timed window.

Extraction output must equal ``extraction.oracle.extract_corpus`` per doc_id
on the full (kind, text, media_ref, order) sequence.  Vector output must
equal DuckDB running the contract's IVF and multi-probe LSH oracles over the
same parquet file: ids and ranks exactly, cosines within 1e-6.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

_OUT_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("order", pa.int32())])
_OUT_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("spans", pa.list_(_OUT_SPAN))])


def oracle_rows(docs) -> list:
    """[(doc_id, spans)] the oracle extracts from ``docs``."""
    from vlm_ocr_doc_reader_spark.extraction.oracle import extract_corpus
    return list(extract_corpus(docs).items())


def oracle_table(rows) -> pa.Table:
    """Oracle rows as a table sorted by doc_id, in the output's schema."""
    rows = sorted(rows)
    flat = [s for _, spans in rows for s in spans]
    cols = list(zip(*flat)) or [(), (), (), ()]
    structs = pa.StructArray.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, _OUT_SPAN)],
        fields=list(_OUT_SPAN))
    bounds = [0]
    for _, spans in rows:
        bounds.append(bounds[-1] + len(spans))
    return pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.string()),
        "spans": pa.ListArray.from_arrays(pa.array(bounds, pa.int32()),
                                          structs)}).cast(_OUT_SCHEMA)


def read_extraction(out_dir: str) -> pa.Table:
    """The CLI's output directory as a table sorted by doc_id."""
    got = pq.read_table(out_dir, columns=["doc_id", "spans"])
    return got.cast(_OUT_SCHEMA).sort_by("doc_id")


def extraction_mismatches(got: pa.Table, expected: pa.Table) -> int:
    """Number of doc_ids whose span sequence differs from the oracle's,
    counting missing and extra documents."""
    if got.equals(expected):
        return 0
    want = dict(zip(expected["doc_id"].to_pylist(),
                    expected["spans"].to_pylist()))
    have = dict(zip(got["doc_id"].to_pylist(), got["spans"].to_pylist()))
    extra = len(got) - len(have)            # duplicated doc_ids
    return extra + sum(have.get(d) != s for d, s in want.items()) + sum(
        d not in want for d in have)


def manifest_rows(state_dir: str) -> int:
    path = os.path.join(state_dir, "manifest")
    return pq.read_table(path, columns=["doc_id"]).num_rows


def vector_oracles(emb_path: str, ivf_sql: str, lsh_sql: str) -> dict:
    """DuckDB results of both oracles over the parquet file."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{emb_path}')")
        return {"ivf": con.execute(ivf_sql).fetchdf(),
                "lsh": con.execute(lsh_sql).fetchdf()}
    finally:
        con.close()


def _canon(df):
    df = df[["qid", "nbr_id", "rank", "cosine"]].copy()
    for c in ("qid", "nbr_id", "rank"):
        df[c] = df[c].astype("int64")
    df["cosine"] = df["cosine"].astype(float)
    return df.sort_values(["qid", "rank", "nbr_id"]).reset_index(drop=True)


def vector_mismatches(got, expected) -> int:
    """Rows of a top-k result that differ from the oracle's (ids and ranks
    exactly, cosine within 1e-6), counting a length difference as rows."""
    a, b = _canon(got), _canon(expected)
    if len(a) != len(b):
        return abs(len(a) - len(b)) + min(len(a), len(b))
    bad = ((a[["qid", "nbr_id", "rank"]] != b[["qid", "nbr_id", "rank"]])
           .any(axis=1) | ~((a["cosine"] - b["cosine"]).abs() <= 1e-6))
    return int(bad.sum())
