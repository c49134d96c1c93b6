"""Shared test inputs and reference forms.

- ``HOSTILE_DOCS`` / :func:`hostile_docs`: a small documents table
  carrying what the generated testdata never does — NULL and empty
  text, whitespace-only and non-ASCII text, a NULL id, duplicate ids
  with different text, exact and near duplicates — buildable with
  nullable BIGINT, INT or STRING ids.
- :func:`band_keys_expr`: the Catalyst form of the LSH band-key
  derivation, the independent reference the Arrow kernel
  (``dedup._band_keys_py``) is pinned against.
- :func:`curation_chain`: the streaming curation body built from the
  public ops, one op per stage — the composition the fused
  single-pass ``curation_scored_stream`` must reproduce row for row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (doc_id, text, source) — ids 6 and the NULL id repeat on purpose
HOSTILE_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and the dog sleeps", "wiki"),
    (2, None, "web"),
    (3, "", "web"),
    (4, "   ", "web"),
    (5, "Tabs\tand\nnewlines!  MIXED?? 42", "wiki"),
    (6, "a b a b a b", "web"),
    (6, "x y y x x y zz aa zz aa", "web"),
    (7, "İstanbul ΑΣ École MIXED case 42 tokens", "wiki"),
    (None, "one two three four five six seven eight", "web"),
    (None, "solo solo solo", "wiki"),
    (8, "one two three four five six seven eight", "web"),
    (9, "one two three four five six seven nine", "wiki"),
    (10, "  Leading and trailing  ", "web"),
]


def hostile_docs(spark, id_type: str = "bigint") -> DataFrame:
    """``HOSTILE_DOCS`` as (doc_id <id_type>, text, source); a STRING
    id is the decimal form of the integer id."""
    if id_type == "string":
        rows = [(None if i is None else str(i), t, s) for i, t, s in HOSTILE_DOCS]
    else:
        rows = HOSTILE_DOCS
    return spark.createDataFrame(
        rows, f"doc_id {id_type}, text string, source string"
    )


def as_id_type(rows, id_type: str, id_cols=(0,)):
    """Expected rows (written with integer ids in positions
    ``id_cols``) in ``id_type`` form."""
    if id_type != "string":
        return rows
    return [
        tuple(
            (None if v is None else str(v)) if i in id_cols else v
            for i, v in enumerate(r)
        )
        for r in rows
    ]


def sort_rows(rows):
    """Order-insensitive comparison key for rows that may hold NULLs."""
    return sorted((tuple(r) for r in rows), key=repr)


def band_keys_expr(text: Column, n: int, k: int, rows_per_band: int) -> Column:
    """Catalyst array of LSH band-key strings ``"{band_idx}:{v}_{v}"``
    for one document, composed from the pair miner's own signature
    (``dedup._minhash_signature``). A document with fewer than ``n``
    words has no shingles, hence no signature: the array is EMPTY."""
    from clickhouse_etl_spark.dataops.dedup import (
        _band_geometry_check,
        _minhash_signature,
        _word_ngrams,
    )

    n_bands = _band_geometry_check(n, k, rows_per_band)
    t = F.coalesce(text, F.lit(""))
    sig = _minhash_signature(t, n, k)
    bands = [
        F.concat_ws(
            ":",
            F.lit(str(i)),
            F.concat_ws(
                "_",
                *[
                    sig[i * rows_per_band + j].cast("string")
                    for j in range(rows_per_band)
                ],
            ),
        )
        for i in range(n_bands)
    ]
    return F.when(F.size(_word_ngrams(t, n)) >= 1, F.array(*bands)).otherwise(
        F.expr("array()").cast("array<string>")
    )


def curation_chain(
    docs: DataFrame,
    bloom_path: str,
    weights_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    importance_path: "str | None" = None,
    decontam_path: "str | None" = None,
    decontam_n: "int | None" = None,
    neardup_path: "str | None" = None,
) -> DataFrame:
    """decontaminate_against_path → normalize_text →
    dedup_against_bloom_path → neardup_against_path →
    classify_against_path → importance_against_path, each stage the
    public op (optional stages only when their path is given)."""
    from clickhouse_etl_spark.dataops.dedup import (
        DECONTAM_NGRAM_N,
        decontaminate_against_path,
        dedup_against_bloom_path,
        neardup_against_path,
    )
    from clickhouse_etl_spark.dataops.text import (
        classify_against_path,
        importance_against_path,
        normalize_text,
    )

    if decontam_path is not None:
        docs = decontaminate_against_path(
            docs, decontam_path, n=decontam_n or DECONTAM_NGRAM_N,
            text_col=text_col,
        )
    out = normalize_text(docs, text_col=text_col, id_col=id_col)
    out = dedup_against_bloom_path(
        out, bloom_path, text_col="text_norm", id_col=id_col
    )
    if neardup_path is not None:
        out = neardup_against_path(out, neardup_path, text_col="text_norm")
    out = classify_against_path(
        out, weights_path, text_col="text_norm", id_col=id_col
    )
    if importance_path is not None:
        out = importance_against_path(
            out, importance_path, text_col="text_norm", id_col=id_col,
            tokens_col="iw_tokens", score_col="iw_score",
        )
    return out


def required_dataop_params(op: str) -> "tuple[str, ...]":
    """The config params a spec must set for dataop ``op``: the
    no-default parameters (after the frame) of the function the chain
    calls — what parse-time binding (spec/model.py) enforces."""
    import inspect

    from clickhouse_etl_spark.plans.compiler import resolve_dataop

    _frame, *params = inspect.signature(resolve_dataop(op)).parameters.values()
    return tuple(
        p.name for p in params
        if p.default is p.empty and p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
    )
