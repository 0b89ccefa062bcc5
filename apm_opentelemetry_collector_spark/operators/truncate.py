"""XL-span truncation — oversized-payload handling.

Reference (exporter/omnishard/shard_encoder.go:231-272, defaults
factory.go:35, goldens encoder_test.go:243-319): a span whose encoded size
exceeds MaxAllowedSizePerSpan has its Tags replaced by three marker tags
(omnition.truncated / .reason / .size) and Logs cleared, then is
re-encoded; if STILL too big (the irreducible part — operation name — is
oversized) it is dropped with ErrEncodingFailed → FatalEncodingError.

Transcript analog: `text` is the payload. Oversized text is truncated to
a marker + prefix; if even the irreducible row (empty text) would exceed
the cap — modeled as the cap being smaller than the marker — the row is
dropped. Pure Column expressions; `octet_length` is the size probe (the
reference's double-marshal size probe, fixed by construction —
SURVEY.md §4 'double-marshal inefficiency').
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DROP_FATAL_ENCODING, PipelineConfig
from .route import outcome_exprs, passthrough

TRUNC_MARKER = "[TRUNCATED reason=max_span_size size="


def truncate_oversize(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Adds `truncated` bool; rewrites oversized text; flags fatal drops.

    Output columns: text (possibly rewritten), truncated bool,
    drop_reason (FatalEncodingError when dropped), outcome (dropped when
    dropped, else NULL). A row already dropped upstream keeps its outcome.
    """
    cfg = cfg or PipelineConfig()
    # One selectExpr instead of four withColumns (r7: each withColumn is a
    # full projection rebuild over py4j; the strings parse in one round
    # trip — run_pipeline constructs this per job submission). Semantics
    # unchanged: the rewritten row must FIT the cap — marker + first
    # `keep` bytes (reference re-encodes after truncation and checks the
    # size again, shard_encoder.go:254-266); keep < 0 → even the marker
    # alone is over the cap → irreducible → drop (ErrEncodingFailed
    # analog). Column order matches the withColumn form: originals with
    # text rewritten in place, then truncated / drop_reason / outcome.
    # The marker is ASCII, so its byte length is arithmetic: no marker is
    # built just to be measured.
    cap = int(cfg.max_span_size)
    size = "CAST(octet_length(text) AS STRING)"
    marker = f"concat('{TRUNC_MARKER}', {size}, '] ')"
    keep = f"CAST({cap - len(TRUNC_MARKER) - 2} - length({size}) AS INT)"
    over = f"(octet_length(text) > {cap})"
    fatal = f"({over} AND {keep} < 0)"
    trunc = f"({over} AND NOT {fatal})"
    cols = [
        c
        if c != "`text`"
        else (
            f"CASE WHEN {trunc} THEN concat({marker}, "
            f"{_utf8_prefix('text', f'greatest({keep}, 0)')}) ELSE text END AS text"
        )
        for c in passthrough(df, ("truncated", "drop_reason", "outcome"))
    ]
    outcome, drop_reason = outcome_exprs(
        df, fatal, DROP_FATAL_ENCODING, "CAST(NULL AS STRING)"
    )
    return df.selectExpr(*cols, f"{trunc} AS truncated", drop_reason, outcome)


def _utf8_prefix(text: str, n_bytes: str) -> str:
    """SQL for the longest prefix of `text` whose UTF-8 encoding fits in
    `n_bytes` bytes. Cutting `n_bytes` characters would overshoot the
    budget on multibyte text, so the bytes are cut instead, backing off
    (at most 3 bytes) while the first dropped byte is a continuation
    byte (0b10xxxxxx): no character is split. On ASCII text this equals
    substring(text, 1, n_bytes)."""
    b = f"CAST({text} AS BINARY)"

    def cont(pos: str) -> str:
        byte = f"substring({b}, {pos}, 1)"
        return f"({byte} >= X'80' AND {byte} < X'C0')"

    k = n_bytes
    cut = (
        f"CASE WHEN NOT {cont(f'{k} + 1')} THEN {k} "
        f"WHEN NOT {cont(k)} THEN {k} - 1 "
        f"WHEN NOT {cont(f'{k} - 1')} THEN {k} - 2 "
        f"ELSE {k} - 3 END"
    )
    return f"CAST(substring({b}, 1, {cut}) AS STRING)"
