"""Probabilistic sampler — deterministic hash sampling (F4).

Reference: the upstream probabilisticsamplerprocessor (declared at
cmd/omnitelsvc/components.go:94) keeps a span iff a hash of its traceID
falls below the sampling-rate threshold — sampling is CONSISTENT per
trace, so whole conversations are kept or discarded together.

Spark-first: filter on the 16-bit md5(conv_id) prefix (F.conv, still
deterministic). Rates that are multiples of 1/16 cut on the first hex
digit, so a SQL oracle reproduces them exactly (0.25 ≡ digit < 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_conversations(df: DataFrame, rate: float) -> DataFrame:
    """Consistent per-conversation sampling: md5 16-bit prefix < rate * 65536."""
    if not 0 <= rate <= 1:
        raise ValueError("rate in [0,1]")
    threshold = int(rate * 65536)
    prefix16 = F.conv(F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 4), 16, 10).cast("bigint")
    return df.filter(prefix16 < threshold)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dataset-mixing sampler: per-stratum keep rates, deterministic per
    id (md5 16-bit prefix < rate·65536 — same consistent-hash family as
    the conversation sampler). rates maps stratum value → rate in [0,1];
    the '_default' key covers unlisted strata. Rows, not an aggregate,
    so downstream stages compose."""
    prefix16 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 4),
        16,
        10,
    ).cast("bigint")
    default_thr = int(rates.get("_default", 1.0) * 65536)
    expr = None
    for stratum, rate in sorted(rates.items()):
        if stratum == "_default":
            continue
        cond = F.col(stratum_col) == stratum
        thr = int(rate * 65536)
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    threshold = expr.otherwise(default_thr) if expr is not None else F.lit(default_thr)
    return df.filter(prefix16 < threshold)


WRS_HEX_CHARS = 12  # 48-bit uniform: fits a BIGINT, ample entropy


def _u48(id_col: str) -> F.Column:
    """Deterministic uniform in (0,1): 48-bit md5 prefix of the id.

    (v + 0.5) / 2^48 keeps u strictly inside (0,1) so ln(u) is finite.
    """
    v = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, WRS_HEX_CHARS),
        16,
        10,
    ).cast("bigint")
    return (v.cast("double") + F.lit(0.5)) / F.lit(float(1 << 48))


def weighted_reservoir_sample(
    df: DataFrame,
    k: int,
    weight_col: str | F.Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement — Efraimidis–Spirakis A-ES.

    Each row gets key = ln(u)/w (u a deterministic per-id uniform,
    w > 0); the k largest keys are the sample — equivalent to ranking by
    u^(1/w) but without pow. P(i in sample) is proportional-to-size
    without replacement, and the whole thing is one expression + a
    distributed top-k (Catalyst's TakeOrderedAndProject: map-side
    partial top-k per partition, merge of k·n_partitions candidates) —
    no shuffle of the full table, no driver-side data.

    Deterministic across replays/parallelism (hash-derived u, total
    order ties broken by id). Output: the sampled input rows.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    key = F.log(_u48(id_col)) / w.cast("double")
    return (
        df.withColumn("_wrs_key", key)
        .orderBy(F.col("_wrs_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_wrs_key")
    )


def u48_sql(id_expr: str) -> str:
    """DuckDB twin of _u48: 48-bit hex-prefix of md5 via nibble arithmetic
    (DuckDB has no conv()), then (v + 0.5) / 2^48."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(CAST({id_expr} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (WRS_HEX_CHARS - 1 - i)}"
        for i in range(WRS_HEX_CHARS)
    )
    return f"(({terms}) + 0.5) / {float(1 << 48)!r}"


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def leakage_safe_split(
    key: F.Column,
    weights: dict[str, float] | None = None,
) -> F.Column:
    """Train/val/test fold label from a consistent hash of `key`.

    Leakage safety comes from CHOOSING the key: hash the duplicate-group
    fingerprint, not the row id, and every duplicate of a document lands
    in the SAME fold — the split a contamination-aware pipeline needs.
    Weights are cumulative 16-bit thresholds, deterministic across
    replays; the dict renders into the SQL twin (split_case_sql) —
    single source of truth.
    """
    weights = weights or SPLIT_WEIGHTS
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    p16 = F.conv(F.substring(F.md5(key.cast("binary")), 1, 4), 16, 10).cast("bigint")
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        thr = int(acc * 65536)
        expr = F.when(p16 < thr, name) if expr is None else expr.when(p16 < thr, name)
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def split_case_sql(key_sql: str, weights: dict[str, float] | None = None) -> str:
    """DuckDB twin of leakage_safe_split (same thresholds, same md5 p16)."""
    weights = weights or SPLIT_WEIGHTS
    p16 = (
        f"((instr('0123456789abcdef', substr(md5({key_sql}), 1, 1)) - 1) * 4096"
        f" + (instr('0123456789abcdef', substr(md5({key_sql}), 2, 1)) - 1) * 256"
        f" + (instr('0123456789abcdef', substr(md5({key_sql}), 3, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr(md5({key_sql}), 4, 1)) - 1))"
    )
    items = list(weights.items())
    acc = 0.0
    whens = []
    for name, w in items[:-1]:
        acc += w
        whens.append(f"WHEN {p16} < {int(acc * 65536)} THEN '{name}'")
    return f"CASE {' '.join(whens)} ELSE '{items[-1][0]}' END"


def stratified_threshold_sql(
    rates: dict[str, float], stratum_col: str = "source"
) -> str:
    """SQL twin of stratified_sample's threshold CASE (same dict)."""
    whens = " ".join(
        f"WHEN '{s}' THEN {int(r * 65536)}"
        for s, r in sorted(rates.items())
        if s != "_default"
    )
    default_thr = int(rates.get("_default", 1.0) * 65536)
    return f"CASE {stratum_col} {whens} ELSE {default_thr} END"


# Target mixture weights (relative, normalized over OBSERVED strata;
# "_default" covers unlisted sources). Single source of truth — renders
# into the Spark plan AND the DuckDB oracle (mixture_weight_case_sql).
DEFAULT_TARGET_WEIGHTS = {"src0": 4.0, "src1": 2.0, "_default": 1.0}


def _weight_col(weights: dict[str, float], stratum_col: str):
    from pyspark.sql import functions as F

    expr = None
    for name in sorted(k for k in weights if k != "_default"):
        w = F.lit(float(weights[name]))
        cond = F.col(stratum_col) == name
        expr = F.when(cond, w) if expr is None else expr.when(cond, w)
    default = F.lit(float(weights.get("_default", 0.0)))
    return (default if expr is None else expr.otherwise(default)).cast(
        "decimal(18,6)"
    )


def mixture_weight_case_sql(
    weights: dict[str, float], stratum_col: str = "source"
) -> str:
    """SQL twin of _weight_col (same dict, DECIMAL(18,6) both engines —
    the weight SUM must be order-free for the bit-exact oracle)."""
    whens = " ".join(
        f"WHEN '{s}' THEN {float(w)!r}"
        for s, w in sorted(weights.items())
        if s != "_default"
    )
    default = float(weights.get("_default", 0.0))
    return (
        f"CAST(CASE {stratum_col} {whens} ELSE {default!r} END AS DECIMAL(18,6))"
    )


def mixture_weights(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-mixing rate solver: given relative target weights per source
    (DoReMi/Pile-style domain mixing), compute the per-source sampling
    rate that realizes the target TOKEN shares without upsampling — the
    binding source (largest target-to-actual ratio) keeps everything
    (rate 1), every other source downsamples proportionally. Feed the
    rates to stratified_sample for the actual consistent-hash pass.

    rate_s = raw_s / max_t raw_t,  raw_s = target_share_s / token_share_s

    Determinism discipline: token totals are integer sums (exact, any
    partial-agg order); target weights accumulate as DECIMAL(18,6)
    (order-free) and convert to double only for the final divisions,
    which run in the same operand order on both engines — the oracle
    hash is independent of partition count. Scale shape: one map-side-
    combinable groupBy(source) → a strata-bounded table; every window
    below runs over ≤|strata| rows (never data-sized).

    Output: source, n_docs, tokens, token_share, weight, target_share,
    rate, expected_tokens. Oracle: __spark_entry__._mixture_weights_sql.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.text import token_count

    weights = weights or DEFAULT_TARGET_WEIGHTS
    per = docs.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(text_col)).alias("tokens"),
    )
    w_all = Window.partitionBy()
    per = per.withColumn("weight", _weight_col(weights, stratum_col))
    per = per.withColumn(
        "token_share",
        F.col("tokens") / F.sum("tokens").over(w_all),
    ).withColumn(
        "target_share",
        F.col("weight").cast("double")
        / F.sum("weight").over(w_all).cast("double"),
    )
    raw = F.when(
        F.col("tokens") > 0, F.col("target_share") / F.col("token_share")
    ).otherwise(F.lit(0.0))
    per = per.withColumn("raw", raw)
    rate = F.col("raw") / F.max("raw").over(w_all)
    # fixed output name 'source' regardless of stratum_col: the SQL twin
    # hardcodes that alias, and the driver hashes values sorted by
    # column name (ADVICE r6). No-op under the default
    # stratum_col="source".
    return per.select(
        F.col(stratum_col).alias("source"),
        "n_docs",
        "tokens",
        "token_share",
        F.col("weight").cast("double").alias("weight"),
        "target_share",
        rate.alias("rate"),
        (F.col("tokens") * rate).alias("expected_tokens"),
    )


# Temperature-based mixture smoothing (Conneau & Lample 2019 §3.1 /
# T5, Raffel et al. 2020 §3.4.3 "temperature-scaled mixing"):
# smoothed_share_s ∝ tokens_s^(1/T). T=1 keeps natural proportions,
# T→∞ is uniform; T=2 is a published operating point and the ONE
# exponent whose power is IEEE-correctly-rounded in both engines
# (sqrt) — the driver query runs T=2 so its oracle is bit-exact.
# General T uses pow(), which measured equal to DuckDB on most inputs
# but differs in the last ulp on some (NOT hash-safe; documented).
MIXTURE_TEMPERATURE = 2.0


def temperature_mixture(
    docs: DataFrame,
    temperature: float = MIXTURE_TEMPERATURE,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source sampling rates that realize TEMPERATURE-SMOOTHED token
    shares — mixture_weights with the target derived from the corpus
    itself instead of an external weights table: low-resource sources
    gain share, high-resource sources shrink, the multilingual/
    multi-domain upsampling policy every large pretraining mix uses.

    rate_s = raw_s / max_t raw_t with raw_s = smoothed_share_s /
    token_share_s — the binding source keeps everything (rate 1),
    everything else downsamples proportionally (no upsampling, the
    mixture_weights contract; epochs-per-source beyond 1 is a
    data-loader concern).

    Scale shape: ONE map-side-combinable groupBy(source) over the
    pruned corpus scan; every window below runs on the strata-bounded
    table (never data-sized). Integer token sums are exact under any
    partial-agg order; the share divisions run in the same operand
    order on both engines.

    Output: source, n_docs, tokens, token_share, smoothed_share, rate,
    expected_tokens.
    """
    from pyspark.sql import Window

    from ..functions.text import token_count

    per = docs.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(text_col)).alias("tokens"),
    )
    t = F.col("tokens").cast("double")
    smoothed = (
        F.sqrt(t)
        if float(temperature) == 2.0
        else F.pow(t, F.lit(1.0 / float(temperature)))
    )
    w_all = Window.partitionBy()
    per = per.withColumn("_sm", smoothed)
    # the smoothed-mass total is a sum of DOUBLES (sqrt outputs) — raw
    # double summation is partial-agg-order-dependent, so accumulate
    # DECIMAL(28,12) (order-free) and divide as double; integer token
    # sums are exact as-is
    sm_total = (
        F.sum(F.col("_sm").cast("decimal(28,12)")).over(w_all).cast("double")
    )
    per = per.withColumn(
        "token_share", F.col("tokens") / F.sum("tokens").over(w_all)
    ).withColumn("smoothed_share", F.col("_sm") / sm_total)
    raw = F.when(
        F.col("tokens") > 0,
        F.col("smoothed_share") / F.col("token_share"),
    ).otherwise(F.lit(0.0))
    per = per.withColumn("raw", raw)
    rate = F.col("raw") / F.max("raw").over(w_all)
    # fixed output name 'source' regardless of stratum_col — the SQL
    # twin hardcodes the alias (ADVICE r6; no-op under the default)
    return per.select(
        F.col(stratum_col).alias("source"),
        "n_docs",
        "tokens",
        "token_share",
        "smoothed_share",
        rate.alias("rate"),
        (F.col("tokens") * rate).alias("expected_tokens"),
    )


def temperature_mixture_sql(
    temperature: float = MIXTURE_TEMPERATURE,
    table: str = "documents",
    stratum_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of temperature_mixture (same aggregate/window/share
    op order; sqrt path at T=2 is bit-exact, pow path is near-parity)."""
    from ..functions.text import TOKEN_COUNT_SQL

    tc = TOKEN_COUNT_SQL.format(col=text_col)
    sm = (
        "sqrt(CAST(tokens AS DOUBLE))"
        if float(temperature) == 2.0
        else f"pow(CAST(tokens AS DOUBLE), CAST({1.0 / float(temperature)!r} AS DOUBLE))"
    )
    return f"""
WITH per AS (
  SELECT {stratum_col} AS source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({tc}) AS BIGINT) AS tokens
  FROM {table} GROUP BY {stratum_col}
), sm AS (
  SELECT *, {sm} AS _sm FROM per
), shares AS (
  SELECT source, n_docs, tokens,
         tokens / sum(tokens) OVER () AS token_share,
         _sm / CAST(sum(CAST(_sm AS DECIMAL(28,12))) OVER () AS DOUBLE) AS smoothed_share
  FROM sm
), rawed AS (
  SELECT *, CASE WHEN tokens > 0 THEN smoothed_share / token_share
                 ELSE CAST(0.0 AS DOUBLE) END AS raw
  FROM shares
)
SELECT source, n_docs, tokens, token_share, smoothed_share,
       raw / max(raw) OVER () AS rate,
       tokens * (raw / max(raw) OVER ()) AS expected_tokens
FROM rawed"""
