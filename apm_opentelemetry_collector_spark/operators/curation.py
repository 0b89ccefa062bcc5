"""End-to-end curation funnel: the published cleaning stack as ONE job.

Real curation pipelines don't run one filter — they run C4 line
cleaning, then Gopher quality rules, then exact dedup, and report the
per-source survival funnel plus the token budget that comes out the
other end (C4 §2.2 → Gopher App. A1 → the keep-one exact-dup rule every
stack applies before fuzzy dedup). This module composes the repo's
already-oracled operators (functions/text.c4_line_filters,
functions/text.gopher_quality, the md5 normalized-text fingerprint)
into that funnel, and composes their SQL GENERATORS the same way for
the DuckDB twin — the rule logic has exactly one source of truth; this
module adds only the staging and the final aggregate.

Reference storage contract analog: none (beyond the reference —
training-data curation surface).

100 TB shape: the corpus is scanned as pure projections (every stage
filter is doc-local — zero shuffles until the dedup stage); the dedup
shuffle carries ONLY (fingerprint, doc_id, source, n_tokens) — never
text; winner selection is a single hash aggregate (min over a scalar
struct keyed by the unique doc_id — no window sort, no join-back); the
funnel aggregates are map-side-combinable counts on the handful of
source keys. The projection is recomputed for the funnel and winner
branches — two scans, each column-pruned, is cheaper at corpus scale
than materializing a corpus-sized intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as textfn
from ..functions.text import TOKEN_COUNT_SQL, fingerprint, token_count

# Deterministic "lining" for the single-line synthetic corpus (the
# c4_line_filters driver-query construction, plus a template branch so
# the exact-dedup stage has real work): docs with doc_id % TPL_MOD == 0
# replace their body with the SHARED template, so their cleaned texts
# collapse into a handful of duplicate classes (one per surviving
# line-4 length) and only the smallest doc_id in each survives the
# dedup stage. Constants feed BOTH engines.
CURATION_TPL_MOD = 10
# the synthetic corpus is stopword-poor token soup (only "the" appears),
# which would zero the Gopher stopword rule for every doc; the lining
# appends this connective tail to the body line so the stopword rule
# tests presence rather than vocabulary luck (word-count remains the
# varying gopher gate)
CURATION_STOP_TAIL = " and that of it be done with care"
CURATION_TEMPLATE = (
    "the shared onboarding template that every mirrored site pastes "
    "above its listings and that the pipeline must collapse to a "
    "single copy before training because repeated boilerplate of this "
    "kind is known to damage model quality and waste the token budget "
    "of the run while adding nothing new for the model to learn from "
    "and it ends with a proper sentence so the line rules keep it."
)


def curation_lined(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    template: str | None = CURATION_TEMPLATE,
    stop_tail: str = CURATION_STOP_TAIL,
) -> DataFrame:
    """4-line doc per row (full body; 2-word stub; front half; a
    (doc_id%8)+2-word leading slice — each period-terminated), with the
    body swapped for `template` on doc_id % 10 == 0 and `stop_tail`
    appended to the body line. This is the ONE lining construction the
    driver queries share (q_c4_line_filters uses template=None,
    stop_tail="" — the plain C4 fixture shape; curation_funnel uses the
    defaults so its dedup/stopword stages have real work); the SQL twin
    below renders the SAME branches, so the parity-critical arithmetic
    lives in exactly one Spark/SQL pair."""
    did = F.col(id_col)
    body = (
        F.when(did % CURATION_TPL_MOD == 0, F.lit(template)).otherwise(
            F.col(text_col)
        )
        if template is not None
        else F.col(text_col)
    )
    lined = F.concat(
        body,
        F.lit(stop_tail + ".\na b.\n"),
        F.expr(
            "substring(body, 1, CAST(length(body) AS BIGINT) DIV 2)"
        ),
        F.lit(".\n"),
        F.array_join(
            F.slice(F.split(body, " "), F.lit(1), (did % 8 + 2).cast("int")),
            " ",
        ),
        F.lit("."),
    )
    return docs.withColumn("body", body).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        lined.alias("text"),
    )


def curation_lined_cte(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    template: str | None = CURATION_TEMPLATE,
    stop_tail: str = CURATION_STOP_TAIL,
) -> str:
    """DuckDB pre-CTE twin of curation_lined (same constants/branches)."""
    # template/stop_tail are interpolated into SQL string literals below
    # — a quote would silently generate a broken oracle. The frozen
    # constants are quote-free; fail LOUDLY if a future edit changes
    # that instead of emitting invalid SQL (ADVICE r6).
    for name, s in (("template", template), ("stop_tail", stop_tail)):
        if s is not None and "'" in s:
            raise ValueError(
                f"curation_lined_cte: {name} contains a single quote, "
                "which would break the generated oracle SQL literal"
            )
    if template is not None:
        src = (
            f"(SELECT *, CASE WHEN {id_col} % {CURATION_TPL_MOD} = 0"
            f" THEN '{template}' ELSE {text_col} END AS body"
            f" FROM {table})"
        )
        body = "body"
    else:
        src = table
        body = text_col
    return (
        f"lined AS (SELECT {id_col} AS doc_id, {source_col} AS source,"
        f" {body} || '{stop_tail}.' || chr(10) || 'a b.' || chr(10)"
        f" || substr({body}, 1, length({body}) // 2) || '.' || chr(10)"
        f" || array_to_string(string_split({body}, ' ')"
        f"[1:CAST({id_col} % 8 AS INT) + 2], ' ') || '.' AS text"
        f" FROM {src})"
    )


def curation_funnel(docs: DataFrame) -> DataFrame:
    """Per-source survival funnel of the composed curation stack over a
    (doc_id, source, text) corpus:

      stage 1  C4 line filters (Raffel et al. 2020 §2.2) — line-level
               rewrite + doc keep;
      stage 2  Gopher quality rules (Rae et al. 2021 App. A1.1) scored
               on the C4-CLEANED text — the order real stacks use;
      stage 3  exact dedup on the cleaned text's normalized md5
               fingerprint, keep the smallest doc_id per class.

    Output, one row per source: n_raw, n_after_c4, n_after_gopher,
    n_after_dedup, tokens_kept (whitespace tokens over the surviving
    cleaned texts — the number a data-mixing plan actually consumes).
    """
    c4 = textfn.c4_line_filters(
        docs, id_cols=("doc_id", "source")
    ).withColumnRenamed("keep", "keep_c4")
    gq = textfn.gopher_quality(
        c4,
        text_col="cleaned_text",
        id_cols=("doc_id", "source", "keep_c4", "cleaned_text"),
        spread=False,  # composed mid-pipeline: the extra exchange loses here
    )
    per_doc = gq.select(
        "doc_id",
        "source",
        "keep_c4",
        (F.col("keep_c4") & F.col("keep")).alias("keep_both"),
        fingerprint("cleaned_text").alias("fp"),
        token_count("cleaned_text").cast("bigint").alias("n_tokens"),
    )
    funnel = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.sum(F.col("keep_c4").cast("bigint")).cast("bigint").alias(
            "n_after_c4"
        ),
        F.sum(F.col("keep_both").cast("bigint")).cast("bigint").alias(
            "n_after_gopher"
        ),
    )
    # keep-first winner per duplicate class as ONE aggregate: min_by on
    # the unique doc_id is argmin with no window and no join-back. The
    # string payload makes this a SortAggregate (string/struct buffers
    # aren't hash-aggregable); the sort is per-partition on the fp
    # exchange the dedup needs anyway, cheaper at scale than the
    # join-back that a hash-only min(doc_id) would buy
    winners = (
        per_doc.filter("keep_both")
        .groupBy("fp")
        .agg(
            F.min_by("source", "doc_id").alias("source"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .select("source", "n_tokens")
    )
    wagg = winners.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_after_dedup"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
    )
    zero = F.lit(0).cast("bigint")
    return funnel.join(wagg, "source", "left").select(
        "source",
        "n_raw",
        "n_after_c4",
        "n_after_gopher",
        F.coalesce("n_after_dedup", zero).alias("n_after_dedup"),
        F.coalesce("tokens_kept", zero).alias("tokens_kept"),
    )


def curation_funnel_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB twin of curation_lined + curation_funnel: the c4 and
    gopher stages are the EXISTING generators' SQL verbatim (nested
    WITH subqueries, `source` threaded through their id_col slot), so
    the rule logic stays single-source; only the staging/aggregate SQL
    lives here. Winner-per-class uses row_number ordered by the unique
    doc_id — identical to the Spark struct-min."""
    lined = curation_lined_cte(table, text_col, id_col, source_col)
    c4 = textfn.c4_line_filters_sql(table="lined", id_col="doc_id, source")
    gq = textfn.gopher_quality_sql(
        table="c4", id_col="doc_id, source, keep_c4, cleaned_text",
        col="cleaned_text",
    )
    tc = TOKEN_COUNT_SQL.format(col="cleaned_text")
    return f"""
WITH {lined},
c4 AS (
  SELECT doc_id, source, cleaned_text, keep AS keep_c4
  FROM ({c4})
), gq AS (
  SELECT * FROM ({gq})
), per_doc AS (
  SELECT doc_id, source, keep_c4, (keep_c4 AND keep) AS keep_both,
         md5(trim(regexp_replace(lower(cleaned_text), '\\s+', ' ', 'g'))) AS fp,
         CAST({tc} AS BIGINT) AS n_tokens
  FROM gq
), funnel AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_raw,
         CAST(sum(CASE WHEN keep_c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_c4,
         CAST(sum(CASE WHEN keep_both THEN 1 ELSE 0 END) AS BIGINT) AS n_after_gopher
  FROM per_doc GROUP BY source
), winners AS (
  SELECT source, n_tokens
  FROM (SELECT source, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM per_doc WHERE keep_both)
  WHERE rn = 1
), wagg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_after_dedup,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
  FROM winners GROUP BY source
)
SELECT f.source, f.n_raw, f.n_after_c4, f.n_after_gopher,
       coalesce(w.n_after_dedup, 0) AS n_after_dedup,
       coalesce(w.tokens_kept, 0) AS tokens_kept
FROM funnel f LEFT JOIN wagg w USING (source)"""
