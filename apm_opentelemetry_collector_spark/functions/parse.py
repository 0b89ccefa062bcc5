"""Turn-text parsing — the receiver/span-processor analog.

The reference's receivers deserialize protobuf into typed span fields
(receiver/opencensusreceiver/octrace/opencensus.go:167-172) and the
attributes/span processors rewrite them (cmd/omnitelsvc/components.go:89-90).
Our engine's equivalent is grok/regex extraction of structured attributes
from each turn's free text (north_star): severity marker, tool_call(name,
arg) fragment, and trailing key=value pairs.

Two interchangeable implementations, equality-tested in pytest
(tests/test_operators.py). They differ in call convention only:
``parse_cols`` takes a column NAME, ``parse_pandas_udf`` a Column.

  - ``parse_cols(name)`` — one SQL expression (regexp_extract) over the
    text column NAMED by its argument, JVM-side inside whole-stage
    codegen. THE DEFAULT hot path: zero Python, zero Arrow transfer. Its
    regexes are embedded as SQL string literals, which assumes
    ``spark.sql.parser.escapedStringLiterals=false`` (pinned by
    session.get_spark).
  - ``parse_pandas_udf`` — a vectorized Arrow/pandas UDF performing the
    same grok with Python's re. The designated escape hatch for grok
    patterns Spark's regexp engine can't express; also demonstrates the
    north_star's "vectorized pandas/Arrow UDFs, no per-row Python" rule
    (it compiles to ArrowEvalPython, never BatchEvalPython).

Both return a struct column:
    parsed: {severity string, tool_call_name string, tool_call_arg string,
             kv map<string,string>}
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEVERITY_RE = r"\[(INFO|WARN|ERROR)\]"
TOOL_CALL_RE = r"tool_call\(name=([A-Za-z0-9_-]+), arg=([A-Za-z0-9_-]+)\)"
# A key never starts inside a word: without the lookbehind every start
# position in a run of word characters rescans the run to its end looking
# for '=', which is quadratic in the run's length.
KV_RE = r"(?<![A-Za-z0-9_])([A-Za-z_][A-Za-z0-9_]*)=([A-Za-z0-9_.-]+)"

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("severity", T.StringType(), True),
        T.StructField("tool_call_name", T.StringType(), True),
        T.StructField("tool_call_arg", T.StringType(), True),
        T.StructField("kv", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _sql_str(s: str) -> str:
    """Escape a Python string into a Spark SQL single-quoted literal that
    round-trips to the same runtime string (backslashes doubled for the
    parser's escape pass, quotes escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def parse_cols(text: str) -> Column:
    """SQL-expression grok of the text column named `text` → parsed struct.

    Takes a column NAME, not a Column (TypeError otherwise): the
    expression is built as a SQL string. kv extraction uses regexp_extract_all + str_to_map-style assembly,
    all JVM-side. tool_call's own name=/arg= tokens are inside parens and
    excluded from kv by stripping the fragment first. Built as one parsed
    SQL-expr string (r7): the Column spelling cost ~0.1 s of py4j round
    trips per pipeline construction; the parsed expression tree is
    identical (equality-tested against the Arrow twin and the oracles).
    """
    if not isinstance(text, str):
        raise TypeError("parse_cols takes a column name, not a Column")
    c = f"`{text}`"
    sev_re, tc_re, kv_re = map(_sql_str, (SEVERITY_RE, TOOL_CALL_RE, KV_RE))
    pairs = f"regexp_extract_all(regexp_replace({c}, {tc_re}, ''), {kv_re}, 0)"

    def nz(expr: str) -> str:
        return f"CASE WHEN {expr} = '' THEN CAST(NULL AS STRING) ELSE {expr} END"

    return F.expr(
        "struct("
        f"{nz(f'regexp_extract({c}, {sev_re}, 1)')} AS severity, "
        f"{nz(f'regexp_extract({c}, {tc_re}, 1)')} AS tool_call_name, "
        f"{nz(f'regexp_extract({c}, {tc_re}, 2)')} AS tool_call_arg, "
        f"map_from_arrays(transform({pairs}, p -> split(p, '=')[0]), "
        f"transform({pairs}, p -> split(p, '=')[1])) AS kv)"
    )


_SEV = re.compile(SEVERITY_RE)
_TC = re.compile(TOOL_CALL_RE)
_KV = re.compile(KV_RE)


@F.pandas_udf(PARSED_SCHEMA)
def parse_pandas_udf(text: pd.Series) -> pd.DataFrame:
    """Vectorized Arrow grok twin of parse_cols (ArrowEvalPython plan node)."""
    sev, tcn, tca, kvs = [], [], [], []
    for t in text:
        if t is None:
            sev.append(None), tcn.append(None), tca.append(None), kvs.append(None)
            continue
        m = _SEV.search(t)
        sev.append(m.group(1) if m else None)
        mt = _TC.search(t)
        tcn.append(mt.group(1) if mt else None)
        tca.append(mt.group(2) if mt else None)
        stripped = _TC.sub("", t)
        kvs.append({k: v for k, v in _KV.findall(stripped)})
    return pd.DataFrame(
        {"severity": sev, "tool_call_name": tcn, "tool_call_arg": tca, "kv": kvs}
    )


def with_parsed(df: DataFrame) -> DataFrame:
    """Attach the parsed struct column (P1, SURVEY.md §2.2)."""
    return df.withColumn("parsed", parse_cols("text"))
