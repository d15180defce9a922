"""Vectorized HTML -> text extraction (the byte-identical invariant).

This is the engine's `dx_groovy` slot — the reference's arbitrary per-record
UDF escape hatch (core/src/main/java/com/alibaba/datax/core/transport/
transformer/GroovyTransformer.java:25-88) — done the Arrow way: a pandas_udf
over the binary ``html`` column, batch-transferred, no per-row Python UDF calls
(BASELINE input_hint requires vectorized pandas/Arrow UDFs throughout).

The extraction is deterministic and encoding-pinned (UTF-8, mirrors the
reference pinning encodings centrally in ColumnCast,
common/src/main/java/com/alibaba/datax/common/element/ColumnCast.java:42-60):
    text = title + "\\n" + body with tags stripped, whitespace collapsed,
           no leading/trailing whitespace.
The same pandas implementation backs the replay oracle, and unit tests pin
exact expected strings so both can't drift together unnoticed.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType

_TITLE_RE = r"<title[^>]*>(.*?)</title>"
_BODY_RE = r"<body[^>]*>(.*?)</body>"
_TAG_RE = r"<[^>]+>"
_WS_RE = r"\s+"

# Guarded RE2 fast path (round-7 optimization, guide §4.2): the reference
# extraction is 6 pandas .str regex passes = ~13 us/row of per-row Python
# `re` — the single largest CPU sink of the whole CDC replay (2M-row batch =
# 26.6 core-s). For rows that provably cannot exercise any of the general
# rules' edge cases, a single anchored RE2 extract plus trims computes the
# byte-identical answer in ~2.5 us/row. A row takes the fast path ONLY when
# ALL of these hold (each implies the corresponding slow-path op is the
# identity or is reproduced exactly):
#   * the whole string is ASCII            => Python's unicode \s == RE2's \s,
#     and str.strip() trims the same chars as ascii_trim_whitespace;
#   * it matches the anchored structural pattern below, whose captures are
#     runs of non-'<' non-whitespace tokens separated by SINGLE spaces =>
#     the captures are exactly what re.search finds for _TITLE_RE/_BODY_RE
#     (the first "<title"/"<body" are the structural tags, the captures
#     contain no '<' so the first closing tag ends each lazy match and
#     _TAG_RE has nothing to replace), no whitespace other than single
#     interior spaces exists anywhere (the tags are literals), so the \s+
#     collapse and the strips are the identity, and '.' never has to cross
#     a newline, so the lazy matches are exact.
# Everything else — including null html, invalid UTF-8, truncated or foreign
# documents — falls back to the original pandas implementation, unchanged.
# Byte-identity is pinned by tests/test_cdc_gen_extract.py and the replay
# e2e suite, plus a 2M-row generator-space differential check (round 7).
_FAST_WS = r" \t\n\x0b\x0c\r"
_FAST_CONTENT = rf"(?:[^<{_FAST_WS}]+(?: [^<{_FAST_WS}]+)*)?"
_FAST_STRUCT_RE = (
    rf"^<html><head><title>(?P<t>{_FAST_CONTENT})</title></head>"
    rf"<body>(?P<b>{_FAST_CONTENT})</body></html>$"
)


def _extract_text_pd_slow(html: pd.Series) -> pd.Series:
    """The reference implementation — general, per-row Python `re`."""
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)
    s = pd.Series(s, dtype="object")
    title = s.str.extract(_TITLE_RE, expand=False).fillna("")
    body = s.str.extract(_BODY_RE, expand=False).fillna("")
    body = (
        body.str.replace(_TAG_RE, " ", regex=True)
        .str.replace(_WS_RE, " ", regex=True)
        .str.strip()
    )
    title = (
        title.str.replace(_TAG_RE, " ", regex=True)
        .str.replace(_WS_RE, " ", regex=True)
        .str.strip()
    )
    out = (title + "\n" + body).str.strip()
    out[s.isna()] = None
    return out


def extract_text_arrow(arr):
    """Arrow-native extraction over a pa.Array of html bytes (round 7).

    Same guarded fast path as :func:`extract_text_pd`, but input AND output
    stay Arrow — zero pandas-object materialization for conforming rows
    (the replay writer stage feeds whole record batches through here).
    Nonconforming rows (non-ASCII, foreign structure, invalid UTF-8) fall
    back to the reference pandas implementation for just those rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(arr) == 0:
        return pa.array([], type=pa.string())
    try:
        s = arr.cast(pa.string())  # raises on invalid UTF-8 -> full fallback
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        return pa.Array.from_pandas(
            _extract_text_pd_slow(arr.to_pandas()), type=pa.string())
    st = pc.extract_regex(s, pattern=_FAST_STRUCT_RE)
    ok = pc.and_kleene(pc.is_valid(st), pc.string_is_ascii(s))
    ok_np = pc.fill_null(ok, False).to_numpy(zero_copy_only=False)
    null_np = pc.is_null(arr).to_numpy(zero_copy_only=False)
    title = pc.fill_null(pc.struct_field(st, 0), "")
    body = pc.fill_null(pc.struct_field(st, 1), "")
    # captures cannot carry leading/trailing whitespace (pattern), so the
    # only strip with any effect is the final one around the "\n" join when
    # either side is empty — ascii trim == str.strip() on ASCII-only input
    joined = pc.ascii_trim_whitespace(
        pc.binary_join_element_wise(title, body, "\n"))
    slow_np = ~(ok_np | null_np)
    if not slow_np.any():
        return pc.if_else(pa.array(null_np), pa.scalar(None, pa.string()),
                          joined)
    # rare path: patch slow rows through the reference implementation
    out = joined.to_pandas().astype("object")
    out[null_np] = None
    idx = np.flatnonzero(slow_np)
    out.iloc[idx] = _extract_text_pd_slow(
        arr.take(pa.array(idx)).to_pandas()).to_numpy()
    return pa.Array.from_pandas(out, type=pa.string())


def extract_text_pd(html: pd.Series) -> pd.Series:
    """Vectorized extraction over a pandas Series of html bytes (or None).

    Semantics are exactly ``_extract_text_pd_slow``'s; conforming rows are
    computed by the guarded Arrow/RE2 fast path (see _FAST_STRUCT_RE above,
    shared with :func:`extract_text_arrow`), the rest by the reference
    implementation."""
    import pyarrow as pa

    if len(html) == 0:
        return _extract_text_pd_slow(html)
    try:
        arr = pa.Array.from_pandas(html, type=pa.binary())
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        return _extract_text_pd_slow(html)
    out = pd.Series(extract_text_arrow(arr).to_pandas(), dtype="object")
    out.index = html.index
    return out


@arrow_udf(StringType())
def extract_text_udf(html: pa.Array) -> pa.Array:
    return extract_text_arrow(html)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Attach the extracted text column (Arrow-vectorized)."""
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))
