"""Text cleaning for web-scale corpora: HTML stripping, PII masking,
whitespace/control-character normalization — the scrub pass that runs
before quality scoring and dedup in a training-data pipeline.

Everything here is a chain of ``regexp_replace`` projections — pure
whole-stage codegen, zero Python in the data path, trivially linear at
any corpus size. Patterns deliberately avoid lookarounds and other
constructs where Java regex (Spark) and RE2 (DuckDB) diverge, so the
oracle mirrors are the same expressions with the ``'g'`` flag.

Masking order is part of the contract: emails, then IPv4, then phone
numbers — the phone pattern would otherwise swallow dotted IPs. Counts
are extracted per stage from that stage's input, so both engines count
the same occurrences.

Reference analogue: the migration tool's value scrubbing before SQL
insertion (`private/Data_Migrator.ps1` string sanitization), generalized
to corpus text hygiene.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

HTML_TAG_RE = "<[^>]+>"
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PHONE_RE = "\\+?[0-9][0-9\\s().-]{7,}[0-9]"

_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so '&amp;lt;' decodes in one pass like a browser wouldn't
]


def strip_html(text: Column) -> Column:
    """Drop tags, decode the common entities, collapse whitespace."""
    out = F.regexp_replace(text, HTML_TAG_RE, " ")
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def strip_html_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{HTML_TAG_RE}', ' ', 'g')"
    for ent, rep in _ENTITIES:
        rep_sql = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def with_clean_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, clean_text, n_emails, n_ips, n_phones)``: strip markup,
    count each PII class on its masking stage's input, mask. One
    projection, no shuffle."""
    stripped = strip_html(F.col(text_col))
    after_email = F.regexp_replace(stripped, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    return df.select(
        F.col(id_col),
        F.regexp_replace(after_ip, PHONE_RE, "<PHONE>").alias("clean_text"),
        F.size(F.regexp_extract_all(stripped, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), 0)).alias(
            "n_ips"
        ),
        F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


def with_clean_text_sql(
    text_expr: str, id_expr: str = "doc_id"
) -> str:
    """Projection list mirroring ``with_clean_text`` (no FROM clause)."""
    stripped = strip_html_sql(text_expr)
    after_email = f"regexp_replace({stripped}, '{EMAIL_RE}', '<EMAIL>', 'g')"
    after_ip = f"regexp_replace({after_email}, '{IPV4_RE}', '<IP>', 'g')"
    return (
        f"{id_expr}, "
        f"regexp_replace({after_ip}, '{PHONE_RE}', '<PHONE>', 'g')"
        f" AS clean_text, "
        f"CAST(len(regexp_extract_all({stripped}, '{EMAIL_RE}')) AS INT)"
        f" AS n_emails, "
        f"CAST(len(regexp_extract_all({after_email}, '{IPV4_RE}')) AS INT)"
        f" AS n_ips, "
        f"CAST(len(regexp_extract_all({after_ip}, '{PHONE_RE}')) AS INT)"
        f" AS n_phones"
    )


# ---------------------------------------------------------------------------
# Line-level (boilerplate) dedup — the C4/RefinedWeb-style scrub that drops
# lines repeated across documents (nav bars, footers, cookie banners).
# Reference analogue: none (the migration tool has no corpus ops); this is
# the north-star LLM-pipeline surface next to document-level dedup
# (operators/dedup.py).
# ---------------------------------------------------------------------------

LINE_MIN_DOCS = 2


def line_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, line_no, line)`` — one row per newline-delimited line,
    position preserved. An explode is the only sane shape here: line
    counts are data-dependent, and the downstream group-by needs line
    granularity anyway."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    )


def duplicate_lines(
    df: DataFrame,
    min_docs: int = LINE_MIN_DOCS,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows: DataFrame | None = None,
) -> DataFrame:
    """Lines (trimmed, non-empty) appearing in >= ``min_docs`` DISTINCT
    documents: ``(line, n_docs, n_occurrences)``.

    Scale shape: one shuffle keyed on the line text with map-side
    partial aggregation. At 100 TB the shuffle rows are (line, partial
    count) — narrow; a hot boilerplate line ("click here to accept")
    folds into one partial per map task, so skew cannot materialize more
    than n_partitions rows for any single line. count(DISTINCT doc)
    expands to a two-level aggregate (Spark plans it as such) — still
    combinable."""
    trimmed = F.trim(F.col("line"))
    if rows is None:
        rows = line_rows(df, text_col, id_col)
    return (
        rows
        .select(F.col(id_col), trimmed.alias("line"))
        .filter(F.length("line") > 0)
        .groupBy("line")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_duplicate_lines(
    df: DataFrame,
    min_docs: int = LINE_MIN_DOCS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every occurrence of cross-document duplicate lines and
    reassemble each document: ``(id, clean_text, n_kept, n_removed)``.
    Every input document keeps exactly one output row (a fully-
    boilerplate doc comes back with ``clean_text = ''``).

    Plan: lines joined against the duplicate-line set (distinct lines —
    small relative to the corpus; broadcastable at steady state, AQE
    picks that up), then one group-by on the doc id reassembles with an
    order pinned by ``array_sort`` over (line_no, line) structs —
    ``collect_list`` order is partition-dependent, the sort makes the
    result deterministic under any parallelism."""
    rows = line_rows(df, text_col, id_col)
    # One line-row projection feeds both the duplicate-line set and the
    # reassembly side (the rows= handoff avoids a second corpus explode).
    dups = duplicate_lines(
        df, min_docs, text_col, id_col, rows=rows
    ).select(F.col("line").alias("__dup_line"))
    flagged = rows.join(
        dups, F.trim(F.col("line")) == F.col("__dup_line"), "left"
    )
    is_dup = F.col("__dup_line").isNotNull()
    kept_struct = F.when(
        ~is_dup, F.struct(F.col("line_no"), F.col("line"))
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.sum((~is_dup).cast("long")).alias("n_kept"),
        F.sum(is_dup.cast("long")).alias("n_removed"),
    )


def strip_duplicate_lines_sql(
    table: str = "documents", min_docs: int = LINE_MIN_DOCS
) -> str:
    """DuckDB twin of ``strip_duplicate_lines``."""
    return f"""
WITH __rows AS (
  SELECT doc_id, generate_subscripts(ls, 1) AS line_no, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {table})
),
__dup AS (
  SELECT trim(line) AS dline FROM __rows WHERE length(trim(line)) > 0
  GROUP BY trim(line) HAVING count(DISTINCT doc_id) >= {min_docs}
)
SELECT r.doc_id,
       coalesce(string_agg(r.line, chr(10) ORDER BY r.line_no)
                FILTER (WHERE d.dline IS NULL), '') AS clean_text,
       count(*) FILTER (WHERE d.dline IS NULL) AS n_kept,
       count(d.dline) AS n_removed
FROM __rows r LEFT JOIN __dup d ON trim(r.line) = d.dline
GROUP BY r.doc_id
"""
