"""URL-stage Spark surfaces.

Canonicalization needs urljoin/urlparse semantics → Arrow-vectorized
pandas UDF over pycore (shared with the oracle). Host extraction, hashing
and validity are pure Column expressions (JVM-side, codegen'd).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from searchengine_spark.pycore.urltools import EXTENSIONS, canonicalize


@F.pandas_udf(StringType())
def canonicalize_udf(url: pd.Series) -> pd.Series:
    """F8 — defrag + lowercase scheme/host + rstrip '/'."""
    return url.map(lambda u: canonicalize(u) if u is not None else None)


def host_col(url: Column) -> Column:
    """Host extraction as a Column expr (parse_url is JVM-side)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


# Registrable-domain (pay-level domain) extraction. Real deployments
# key politeness and budgets on the PLD, not the hostname — otherwise a
# site sharded as {www,cdn,blog,m}.example.com gets 4x the crawl rate,
# and *.blogspot-style platforms collapse to one starved key. Backed by
# the COMPLETE Mozilla Public Suffix List (data/public_suffix_list.dat,
# ~9.5k rules incl. wildcards and exceptions; parsed by pycore/psl.py)
# generated into one pure CASE/split expression — no UDF, codegen'd,
# and the giant IN lists become Catalyst InSet hash lookups (reference
# objects, not inlined source), so the expression stays compile-cached.


def pld_sql(host_expr: str) -> str:
    """Registrable domain (PLD) of a host, as a pure SQL expression
    (same no-UDF style as is_valid_sql), implementing the full PSL
    algorithm: exception rules beat everything and are themselves the
    registrable domain; otherwise the longest matching rule (wildcard
    parents count at depth+1) keeps rule_depth+1 labels; unknown TLDs
    use the implicit '*' rule (keep two). Single-label and IPv4 hosts
    pass through, as does a host that IS a public suffix — budget keys
    are never NULL (pycore.psl.pld is the single-node oracle; parity
    property-tested in tests/test_pld.py).

    try_element_at + concat_ws(NULL-skip) make every lastN() total: at
    sz < N it degrades to the whole host, which (a) can never equal a
    rule of different dot-count in a match condition and (b) IS the
    wanted pass-through in a result position, so no branch needs an
    exact-size case split."""
    from searchengine_spark.pycore.psl import branch_spec

    h = f"lower({host_expr})"
    arr = f"split({h}, '[.]')"

    def last(n: int) -> str:
        items = ", ".join(
            f"try_element_at({arr}, -{i})" for i in range(n, 0, -1)
        )
        return f"concat_ws('.', {items})"

    parts = [
        f"CASE WHEN {h} IS NULL THEN NULL",
        f"WHEN size({arr}) <= 1 OR {h} RLIKE '^[0-9.]+$' THEN {h}",
    ]
    for kind, d, rule_set, rd in branch_spec():
        in_list = ", ".join(f"'{r}'" for r in rule_set)
        if kind == "exc":
            parts.append(f"WHEN {last(d)} IN ({in_list}) THEN {last(d)}")
        else:
            parts.append(
                f"WHEN size({arr}) >= {rd - 1} AND {last(d)} IN ({in_list}) "
                f"THEN {last(rd)}"
            )
    parts.append(f"ELSE {last(2)} END")
    return " ".join(parts)


def pld_col(host_expr: str) -> Column:
    """pld_sql over a SQL expression (usually a column name)."""
    return F.expr(pld_sql(host_expr))


def is_valid_sql(url_expr: str, allowed_host_re: str | None = None) -> str:
    """P4 as a pure SQL boolean expression (pushdown-friendly).

    Mirrors pycore.is_valid_url: http(s) scheme, non-empty host, optional
    domain regex, binary-extension blacklist (README.md:209-212).
    """
    host = f"lower(parse_url({url_expr}, 'HOST'))"
    scheme = f"lower(parse_url({url_expr}, 'PROTOCOL'))"
    path = f"lower(coalesce(parse_url({url_expr}, 'PATH'), ''))"
    # Doubled backslash: one level consumed by the SQL string literal.
    ext_pattern = "\\\\.(" + "|".join(EXTENSIONS) + ")$"
    cond = (
        f"{scheme} IN ('http','https') AND {host} IS NOT NULL AND {host} != ''"
        f" AND NOT ({path} RLIKE '{ext_pattern}')"
    )
    if allowed_host_re:
        # same escaping rule as ext_pattern: the SQL string literal
        # consumes one backslash level
        sql_re = allowed_host_re.replace("\\", "\\\\")
        cond += f" AND {host} RLIKE '{sql_re}'"
    return cond


# ---- SURT (Sort-friendly URI Reordering Transform) ---------------------
# The public web-archive key format (Internet Archive / Heritrix; CDX
# files are sorted by it): host labels reversed and comma-joined so a
# lexicographic RANGE scan answers "everything under this registrable
# domain / path subtree" — the scan primitive behind CDX lookups and
# per-site crawl audits at Common-Crawl scale.


def surt_col(url: Column) -> Column:
    """SURT key of a URL as a pure Column expression (no UDF):

      scheme://user@Host.Tld/Path?b=2&a=1
        -> tld,host)/path?a=1&b=2

    - host lowercased, a leading `www<digits>.` label stripped (the
      Heritrix canonicalizer rule), labels reversed + comma-joined;
    - `)` separates authority from path (sorts before any path char
      so a host prefix range never bleeds into longer hosts);
    - path lowercased verbatim; query args sorted (IA canonicalization)
      and re-joined with '&', prefixed '?' only when non-empty.

    Everything is parse_url/regexp/array built-ins -> whole-stage
    codegen; the key is precomputable at ingest and is the natural
    sort/partition column for a CDX-style capture index (see
    operators/cdx.py)."""
    host = F.lower(F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")))
    host = F.regexp_replace(host, r"^www\d*\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    sortedq = F.array_join(F.sort_array(F.split(query, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sortedq)),
    )


def blocklist_gate_col(host_expr: str, deny_plds: list[str]) -> Column:
    """Boolean: is ``host_expr`` blocked by a registrable-domain deny
    list? True iff pld(host) ∈ deny_plds (case-insensitive) — so one
    entry kills every subdomain shard of a domain, which is how the
    public URL blocklists (UT1, Dolma's domain filters) are meant to be
    applied; host-exact matching would let `www2.` aliases through.

    Scale shape: the deny list compiles into the pld CASE expression +
    an IN literal list — pure codegen projection, no join, composes
    with scan pruning. For >10^4-entry lists, switch to broadcasting a
    deny DataFrame and left-semi-joining on the pld column (the same
    expression, one broadcast join); this literal form is the
    query-constant fast path.
    """
    norm = sorted({d.lower().strip(".") for d in deny_plds})
    if not norm:
        return F.lit(False)
    inlist = ", ".join(f"'{d}'" for d in norm)
    return F.expr(f"({pld_sql(host_expr)}) IN ({inlist})")
