"""Document deduplication suite — the training-data-pipeline operators a
100 TB corpus needs (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine), each over the `documents` / `embeddings` tables.

Lineage: the crawler's J7 gate (reference ngrams.py:80-101) generalized
from a crawl-time filter to corpus-scale batch operators. All pair
outputs are canonical (doc_a < doc_b) and deterministic.

Scale notes:
  * exact dedup is one hash-groupBy (map-side partial agg, single
    shuffle on the content hash);
  * n-gram Jaccard uses the exact prefix-filter pre-join from
    crawler/gates.py (rarest-⌊(1-t)|fp|⌋+1-gram probing + size filter)
    — never all-pairs;
  * MinHash+LSH is the sub-quadratic scale path: banded signature
    buckets → candidate pairs → EXACT Jaccard verify, so false
    positives cost only a verify and the output is exact-Jaccard-true
    (recall is the tunable; 64 perms / 32 bands × 2 rows keeps
    P[miss | J≥0.7] < 1e-9);
  * SimHash buckets by 15-bit bands of the 60-bit signature (a pair
    within Hamming distance 3 must agree on ≥1 of 4 bands — exact by
    pigeonhole);
  * embedding near-dup proposes candidates within banded
    random-hyperplane LSH buckets (sub-quadratic) and exact-verifies
    cosine; the all-pairs form survives only as an explicit
    method="allpairs" oracle mode for tiny inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from searchengine_spark.crawler.gates import _prefix_grams, fingerprint_sql
from searchengine_spark.functions.text import tokens_sql

# Mersenne-31 modulus: keeps a·x + b inside int64 (Spark 4 runs ANSI —
# a 61-bit modulus would overflow bigint multiplication and throw)
_MERSENNE = (1 << 31) - 1


# ------------------------------------------------------------ exact dedup


def exact_dedup(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content hash: (text_md5, keep_id,
    n_dups). keep_id = min doc_id (deterministic representative). md5 is
    used (not xxhash64) so the DuckDB oracle computes the identical key.
    One hash-groupBy — partial aggregation map-side, single shuffle."""
    return (
        documents.select(F.col(id_col).alias("doc_id"), F.md5(text_col).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


# ----------------------------------------------------- n-gram Jaccard pairs

_PAIR_JACCARD = (
    "CASE WHEN size(array_union(fp_a, fp_b)) = 0 THEN CAST(0.0 AS double) "
    "ELSE CAST(size(array_intersect(fp_a, fp_b)) AS double) "
    "/ size(array_union(fp_a, fp_b)) END"
)


def _verify_pairs(pairs: DataFrame, fps: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b) candidates → exact-Jaccard-verified pairs with j."""
    out = (
        pairs.join(
            fps.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")),
            "doc_a",
        )
        .join(
            fps.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")),
            "doc_b",
        )
        .withColumn("j", F.expr(_PAIR_JACCARD))
        .filter(F.col("j") >= threshold)
        .select("doc_a", "doc_b", "j")
    )
    return out


def ngram_dup_pairs(
    documents: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs (doc_a < doc_b) with n-gram-set Jaccard ≥ threshold —
    EXACT, via the prefix-filter pre-join (no all-pairs scan)."""
    fps = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(fingerprint_sql(tokens_sql(text_col), n)).alias("fp"),
    ).persist()
    left = fps.select(F.col("doc_id").alias("url_hash"), "fp")
    lg = _prefix_grams(left, threshold).select(
        F.col("url_hash").alias("doc_a"), "gram"
    )
    rg = fps.select(F.col("doc_id").alias("doc_b"), F.explode("fp").alias("gram"))
    cands = (
        lg.join(rg, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    out = _verify_pairs(cands, fps, threshold)
    return out


# -------------------------------------------------- asymmetric containment


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.75,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directed containment pairs: (doc_a, doc_b, containment) where
    C(a→b) = |g(a) ∩ g(b)| / |g(a)| ≥ threshold and a ≠ b — "a's grams
    are (mostly) contained in b". The asymmetric complement of
    ngram_dup_pairs: Jaccard misses a short document quoted/embedded
    inside a much longer one (union is dominated by the long doc), the
    web case being boilerplate-wrapped mirrors, quote pages, and RSS
    excerpts of full articles.

    EXACT and sub-quadratic: the Jaccard prefix filter is valid verbatim
    for containment — if none of a's ⌊(1-t)·|A|⌋+1 globally-rarest grams
    hit B, then |A∩B| ≤ |A| - (⌊(1-t)|A|⌋+1) < t·|A|, so the pair cannot
    reach C ≥ t (same bound, denominator |A| instead of |A∪B|). Unlike
    the Jaccard path there is NO size-ratio prune — a 10-gram doc fully
    contained in a 10k-gram doc is precisely the signal — so candidates
    go straight to the exact array_intersect verify. Empty-fingerprint
    docs are dropped (containment undefined).

    Reference scope: the reference dedups by symmetric n-gram Jaccard
    only (url_similarity.py / ngrams.py); containment is a
    beyond-reference curation operator (SURVEY §2.11 family)."""
    fps = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.expr(fingerprint_sql(tokens_sql(text_col), n)).alias("fp"),
        )
        .filter(F.size("fp") > 0)
        .persist()
    )
    left = fps.select(F.col("doc_id").alias("url_hash"), "fp")
    lg = _prefix_grams(left, threshold).select(
        F.col("url_hash").alias("doc_a"), "gram"
    )
    rg = fps.select(F.col("doc_id").alias("doc_b"), F.explode("fp").alias("gram"))
    cands = (
        lg.join(rg, "gram")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    out = (
        cands.join(
            fps.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")),
            "doc_a",
        )
        .join(
            fps.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")),
            "doc_b",
        )
        .withColumn(
            "containment",
            F.expr(
                "CAST(size(array_intersect(fp_a, fp_b)) AS double) / size(fp_a)"
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
    return out


# ------------------------------------------------------------- MinHash+LSH


def minhash_signatures(
    fps: DataFrame, n_perm: int = 64, seed: int = 7
) -> DataFrame:
    """(doc_id, sig array<bigint>) — n_perm min-hash values via universal
    hashing h_i(x) = (a_i·x + b_i) mod p over the gram hashes. Pure
    Column exprs (transform over a literal coefficient array) — JVM-side,
    no UDF. Empty fingerprint ⇒ sig of p (sentinel, never matches)."""
    # deterministic odd coefficients derived from the seed (no Python
    # hash(), no randomness at plan-build time)
    coeffs = [
        (
            (0x9E3779B97F4A7C15 * (seed + 2 * i + 1)) % _MERSENNE | 1,
            (0xC2B2AE3D27D4EB4F * (seed + 2 * i + 2)) % _MERSENNE,
        )
        for i in range(n_perm)
    ]
    sig_exprs = ", ".join(
        # (a*x + b) mod p with x mapped to unsigned via & mask on 61 bits
        f"aggregate(fp, CAST({_MERSENNE} AS bigint), "
        f"(acc, x) -> least(acc, pmod({a}L * pmod(x, {_MERSENNE}L) + {b}L, {_MERSENNE}L)))"
        for a, b in coeffs
    )
    return fps.selectExpr("doc_id", f"array({sig_exprs}) AS sig")


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.7,
    n_perm: int = 64,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified: band buckets propose,
    exact n-gram Jaccard disposes (output rows all truly ≥ threshold).
    Sub-quadratic: the only join is on (band_id, band_hash) buckets."""
    assert n_perm % bands == 0
    rows_per_band = n_perm // bands
    fps = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(fingerprint_sql(tokens_sql(text_col), n)).alias("fp"),
    ).persist()
    sigs = minhash_signatures(fps, n_perm)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band_id, "
                f"xxhash64(array_join(slice(sig, b * {rows_per_band} + 1, "
                f"{rows_per_band}), ',')) AS band_hash))"
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band_id", "bh.band_hash")
    cands = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_pairs(cands, fps, threshold)


# ----------------------------------------------------------------- SimHash


# 60 bits = the first 15 hex chars of md5(token): md5 exists in BOTH
# Spark and DuckDB, so the whole signature (per-occurrence bit votes →
# majority pack) is reproducible by the SQL oracle — unlike xxhash64,
# which DuckDB cannot compute (the round-1 reason simhash was rows-only)
SIMHASH_BITS = 60


def _simhash_pack_udf():
    @F.pandas_udf("bigint")
    def _pack(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                out[i] = 0
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            # bit b of the signature = majority vote of bit b over tokens
            votes = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            bits = (2 * votes > len(h)).astype(np.uint64)
            out[i] = (bits << shifts).sum(dtype=np.uint64).view(np.int64)
        return pd.Series(out)

    return _pack


def simhash_signatures(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash bigint) — 60-bit SimHash over the normative
    tokens. Token hash = first 60 bits of md5 (JVM-side Column exprs;
    engine-portable, see SIMHASH_BITS); the 60-lane majority vote + bit
    packing is a vectorized Arrow UDF (numpy) — a 60-term Column
    expression would re-walk the hash array per bit, interpreted
    (measured ~100× slower). Votes are per token OCCURRENCE (multiset
    SimHash, the classic Charikar form)."""
    toks = tokens_sql(text_col)
    hashed = documents.selectExpr(
        f"{id_col} AS doc_id",
        f"transform({toks}, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10)"
        " AS bigint)) AS hs",
    )
    return hashed.select("doc_id", _simhash_pack_udf()(F.col("hs")).alias("simhash"))


def simhash_dup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of their SimHashes.
    Banded exact pre-join: split the 60-bit signature into max_hamming+1
    bands — pigeonhole guarantees every qualifying pair collides on ≥1
    whole band. Hamming via bit_count(xor)."""
    n_bands = max_hamming + 1
    assert SIMHASH_BITS % n_bands == 0
    width = SIMHASH_BITS // n_bands
    sigs = simhash_signatures(documents, id_col, text_col).persist()
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> struct(b AS band_id, "
                f"shiftright(simhash, b * {width}) & {(1 << width) - 1} AS band_val))"
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band_id", "bv.band_val")
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), ["band_id", "band_val"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs


# ------------------------------------------------------- dup clustering


def dup_clusters(
    pairs: DataFrame,
    documents: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup pairs,
    cluster_id = min doc_id in the component (the deterministic keeper a
    dedup pipeline retains). With `documents`, singletons appear as
    their own cluster, so the output is a total doc→cluster map.

    Distributed label propagation: every vertex repeatedly adopts the
    minimum label among itself and its neighbors; converges in
    ≤ component-diameter rounds (near-dup clusters are shallow — text
    dup components are cliques or short chains, so 2-3 rounds typical;
    max_iters bounds adversarial chains). Each round is one
    edge-join + one min-aggregate — all shuffles on the vertex key, no
    driver-side graph. Convergence is checked with a changed-count
    aggregate per round (driver sees one long per iteration, never
    rows). The classic large-star/small-star optimization halves rounds
    on deep graphs; unnecessary at near-dup shapes."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    cached = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .persist()
    )
    labels = cached
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.v)
            .select(F.col("dst").alias("v"), "label")
            .groupBy("v")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = (
            labels.join(neighbor_min, "v", "left")
            .select(
                "v",
                F.least(
                    "label", F.coalesce("nmin", F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("_chg"),
            )
        )
        # eager localCheckpoint materializes the generation AND
        # truncates lineage — with plain persist the logical plan still
        # chains across iterations and plan stringification OOMs at
        # high iteration counts (same bug fixed in linkrank's loops);
        # the changed-count agg then reads the checkpointed blocks
        nxt = nxt.localCheckpoint(eager=True)
        changed = nxt.agg(
            F.coalesce(F.sum(F.col("_chg").cast("long")), F.lit(0))
        ).collect()[0][0]
        cached.unpersist()
        cached = nxt
        labels = nxt.drop("_chg")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # a component deeper than max_iters has NOT converged — labels
        # would be silently wrong; fail loudly (deep chains want the
        # large-star/small-star variant, not more silent rounds)
        cached.unpersist()
        raise RuntimeError(
            f"dup_clusters: min-label propagation did not converge in "
            f"{max_iters} iterations ({changed} labels still changing); "
            "raise max_iters for deep-chain graphs"
        )
    # hand the caller a lineage-free frame and drop the final iteration
    # generation — repeated calls must not leak session-lifetime cache
    # entries (localCheckpoint blocks are ContextCleaner-collected when
    # the returned DataFrame is garbage-collected)
    labels = labels.localCheckpoint(eager=True)
    cached.unpersist()
    out = labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))
    if documents is not None:
        all_docs = documents.select(F.col(id_col).alias("doc_id"))
        out = (
            all_docs.join(out, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            )
        )
    return out


# --------------------------------------------------- embedding cosine dups

_COSINE = (
    "CASE WHEN na = 0.0 OR nb = 0.0 THEN CAST(0.0 AS double) "
    "ELSE dot / (sqrt(na) * sqrt(nb)) END"
)


def _with_cosine(pairs: DataFrame) -> DataFrame:
    """pairs with va/vb array<double> → + cosine (zip_with dot product,
    sequential sum — deterministic order, JVM-side)."""
    return (
        pairs.withColumn(
            "dot",
            F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0D, (a, x) -> a + x)"),
        )
        .withColumn("na", F.expr("aggregate(va, 0.0D, (a, x) -> a + x * x)"))
        .withColumn("nb", F.expr("aggregate(vb, 0.0D, (a, x) -> a + x * x)"))
        .withColumn("cosine", F.expr(_COSINE))
    )


def _band_vals_udf(planes: np.ndarray, bands: int):
    """pandas UDF: embedding array<double> → array<bigint> of `bands`
    band values, band b = integer of the r sign bits of ⟨v, plane_i⟩ for
    planes b·r..(b+1)·r. One Arrow batch = one numpy matmul — vectorized,
    no per-row Python."""
    n_planes, _dim = planes.shape
    r = n_planes // bands
    weights = 1 << np.arange(r, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def _bands(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())  # (n, dim)
        sign = (mat @ planes.T) >= 0.0  # (n, n_planes)
        vals = sign.reshape(len(mat), bands, r).astype(np.int64) @ weights
        return pd.Series(list(vals))

    return _bands


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 32,
    seed: int = 13,
    method: str = "lsh",
) -> DataFrame:
    """Pairs (a < b) with cosine ≥ threshold.

    method="lsh" (default, the scale path): banded random-hyperplane LSH
    proposes, exact cosine disposes — every output row is truly
    ≥ threshold; recall is the tunable. A pair is proposed iff it agrees
    on ALL r = n_planes/bands sign bits of ≥ 1 band:
    P[propose | cos c] = 1 − (1 − p^r)^bands with p = 1 − arccos(c)/π;
    at r=2, bands=32 the miss probability is < 8e-7 at c=0.3 and
    < 5e-9 at c=0.51 (deterministic seeded planes — verified equal to
    the exact pair set on the sandbox fixtures). The only join is on
    (band_id, band_val) buckets — NEVER all-pairs.

    method="allpairs": the n²-bounded exact form, kept as the
    oracle-verify mode for tiny inputs."""
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS double))").alias("v"),
    )
    if method != "allpairs":
        # empty-table guard: the LSH path derives dim from the first row;
        # with no rows the allpairs branch below yields the correctly-
        # typed empty pair frame instead of a TypeError
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        if first is None:
            method = "allpairs"
    if method == "allpairs":
        pairs = (
            vecs.select(F.col("vid").alias("doc_a"), F.col("v").alias("va"))
            .crossJoin(
                vecs.select(F.col("vid").alias("doc_b"), F.col("v").alias("vb"))
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
    else:
        from searchengine_spark.operators.simsearch import _hyperplanes

        dim = first["d"]
        planes = np.asarray(_hyperplanes(int(dim), n_planes, seed))
        bands_udf = _band_vals_udf(planes, bands)
        banded = vecs.select(
            "vid", F.posexplode(bands_udf(F.col("v"))).alias("band_id", "band_val")
        )
        cands = (
            banded.alias("l")
            .join(banded.alias("r"), ["band_id", "band_val"])
            .filter(F.col("l.vid") < F.col("r.vid"))
            .select(
                F.col("l.vid").alias("doc_a"), F.col("r.vid").alias("doc_b")
            )
            .distinct()
        )
        pairs = cands.join(
            vecs.select(F.col("vid").alias("doc_a"), F.col("v").alias("va")),
            "doc_a",
        ).join(
            vecs.select(F.col("vid").alias("doc_b"), F.col("v").alias("vb")),
            "doc_b",
        )
    return (
        _with_cosine(pairs)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def keep_best(
    clusters: DataFrame,
    quality: DataFrame,
    quality_col: str = "quality",
) -> DataFrame:
    """(cluster_id, kept_doc_id, n_members, best_quality) — dedup
    RETENTION policy: pick one representative per duplicate cluster,
    the member with the highest quality score (ties → lowest doc_id).
    Completes the dedup story: dup_clusters says what is duplicated,
    keep_best says which copy a training corpus keeps (the standard
    "keep best-quality member" rule, vs the keep-first rule the
    cluster_id = min(doc_id) labeling implies).

    `clusters` is (doc_id, cluster_id) — e.g. dup_clusters() output;
    `quality` is (doc_id, <quality_col>) — e.g. quality_scores(). The
    comparison key is round(quality, 9): the contract surface precision,
    so the argmax is reproducible in any engine that agrees on the
    rounded score (the DuckDB oracle does, per the quality query).

    Scale shape: one join on doc_id (co-partitioned under AQE) and one
    groupBy(cluster_id) argmax via max(struct(q, -doc_id)) — partial
    aggregation combines map-side, so a million-member boilerplate
    cluster never funnels through a single window task.
    """
    q = quality.select(
        "doc_id", F.round(F.col(quality_col), 9).alias("_q")
    )
    return (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("_q"), (-F.col("doc_id")).alias("_nid"))
            ).alias("w"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("w._nid")).alias("kept_doc_id"),
            "n_members",
            F.col("w._q").alias("best_quality"),
        )
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    train_sample: int = 256,
    max_cluster_factor: float | None = 8.0,
) -> DataFrame:
    """(vec_id, cid, pruned) — SemDedup (Abbas et al. 2023): cluster the
    embedding space with the IVF coarse quantizer (simsearch.
    ivf_assignments — Lloyd-trained, deterministic, broadcast-literal
    centroids), then WITHIN each cluster prune any vector whose cosine
    to a lower-id cluster-mate is ≥ threshold. Semantic near-dups
    collapse to one representative per local neighborhood without any
    global pair join.

    Rule (deterministic, order-free): pruned(b) ⇔ ∃ a < b in the same
    cluster with cos(a,b) ≥ threshold — the non-recursive "earlier
    survivor wins" narrowing (same contract as the J7 batch rule). The
    cosine is the shared sequential zip_with fold, so a SQL oracle
    replays it bit-for-bit.

    Scale shape: the only shuffle keys are cid (assignment output) and
    the within-cluster self-join on cid — cost Σ|cluster|², bounded by
    how the deployment sizes n_centroids (the paper uses cluster sizes
    ≪ √N; at 10^10 embeddings that is n_centroids ~ 10^5-10^6, each
    cluster a few thousand rows, so the quadratic term is per-task-local
    and tiny). The global-LSH alternative for unclustered spaces is
    embedding_dup_pairs.

    That sizing contract is ENFORCED, not just documented: with
    max_cluster_factor set (default 8.0), the assignment is
    materialized (eager localCheckpoint, so the check and the result
    share one pass) and max |cluster| is checked against
    factor * ceil(N / n_centroids). A violation raises ValueError
    naming the offending cluster size and the n_centroids needed —
    an under-provisioned quantizer fails fast instead of silently
    going quadratic. Pass max_cluster_factor=None to opt out."""
    import math

    from searchengine_spark.operators.simsearch import ivf_assignments

    assigned = ivf_assignments(
        embeddings, n_centroids, id_col=id_col, vec_col=vec_col,
        train_iters=train_iters, train_sample=train_sample,
    )
    if max_cluster_factor is not None:
        assigned = assigned.localCheckpoint(eager=True)
        stats = assigned.groupBy("cid").count().agg(
            F.max("count").alias("mx"), F.sum("count").alias("n")
        ).first()
        if stats["mx"] is not None:
            bound = max_cluster_factor * math.ceil(
                stats["n"] / n_centroids
            )
            if stats["mx"] > bound:
                raise ValueError(
                    f"semdedup cluster-size contract violated: max "
                    f"|cluster| = {stats['mx']} > {bound:.0f} "
                    f"(= {max_cluster_factor} * ceil(N/n_centroids), "
                    f"N={stats['n']}, n_centroids={n_centroids}). The "
                    f"within-cluster pair join would go quadratic; "
                    f"raise n_centroids (~N/1000 at deployment scale) "
                    f"or pass max_cluster_factor=None to override."
                )
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS double))").alias("v"),
    ).join(assigned, "vec_id")
    pairs = (
        vecs.select("cid", F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
        .join(
            vecs.select(
                "cid", F.col("vec_id").alias("doc_b"), F.col("v").alias("vb")
            ),
            "cid",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    pruned_ids = (
        _with_cosine(pairs)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("doc_b").alias("vec_id"))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return (
        assigned.join(pruned_ids, "vec_id", "left")
        .select(
            "vec_id", "cid", F.coalesce("_pruned", F.lit(False)).alias("pruned")
        )
    )


# ---- sparse tf-idf cosine pairs ----------------------------------------


def tfidf_cosine_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(src, dst, cos) — every doc pair with sparse tf-idf cosine ≥
    threshold: the token-level semantic near-dup baseline next to the
    lexical families (Jaccard/MinHash/SimHash) and the dense
    embedding pairs. src < dst.

    Candidates come from ONE token equi-join (docs sharing ≥ 1 scoring
    token — never a cross join); the dot product folds in token order
    and the norms in token order per doc, so the cosine is
    bit-reproducible across partitionings (the more_like_this float
    discipline, corpus-pairs edition).

    Scale shape (100 TB): the self-join's fan-out lives entirely on
    hot tokens — `max_df` drops tokens appearing in more than max_df
    docs from the DOT (the mirrors.py df-cut): a df-10^7 stopword
    contributes ~zero to a tf-idf dot yet would generate 10^14 join
    rows. Norms stay EXACT (full vector), so the df-capped cosine is a
    strict lower bound of the true cosine — the cut can only lose
    borderline pairs, never invent them. With the cut the join is
    bounded by Σ_token df² over rare tokens — the Bayardo-style
    candidate budget every sparse-similarity system runs on.
    """
    from searchengine_spark.operators.tfidf import build_postings

    p = build_postings(documents, id_col=id_col, text_col=text_col).select(
        "doc_id", "token", "tf_idf"
    )
    norms = p.groupBy("doc_id").agg(
        F.expr(
            "sqrt(aggregate(sort_array(collect_list(struct(token, "
            "tf_idf * tf_idf AS v))), 0.0D, (acc, s) -> acc + s.v))"
        ).alias("nrm")
    )
    scoring = p
    if max_df is not None:
        dfs = p.groupBy("token").agg(F.count("*").alias("df"))
        scoring = p.join(
            dfs.filter(F.col("df") <= max_df).select("token"), "token"
        )
    a = scoring.select(
        F.col("doc_id").alias("src"), "token", F.col("tf_idf").alias("wa")
    )
    b = scoring.select(
        F.col("doc_id").alias("dst"), "token", F.col("tf_idf").alias("wb")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(token, "
                "wa * wb AS v))), 0.0D, (acc, s) -> acc + s.v)"
            ).alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("src"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("dst"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "src")
        .join(nb, "dst")
        .select(
            "src",
            "dst",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def gramstr_sql(tokens_expr: str, n: int = 3) -> str:
    """array<string> of distinct NON-overlapping n-gram strings (the
    same greedy-regex carving as fingerprint_sql, minus the xxhash64):
    the engine-portable gram identity — DuckDB rebuilds the identical
    strings from token-list slices, so cross-engine hashes of these
    grams agree."""
    t = tokens_expr
    return (
        f"CASE WHEN size({t}) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE array_distinct(transform("
        f"regexp_extract_all(array_join({t}, ' '), "
        f"'[^ ]+( [^ ]+){{0,{n - 1}}}', 0), "
        f"g -> replace(g, ' ', ''))) END"
    )


def minhash_error(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, j, n_match, j_est, abs_err) — the MinHash
    accuracy calibration table: for every EXACT near-dup pair
    (Jaccard ≥ threshold), the k-permutation minhash estimate
    n_match/k next to the true Jaccard. P[sig_i(a) = sig_i(b)] = J is
    the MinHash identity (Broder 1997); this census turns the sketch's
    ±1/sqrt(k) error into hash-checked data, which is how you pick k
    before trusting minhash_lsh_pairs' bands at a new threshold.

    Engine-portable signatures: permutation i hashes each distinct
    gram STRING as h60(gram || '#' || i) (md5-based, the repo-wide
    portable hash) and takes the min — no xxhash64, no mod-p universal
    hashing, so DuckDB reproduces every signature bit-for-bit. j_est
    and abs_err are a ratio of exact ints and one subtraction.

    Scale shape: the exact pair set comes from the prefix-filtered
    ngram_dup_pairs (sub-quadratic); signatures are computed ONLY for
    documents that appear in some pair (left-semi prune), each via one
    zero-shuffle projection (k·|grams| md5s per doc); the final join
    ships k-element arrays for pair members only.
    """
    pairs = ngram_dup_pairs(documents, threshold, n, id_col, text_col)
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    h = (
        "CAST(conv(substring(md5(concat(x, '#', CAST(p AS STRING))), "
        "1, 15), 16, 10) AS BIGINT)"
    )
    sig = (
        f"transform(sequence(0, {k - 1}), p -> "
        f"aggregate(gs, 9223372036854775807L, "
        f"(acc, x) -> least(acc, {h})))"
    )
    sigs = (
        documents.join(
            ids, documents[id_col] == ids["doc_id"], "left_semi"
        )
        .selectExpr(
            f"{id_col} AS doc_id",
            f"{gramstr_sql(tokens_sql(text_col), n)} AS gs",
        )
        .selectExpr("doc_id", f"{sig} AS sig")
    )
    match_expr = (
        f"aggregate(transform(sequence(0, {k - 1}), p -> "
        "IF(element_at(sa, p + 1) = element_at(sb, p + 1), 1L, 0L)), "
        "0L, (a, x) -> a + x)"
    )
    return (
        pairs.join(
            sigs.select(
                F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")
            ),
            "doc_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "j",
            f"{match_expr} AS n_match",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(j, 9) AS j",
            "n_match",
            f"round(CAST(n_match AS DOUBLE) / {float(k)!r}D, 9) AS j_est",
            f"round(abs(j - CAST(n_match AS DOUBLE) / {float(k)!r}D), 9)"
            " AS abs_err",
        )
    )


def lsh_capture_curve(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    rows_per_band: int = 2,
    bands: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, j, p_capture) — the banding s-curve evaluated on
    real pairs: for every exact near-dup pair, the probability MinHash
    LSH with ``bands`` bands of ``rows_per_band`` rows proposes it,

      P(J) = 1 − (1 − J^r)^b

    (the standard banding analysis, e.g. Mining of Massive Datasets
    §3.4). This is the design table for minhash_lsh_pairs' parameters:
    read the smallest p_capture in the output and you know the miss
    risk the current (r, b) leaves at your threshold — measured
    against YOUR corpus's pair distribution, not a textbook grid.

    Determinism: J is the exact-int Jaccard ratio; J^r and (…)^b are
    INTEGER exponents evaluated as explicit multiply/square chains
    (no pow() — libm pow is not bit-parity across engines), so the
    curve hash-matches. Only power-of-two b is supported (square
    chain); r is small and unrolled.
    """
    if bands & (bands - 1) != 0:
        raise ValueError(f"bands must be a power of two, got {bands}")
    if rows_per_band < 1:
        raise ValueError("rows_per_band must be >= 1")
    pairs = ngram_dup_pairs(documents, threshold, n, id_col, text_col)
    jr = " * ".join(["j"] * rows_per_band)
    x = f"(1.0D - ({jr}))"
    import math

    for _ in range(int(math.log2(bands))):
        x = f"({x} * {x})"
    return pairs.selectExpr(
        "doc_a",
        "doc_b",
        "round(j, 9) AS j",
        f"round(1.0D - {x}, 9) AS p_capture",
    )
