"""Deduplication operators for large-scale corpus pipelines.

All variants are built for the 100 TB shape:

- exact: one hash-groupBy — partial+final agg, no pairwise work.
- MinHash + LSH: signature -> band buckets -> equi-join on
  (band, bucket). The only shuffle is on bucket keys; candidate
  verification (exact Jaccard) touches candidate pairs only, never the
  O(n^2) cross product.
- SimHash: banded fingerprint join. With F bands and Hamming radius
  r < F, pigeonhole guarantees every pair within radius shares at least
  one band — the banded join is EXACT, not approximate, and replaces a
  cross join with an equi-join.
- n-gram Jaccard: inverted-index join on shared shingles (explode ->
  equi-join on shingle -> per-pair count), the classic scalable exact
  similarity join.
- embedding cosine: see scale/similarity.py.

Every hash is derived from md5 so the DuckDB oracle can replicate the
computation bit-for-bit (`('0x' || substr(md5(s),1,15))::BIGINT` ==
Spark `conv(substr(md5(s),1,15),16,10)`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openeo_processes_dask_ml_spark.scale.tuning import (
    fan_out,
    local_rows_df,
    materialize,
    materialize_eager,
)
from openeo_processes_dask_ml_spark.utils.rounding import dround

# --------------------------------------------------------------------------
# shared expression builders
# --------------------------------------------------------------------------


def hash60(col: Column, seed: str | Column = "") -> Column:
    """Deterministic 60-bit integer hash, identical to the DuckDB
    expression ('0x' || substr(md5(s || '#' || seed),1,15))::BIGINT."""
    seed_col = F.lit(str(seed)) if not isinstance(seed, Column) else seed.cast("string")
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit("#"), seed_col)), 1, 15), 16, 10
    ).cast("bigint")


def hash32(col: Column) -> Column:
    """32-bit variant (first 8 md5 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash48(col: Column) -> Column:
    """48-bit variant (first 12 md5 hex chars) — the SimHash bit
    source; DuckDB twin: ``('0x' || substr(md5(s), 1, 12))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def tokens_expr(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def ngram_array_expr(text_col: str, n: int) -> Column:
    """Overlapping token ``n``-grams of a text column as an array,
    positionally ordered (element ``i`` is the gram starting at token
    ``i``) with duplicates KEPT — ONE codegen ``regexp_extract_all``
    pass over the whitespace-normalized text, no shuffle, no
    interpreted HOF. The lookahead group ``(?=(tok .. tok))`` reads
    the gram; the consumed ``\\S+ ?`` advances exactly one token, so
    matches land on every token start and nowhere else. Texts with
    fewer than ``n`` tokens yield an empty array. Shared by
    ``shingle_rows``, the DSIR featurizer, and the span builders —
    the r15 replacement for the posexplode + window ``lead()``
    spelling that paid a doc_id window shuffle per evaluation."""
    tok = r"\\S+"
    pat = "(?=(" + " ".join([tok] * n) + r"))\\S+ ?"
    return F.expr(
        f"regexp_extract_all(regexp_replace(trim(lower(`{text_col}`)),"
        f" '\\\\s+', ' '), '{pat}', 1)"
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (doc_id, shingle) rows — a PURE PROJECTION, no shuffle
    (r15): whitespace-normalize, then one ``regexp_extract_all`` with
    a lookahead group pulls every OVERLAPPING n-gram in a single
    codegen pass — the capture ``(?=(tok tok tok))`` reads the gram,
    the consumed ``\\S+ ?`` advances exactly one token, so matches
    land on every token start and nowhere else. ``array_distinct``
    dedups within the doc (the semantic unit) and ``explode`` emits
    rows.

    Two earlier shapes this replaces, both measured slower at 5k docs:
    posexplode + window ``lead()`` (whole-stage codegen but pays a
    window shuffle on doc_id + a global ``distinct`` shuffle PER
    EVALUATION — and pair pipelines evaluate the index 3x), and a
    ``transform`` over a token array (interpreted HOF, ~10x slower
    than the regexp). 5k docs / 260k shingles: 0.4s vs 0.8s warm —
    and zero exchanges, so downstream groupBys are the plan's ONLY
    shuffles.

    r16 note: an input ``fan_out`` (round-robin repartition up to the
    session parallelism) was measured here and REJECTED — the pair
    pipelines launch their consumers as concurrent broadcast builds,
    so job-level overlap already spreads the tokenize across cores,
    and the extra exchange + 32-way task scheduling cost +0.3-0.5 s
    per query at sf0.1 (matrix in OPTIMIZATION_r16.md). The repeated
    serial-scan cost is instead removed by materializing the index
    once (``tuning.materialize*`` in the callers)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(ngram_array_expr(text_col, n))
        ).alias("shingle"),
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def normalized_text_hash(text_col: Column) -> Column:
    """md5 of trim/lower/single-space-normalized text — the exact-dup
    identity shared by ``incremental_dedup``, its streaming twin and
    the DuckDB oracles (twin expression:
    ``md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))``).
    Defined ONCE so batch and streaming can never drift apart."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text_col)), r"\s+", " "))


def seen_text_index(
    seen_df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(h, dup_of) — the pre-aggregated historical index (one row per
    distinct normalized text, smallest ingested id) both the batch and
    streaming incremental dedup join against; persistable per snapshot."""
    return (
        seen_df.select(
            normalized_text_hash(F.col(text_col)).alias("h"),
            F.col(id_col).alias("sid"),
        )
        .groupBy("h")
        .agg(F.min("sid").alias("dup_of"))
    )


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-content duplicate groups: normalize -> md5 -> hash-groupBy.

    Normalization is the sorted distinct token set (bag-of-words), so
    reorderings of the same content dedup together. Output:
    (fingerprint, n_docs, representative_id) for groups with >1 member.
    One shuffle on the fingerprint; map-side combine shrinks it.
    """
    norm = F.array_join(
        F.array_sort(F.array_distinct(tokens_expr(F.col(text_col)))), " "
    )
    return (
        df.select(F.md5(norm).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _affine_params(k: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for hash k (computed in
    Python so both engines only see literals)."""
    return ((k + 1) * 2654435761) % MINHASH_P, ((k + 1) * 40503) % MINHASH_P


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    shingle_n: int = 3,
    inv: DataFrame | None = None,
) -> DataFrame:
    """(id, shingles, sig) where sig[k] = min over shingles of
    (A_k * h + B_k) mod P, h = one md5-derived 60-bit hash mod P.

    One md5 per shingle; the k hash family is affine rehashing
    (universal hashing) — 24x fewer md5 evaluations than hashing per
    (shingle, k). All products stay < 2^62, so the arithmetic is exact
    int64 in both Spark and DuckDB.

    Shape: distinct shingle rows (codegen), then ONE groupBy(doc) with
    k min() aggregates (map-side combined). Computing the signature as
    a nested array-transform expression instead is a trap: Catalyst's
    CollapseProject inlines it into every downstream band expression
    and recomputes every hash per band. Returns (doc_id, sig).

    ``inv``: pre-built (doc_id, shingle) rows — pass when the caller
    also consumes the shingle index (LSH verify) so one materialized
    index feeds both instead of re-tokenizing the corpus per use."""
    if inv is None:
        inv = shingle_rows(df, text_col, id_col, shingle_n)
    h0 = (hash60(F.col("shingle")) % MINHASH_P).alias("h0")
    hashed = inv.select("doc_id", h0).select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("h0") + F.lit(b)) % MINHASH_P).alias(f"h{k}")
            for k, (a, b) in ((k, _affine_params(k)) for k in range(num_hashes))
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{k}").alias(f"h{k}") for k in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig")
    )


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band_idx, bucket) rows: each band's signature slice
    hashed to one bucket id — the LSH banding shared by the self-join
    and incremental variants."""
    rows = num_hashes // bands
    band_struct = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), j * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ),
                    )
                ).alias("bucket"),
            )
            for j in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_struct).alias("b")).select(
        "doc_id", "b.band_idx", "b.bucket"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard on
    the shingle sets. Output (id_a, id_b, jaccard) with jaccard rounded
    to 6 places, filtered to >= threshold.

    Scale shape: the pairwise work is restricted to same-bucket
    candidates; the bucket join is an equi-join Spark can shuffle-hash;
    verification counts shared shingles through the inverted index
    restricted to candidate pairs (never materializing per-doc arrays).
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = _band_rows(sigs, num_hashes, bands)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    inv = shingle_rows(df, text_col, id_col, shingle_n)
    return _verified_jaccard(cand, inv, threshold)


def _verified_jaccard(
    cand: DataFrame, inv: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs from distinct (doc_id, shingle)
    rows: shared = count of shingles present on both sides, union =
    |A| + |B| - shared. Integer arithmetic -> the value is identical to
    a set-intersection formulation."""
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = inv.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = inv.select(F.col("doc_id").alias("id_b"), "shingle")
    shared = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("shared")
    )
    # NO broadcast hint on `sizes`: it has one row per DOCUMENT, so at
    # corpus scale it is billions of rows — broadcasting it would OOM
    # the driver and every executor. The join key is a plain id; a
    # shuffle join is correct, and AQE may still elect a broadcast at
    # runtime when the corpus is actually small.
    return (
        shared.join(sizes.alias("na"), F.col("id_a") == F.col("na.doc_id"))
        .join(sizes.alias("nb"), F.col("id_b") == F.col("nb.doc_id"))
        .select("id_a", "id_b", jac.alias("jaccard_raw"))
        .filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", dround(F.col("jaccard_raw"), 6).alias("jaccard"))
    )


def _hot_shingles(
    df: DataFrame,
    inv: DataFrame,
    id_col: str,
    max_df_frac: float,
    min_df_cap: int,
) -> DataFrame:
    """Shingles whose document frequency exceeds
    ``max(min_df_cap, max_df_frac * n_docs)``.

    A stop-word trigram shared by f*n docs creates an (f*n)^2-row join
    group in the inverted-index self-join — the standard skew killer in
    production near-dup pipelines. The hot list is provably tiny (at
    most total_index_rows / cap shingles), so it always broadcasts."""
    n_docs = df.select(id_col).agg(F.count(F.lit(1)).alias("__n_docs"))
    cap = F.greatest(
        F.lit(float(min_df_cap)), F.col("__n_docs") * F.lit(max_df_frac)
    )
    return (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") > cap)
        .select("shingle")
    )


def _hot_shingle_list(
    df: DataFrame,
    inv: DataFrame,
    id_col: str,
    max_df_frac: float,
    min_df_cap: int,
    collect_cap: int = 2_000,
) -> list | None:
    """The hot-shingle set collected to the driver — a BOUNDED
    collect by the ``_hot_shingles`` size argument (at most
    index_rows / cap values; with cap = max_df_frac * n_docs that is
    avg_shingles_per_doc / max_df_frac, corpus-size-independent).
    Materializing it once lets every consumer filter with a plan
    literal instead of re-deriving the hot aggregation per evaluation
    (r15: the broadcast-subquery shape recomputed the full df
    histogram inside EACH consumer's plan; usually the set is EMPTY
    and the consumers then skip hot handling entirely). Returns None
    when the set exceeds ``collect_cap`` — callers fall back to the
    broadcast-join shape. The cap is LOW (2k, r15 review) because the
    literal path inlines the values into an ``isin`` In-list:
    thousands of entries bloat the serialized plan and push the
    filter out of whole-stage codegen, exactly where the O(1)-plan
    broadcast join is the better shape."""
    hot = _hot_shingles(df, inv, id_col, max_df_frac, min_df_cap)
    # ONE job (r16): folding the limit through collect_list replaces
    # CollectLimit's escalating partial scans — on the normal EMPTY
    # result the escalation re-ran the reduce stage up to 4x just to
    # prove there was nothing to fetch. LocalLimit still bounds memory
    # before the exchange; the set is deterministic whenever it is
    # used (<= cap rows means the limit returned everything).
    rows = (
        hot.limit(collect_cap + 1)
        .agg(F.collect_list("shingle").alias("s"))
        .first()["s"]
    )
    if len(rows) > collect_cap:  # pragma: no cover - bound exceeded
        return None
    return list(rows)


def _drop_hot_shingles(
    df: DataFrame,
    inv: DataFrame,
    id_col: str,
    max_df_frac: float,
    min_df_cap: int,
) -> DataFrame:
    """Candidate-generation index with hot shingles removed (see
    ``_hot_shingles``)."""
    hot_list = _hot_shingle_list(df, inv, id_col, max_df_frac, min_df_cap)
    if hot_list is None:  # bound exceeded -> broadcast-join shape
        hot = _hot_shingles(df, inv, id_col, max_df_frac, min_df_cap)
        # anti-join puts the join key first — restore inv's column
        # order so both shapes return identical frames
        return inv.join(F.broadcast(hot), "shingle", "left_anti").select(
            *inv.columns
        )
    if not hot_list:
        return inv
    return inv.filter(~F.col("shingle").isin(hot_list))


def _hot_from_postings(
    df: DataFrame,
    posting_all: DataFrame,
    id_col: str,
    max_df_frac: float,
    min_df_cap: int,
) -> DataFrame:
    """:func:`_hot_shingles` computed from the postings aggregation
    instead of the raw index — document frequency is ``size(ids)``, so
    the hot set costs a filter over an already-built (and cached)
    frame rather than a second full groupBy(shingle) histogram."""
    n_docs = df.select(id_col).agg(F.count(F.lit(1)).alias("__n_docs"))
    cap = F.greatest(
        F.lit(float(min_df_cap)), F.col("__n_docs") * F.lit(max_df_frac)
    )
    return (
        posting_all.select("shingle", F.size("ids").alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") > cap)
        .select("shingle")
    )


def _hot_list_from_postings(
    df: DataFrame,
    posting_all: DataFrame,
    id_col: str,
    max_df_frac: float,
    min_df_cap: int,
    collect_cap: int = 2_000,
) -> list | None:
    """:func:`_hot_shingle_list` over the postings aggregation, as ONE
    one-shot bounded agg instead of an escalating ``limit().collect()``
    — the incremental collect re-ran the reduce stage up to 4 times on
    the (normal) empty result. ``collect_list`` here is safe: the hot
    set is provably at most index_rows / cap values (the
    :func:`_hot_shingles` bound), and the slice caps what crosses to
    the driver at ``collect_cap + 1`` entries either way. The agg also
    eagerly materializes ``posting_all`` (and, transitively, the
    shingle index) so every lazy consumer reads the cache."""
    row = (
        _hot_from_postings(df, posting_all, id_col, max_df_frac, min_df_cap)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.slice(
                F.sort_array(F.collect_list("shingle")), 1, collect_cap + 1
            ).alias("s"),
        )
        .first()
    )
    if row["n"] > collect_cap:  # pragma: no cover - bound exceeded
        return None
    return list(row["s"])


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------


def _pairgen_probe(inv: DataFrame, threshold: float, cap: float) -> str:
    """Choose the candidate-generation plan from the corpus' shingle
    document-frequency distribution — ONE count-only aggregation over
    the postings (VERDICT r15 #6).

    'count' (inverted-index counting, ``_pair_shared_shingles``) pays
    sum_s C(df_s, 2) pair rows — but its sorted-postings design
    already kills SINGLETON shingles before any pair expansion, so a
    pure head+singleton-tail Zipf corpus is cheap for it (measured r16:
    50k docs, count 4.3 s vs prefix 7.0 s). Prefix filtering wins in
    the MID-DF regime: shingles common enough to blow up C(df, 2) but
    too common to land in any doc's (1-t)-rarest prefix (measured r16:
    20k docs in 100-doc template clusters at t=0.8, prefix 3.9 s vs
    count 5.4 s, identical output). Hence two conditions flip to
    'prefix': (a) singleton mass can fill the corpus' prefix slots
    (singles >= (1-t) * postings — prefixes then generate ~no
    candidates) AND (b) the counting pair volume actually dominates
    the index build (v_count >= 4 * postings — otherwise counting is
    already near-linear and the per-doc ordering + exact verify
    overhead cannot pay for itself; the r15 overlap-heavy measurement
    fails (a), the singleton-tail corpus fails (b)). All sums run over
    the COLD shingles only (df <= ``cap`` — both paths drop hot
    shingles, so a stop-word shingle's C(df, 2) must not sway the
    decision)."""
    row = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= cap)
        .agg(
            F.sum("c").alias("postings"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("singles"),
            F.sum(F.expr("c * (c - 1) / 2")).alias("v_count"),
        )
        .first()
    )
    if not row["postings"]:
        return "count"
    return (
        "prefix"
        if row["singles"] >= (1.0 - threshold) * row["postings"]
        and row["v_count"] >= 4 * row["postings"]
        else "count"
    )


def _prefix_pair_shared_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
    max_df_frac: float,
    min_df_cap: int,
    inv: DataFrame | None = None,
) -> DataFrame:
    """AllPairs/PPJoin-style candidate generation (Bayardo et al. 2007;
    Chaudhuri et al. 2006) with the hot-set-corrected prefix length
    recorded in SCALE_NOTES r15: for Jaccard >= t, a qualifying pair
    shares >= ceil(t*|a|) shingles, of which at most h_a can be hot,
    so it shares k_a = max(ceil(t*|a|) - h_a, 1) COLD shingles — and
    by the standard prefix theorem (common global df-ascending order)
    the pair's globally-smallest shared cold shingle sits inside both
    docs' first |cold| - k + 1 shingles. Candidates therefore come
    from an inverted index over PREFIXES only; each candidate is then
    verified EXACTLY via array_intersect over the full shingle sets,
    so the (id_a, id_b, shared, n_a, n_b) frame is value-identical to
    ``_pair_shared_shingles`` after the caller's threshold filter —
    same oracle, different plan. Wins on Zipfian corpora where
    singleton shingles fill the prefixes (see ``_pairgen_probe``);
    loses on overlap-heavy ones where the exact verify outweighs the
    candidate reduction (the r15 measurement)."""
    if inv is None:
        # materialized once over a fanned-out scan (r16): hot-list
        # collect, per-doc ordering, and the exact verify all consume
        # this index (see _pair_shared_shingles)
        inv = materialize(shingle_rows(fan_out(df), text_col, id_col, shingle_n))
    hot_list = _hot_shingle_list(df, inv, id_col, max_df_frac, min_df_cap)
    if hot_list == []:
        stats = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        stats = stats.withColumn("hot_set", F.array().cast("array<string>"))
        inv_cold = inv
    else:
        if hot_list is None:  # bound exceeded -> broadcast-join flag
            hot = _hot_shingles(df, inv, id_col, max_df_frac, min_df_cap)
            flagged = inv.join(
                F.broadcast(hot.withColumn("__hot", F.lit(True))),
                "shingle",
                "left",
            )
            is_hot = F.col("__hot").isNotNull()
        else:
            flagged = inv
            is_hot = F.col("shingle").isin(hot_list)
        stats = flagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.collect_set(F.when(is_hot, F.col("shingle"))).alias("hot_set"),
        )
        inv_cold = flagged.filter(~is_hot).select("doc_id", "shingle")

    dfc = inv_cold.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfs"))
    # per-doc shingles in the GLOBAL (df asc, shingle asc) order — the
    # common order the prefix theorem requires; ties deterministic
    docs = (
        inv_cold.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dfs", "shingle"))
            ).alias("ordered")
        )
        .join(stats, "doc_id")
        .select(
            "doc_id",
            "n_sh",
            "hot_set",
            F.expr("transform(ordered, x -> x.shingle)").alias("cold"),
        )
    )
    # ceil over t*n computed 1e-9 CONSERVATIVE: float64 can overshoot
    # an exact product (0.07 * 100 -> 7.000000000000001 -> ceil 8),
    # which would shorten the prefix and drop pairs the counting
    # path's float filter emits (r16 review). The epsilon dominates
    # the product's rounding error (<= n * ulp(t) ~ 1e-11 at n = 1e6)
    # and at worst lengthens a prefix by one slot — extra candidates
    # are harmless, the verify is exact.
    k = F.greatest(
        F.ceil(F.lit(float(threshold)) * F.col("n_sh") - F.lit(1e-9))
        - F.size("hot_set"),
        F.lit(1),
    )
    prefix_len = F.greatest(F.size("cold") - k + 1, F.lit(0))
    prefix_inv = docs.select(
        "doc_id", F.explode(F.slice("cold", 1, prefix_len)).alias("shingle")
    )
    # same sorted-postings pair expansion as the counting path; cold
    # df <= the hot cap bounds every group here too
    posting = (
        prefix_inv.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1),"
        " i -> transform(slice(ids, 1, i),"
        " a -> struct(a as id_a, ids[i] as id_b))))"
    )
    cand = (
        posting.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    shared = F.size(F.array_intersect(F.col("na.cold"), F.col("nb.cold"))) + (
        F.size(F.array_intersect(F.col("na.hot_set"), F.col("nb.hot_set")))
    )
    return (
        cand.join(docs.alias("na"), F.col("id_a") == F.col("na.doc_id"))
        .join(docs.alias("nb"), F.col("id_b") == F.col("nb.doc_id"))
        .select(
            "id_a",
            "id_b",
            shared.alias("shared"),
            F.col("na.n_sh").alias("n_a"),
            F.col("nb.n_sh").alias("n_b"),
        )
    )


def _pair_shared_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_df_frac: float,
    min_df_cap: int,
    inv: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, shared, n_a, n_b) for every candidate pair sharing
    at least one COLD shingle — the common core of
    ``ngram_jaccard_pairs`` and ``containment_pairs``.

    Skew guard with exactness preserved: the self-join runs on the
    COLD index only (shingles with document frequency <= cap —
    ``_hot_shingles``), so one stop-word trigram cannot create a
    quadratic join group. Each doc's HOT shingles — a provably tiny
    set, at most index_rows/cap distinct values — ride along on the
    per-doc stats table, and the pair's shared count is corrected with
    ``array_intersect`` in the same join that attaches sizes:
    shared = shared_cold + |hot_A ∩ hot_B|, exact for every surfaced
    pair with zero extra shuffles. Only pairs whose shared shingles
    are ALL ultra-common can be missed — such pairs carry no
    discriminative signal for either overlap measure."""
    if inv is None:
        # materialized once over a fanned-out scan (r16): the postings
        # build and the stats aggregation below both consume this
        # index. fan_out first, so the cached partitions carry the
        # session parallelism into every downstream partial
        # aggregation (a 1-partition cache would serialize them;
        # measured matrix in OPTIMIZATION_r16.md)
        inv = materialize(shingle_rows(fan_out(df), text_col, id_col, shingle_n))
    # postings-list pair generation (r15 perf): ONE groupBy(shingle)
    # builds each shingle's sorted doc list; singleton postings — the
    # vast majority of shingles in any real corpus — can never produce
    # a pair and die before any pair expansion, whereas the previous
    # inverted-index SELF-join shuffled every singleton row through
    # both join sides first. r16: this aggregation now ALSO powers hot
    # detection — document frequency is just size(ids) — so the
    # separate full groupBy(shingle) histogram the hot-list collect
    # used to pay (plus its escalating limit-collect re-scans) is
    # gone; the one-shot bounded agg inside _hot_list_from_postings
    # doubles as the eager cache populator for both materializations.
    posting_all = materialize(
        inv.groupBy("shingle").agg(
            F.array_sort(F.collect_list("doc_id")).alias("ids")
        )
    )
    # hot set materialized ONCE (bounded driver list); the empty case
    # (the norm: the cap targets pathological stop-word shingles)
    # skips hot handling entirely — no flag join, no per-doc
    # collect_set, no intersect correction
    hot_list = _hot_list_from_postings(
        df, posting_all, id_col, max_df_frac, min_df_cap
    )
    if hot_list == []:
        stats = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        stats = stats.withColumn(
            "hot_set", F.array().cast("array<string>")
        )
        posting = posting_all
    else:
        if hot_list is None:  # pragma: no cover - bound exceeded
            hot = _hot_from_postings(
                df, posting_all, id_col, max_df_frac, min_df_cap
            )
            flagged = inv.join(
                F.broadcast(hot.withColumn("__hot", F.lit(True))),
                "shingle",
                "left",
            )
            is_hot = F.col("__hot").isNotNull()
            posting = posting_all.join(F.broadcast(hot), "shingle", "left_anti")
        else:
            flagged = inv
            is_hot = F.col("shingle").isin(hot_list)
            posting = posting_all.filter(~F.col("shingle").isin(hot_list))
        stats = flagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.collect_set(F.when(is_hot, F.col("shingle"))).alias("hot_set"),
        )

    # pair expansion is a JVM-side nested transform over the sorted
    # ids (i<j => id_a < id_b, same pair orientation as before); group
    # size is bounded by the hot cap, so the expansion is at most
    # cap^2/2 rows per shingle.
    posting = posting.filter(F.size("ids") >= 2)
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1),"
        " i -> transform(slice(ids, 1, i),"
        " a -> struct(a as id_a, ids[i] as id_b))))"
    )
    shared_cold = (
        posting.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id_a"), F.col("p.id_b"))
        .agg(F.count(F.lit(1)).alias("shared_cold"))
    )
    shared = F.col("shared_cold") + F.size(
        F.array_intersect(F.col("na.hot_set"), F.col("nb.hot_set"))
    )
    return (
        shared_cold.join(stats.alias("na"), F.col("id_a") == F.col("na.doc_id"))
        .join(stats.alias("nb"), F.col("id_b") == F.col("nb.doc_id"))
        .select(
            "id_a",
            "id_b",
            shared.alias("shared"),
            F.col("na.n_sh").alias("n_a"),
            F.col("nb.n_sh").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df_frac: float = 0.2,
    min_df_cap: int = 128,
    mode: str = "count",
) -> DataFrame:
    """Exact Jaccard-similar pairs via the shared-shingle inverted index:
    distinct shingle rows, equi-join on shingle, count shared per
    pair, |A∩B| / (|A| + |B| - |A∩B|). No cross join anywhere.
    Candidate generation and the hot-shingle skew guard (exactness
    preserved) live in ``_pair_shared_shingles``.

    ``mode``: 'count' (default — the r15 measurement showed it wins on
    overlap-heavy corpora and it costs no probe pass), 'prefix'
    (AllPairs prefix filtering — wins on Zipfian corpora, see
    ``_prefix_pair_shared_shingles``), or 'auto' (one count-only
    postings aggregation picks per corpus, ``_pairgen_probe``). All
    three produce value-identical output — the choice is plan shape
    only, so every oracle holds under every mode."""
    inv = None
    if mode == "auto":
        # build the shingle projection ONCE and hand it to the chosen
        # path (r16 review: auto paid a second full tokenize/explode);
        # df.count() on a parquet-backed corpus is metadata-only
        n_docs = df.count()
        inv = materialize(shingle_rows(fan_out(df), text_col, id_col, shingle_n))
        mode = _pairgen_probe(
            inv, threshold, max(float(min_df_cap), max_df_frac * n_docs)
        )
    if mode == "prefix":
        pairs = _prefix_pair_shared_shingles(
            df, text_col, id_col, shingle_n, threshold, max_df_frac,
            min_df_cap, inv=inv,
        )
    elif mode == "count":
        pairs = _pair_shared_shingles(
            df, text_col, id_col, shingle_n, max_df_frac, min_df_cap,
            inv=inv,
        )
    else:
        raise ValueError(
            f"mode must be 'count', 'prefix' or 'auto', got {mode!r}"
        )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard_raw"))
        .filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", dround(F.col("jaccard_raw"), 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_df_frac: float = 0.2,
    min_df_cap: int = 128,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT:
    C(A|B) = |A∩B| / |A| (Broder 1997's containment measure). Jaccard
    misses subset/superset relations — a document embedded whole inside
    a 10x-longer page scores Jaccard ~0.1 but containment ~1.0, and
    such quote-expansions are a major duplication mode in web corpora
    (the motivation for suffix-based dedup in Lee et al. 2022).

    Emits pairs where max(C(A|B), C(B|A)) >= threshold with both
    directional scores; ``contained`` names the side whose shingles
    are covered (the smaller/quoted document, ties to 'a'). Same
    inverted-index plan and hot-shingle exactness guard as
    ``ngram_jaccard_pairs`` via ``_pair_shared_shingles`` — no cross
    join, join groups bounded by the DF cap."""
    pairs = _pair_shared_shingles(
        df, text_col, id_col, shingle_n, max_df_frac, min_df_cap
    )
    c_a = F.col("shared").cast("double") / F.col("n_a")
    c_b = F.col("shared").cast("double") / F.col("n_b")
    return (
        pairs.select(
            "id_a",
            "id_b",
            c_a.alias("ca_raw"),
            c_b.alias("cb_raw"),
        )
        .filter(F.greatest(F.col("ca_raw"), F.col("cb_raw")) >= threshold)
        .select(
            "id_a",
            "id_b",
            dround(F.col("ca_raw"), 6).alias("containment_a"),
            dround(F.col("cb_raw"), 6).alias("containment_b"),
            F.when(F.col("ca_raw") >= F.col("cb_raw"), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("contained"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 48  # 32 bits saturates ~50k docs (measured: the 10x
# replicated sf0.1 corpus produced 150M Hamming<=3 pairs from
# fingerprint collisions); 48 bits keeps collisions discriminative well
# past 10^9 docs while the fingerprint still fits a BIGINT exactly in
# both engines (12 md5 hex chars).
SIMHASH_BANDS = 4  # 12 bits per band; Hamming radius < 4 => exact banding


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """48-bit SimHash over distinct tokens: bit b of the fingerprint is
    the sign of sum over tokens of (+1 if bit b of hash48(token) else
    -1). One explode + one groupBy with 48 conditional sums — all
    JVM-side, map-side combined."""
    toks = (
        df
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(tokens_expr(F.col(text_col)))).alias("tok"),
        )
        .withColumn("h", hash48(F.col("tok")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("bigint").alias("fp"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with Hamming(fp_a, fp_b) <= max_hamming via banded
    equi-join. Exact for max_hamming < SIMHASH_BANDS (pigeonhole: some
    12-bit band must be untouched and therefore equal).

    The band join runs over DISTINCT fingerprints, then expands to doc
    pairs through the fp->doc mapping: corpora cluster heavily on
    identical fingerprints, so the quadratic-in-bucket work scales with
    distinct sketches, not documents."""
    assert max_hamming < SIMHASH_BANDS
    fps = simhash_fingerprints(df, text_col, id_col)
    return hamming_pairs(
        fps,
        id_col="doc_id",
        fp_col="fp",
        bits=SIMHASH_BITS,
        bands=SIMHASH_BANDS,
        max_hamming=max_hamming,
    )


def hamming_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic banded Hamming-distance pair join over any integer
    fingerprint column (SimHash text sketches, perceptual image hashes,
    ...): pairs with Hamming <= ``max_hamming``, EXACT for
    max_hamming < bands (pigeonhole: some band must be untouched and
    therefore equal) — an equi-join on band values, never a cross join.

    The band join runs over DISTINCT fingerprints, then expands to id
    pairs through the fp->id mapping: corpora cluster heavily on
    identical fingerprints, so the quadratic-in-bucket work scales with
    distinct sketches, not rows."""
    assert max_hamming < bands
    # materialized once (r16): the distinct-fp band join plus the two
    # fp->id expansion sides are 3 consumers of the fingerprint table,
    # whose lineage is a full corpus tokenize + hash aggregation
    # EAGER (r16): the consumers launch as concurrent broadcast
    # builds — see tuning.materialize_eager
    fps = materialize_eager(
        fps.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("fp"))
    )
    ufps = fps.select("fp").distinct()
    band_width = bits // bands
    bandvals = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright(F.col("fp"), j * band_width)
                .bitwiseAND(F.lit((1 << band_width) - 1))
                .alias("bval"),
            )
            for j in range(bands)
        ]
    )
    banded = ufps.select("fp", F.explode(bandvals).alias("b")).select(
        "fp", "b.band_idx", "b.bval"
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    # keep BOTH fp orderings: for a cross-fp pair the smaller id can
    # live in either fingerprint; the final id_a < id_b filter picks
    # each id pair exactly once
    fp_pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bval") == F.col("b.bval")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )
    da = fps.select(F.col("fp").alias("fp_a"), F.col("__id").alias("id_a"))
    db = fps.select(F.col("fp").alias("fp_b"), F.col("__id").alias("id_b"))
    return (
        fp_pairs.join(da, "fp_a")
        .join(db, "fp_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# duplicate clustering (connected components over the pair graph)
# --------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_edge_threshold: int = 100_000,
) -> DataFrame:
    """Assign each node of the duplicate-pair graph its connected
    component, labeled by the minimum member id (the canonical
    representative): the dedup step that turns pairwise matches into
    keep/drop groups.

    Two plans behind one contract, chosen by the materialized edge
    count — the same bounded-vs-distributed dichotomy as a broadcast
    threshold:

    * ``<= driver_edge_threshold`` edges (a bounded ~MB collect —
      duplicate-pair graphs are candidate-VERIFIED output, typically
      orders of magnitude smaller than the corpus): one job collects
      the edges via ``limit(threshold+1)`` and a driver union-find
      labels them — no iteration, no per-round job overhead.
    * larger graphs: iterative min-label propagation with pointer
      doubling — each round every node takes the min of its own label,
      its neighbors' labels, AND its label's label (path halving), so
      convergence needs O(log diameter) rounds, not O(diameter). Each
      round is two equi-joins + one groupBy; no driver materialization
      of the graph, so components of any size distribute. Exiting
      without convergence warns loudly instead of silently returning
      partial clusters.

    Both paths emit identical (doc_id, cluster_id=min member) labels
    (equivalence unit-tested across the threshold).
    """
    import warnings

    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if driver_edge_threshold > 0:
        # ONE evaluation decides the plan AND supplies the small-graph
        # data: if limit(t+1) returns <= t rows we already hold every
        # edge, so no second job runs on the expensive pairs pipeline.
        # r16: folded through collect_list so the collect is ONE
        # aggregation job (CollectLimit's escalating partial scans
        # re-ran the expensive pair reduce stage up to 4x on the
        # normal under-threshold result); LocalLimit still bounds
        # memory, and the edge SET is deterministic whenever the
        # driver tier is taken (<= t rows = the whole edge set; the
        # union-find labels are edge-order-independent either way:
        # cluster_id = min member of the connected component).
        head = (
            edges.limit(driver_edge_threshold + 1)
            .agg(F.collect_list(F.struct("a", "b")).alias("e"))
            .first()["e"]
        )
        if len(head) <= driver_edge_threshold:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                a, b = r["a"], r["b"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for node in parent:
                root = find(node)
                cur = comp_min.get(root)
                if cur is None or node < cur:
                    comp_min[root] = node
            rows = [(n, comp_min[find(n)]) for n in parent]
            # derive the output schema from the edge id type (ADVICE
            # r7): the distributed path preserves the input id type, so
            # the fast path must too — string ids would otherwise raise
            # in createDataFrame and int ids would flip dtype depending
            # on which side of the threshold the graph lands
            from pyspark.sql.types import StructField, StructType

            id_type = edges.schema["a"].dataType
            return local_rows_df(
                pairs.sparkSession,
                rows,
                StructType(
                    [
                        StructField("doc_id", id_type),
                        StructField("cluster_id", id_type),
                    ]
                ),
            )
    # undirected: propagate labels both ways. Materialize ONCE — the
    # pairs input is typically a whole candidate+verify pipeline, and
    # without this every iteration (and the convergence check) would
    # recompute it from scratch (measured 10x on the sf0.1 corpus).
    # (Negative result, do not retry: repartitioning on the join key
    # before the checkpoint does NOT save the per-iteration edge-side
    # exchange — under AQE the checkpointed LogicalRDD reports
    # UnknownPartitioning, so EnsureRequirements re-shuffles anyway;
    # verified via executedPlan in r7.)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: follow label -> label-of-label, halving the
        # path to the component minimum each round
        grand = updated.select(
            F.col("node").alias("label"), F.col("label").alias("grand_label")
        )
        updated = updated.join(grand, "label", "left").select(
            "node",
            "old",
            F.least(
                F.col("label"), F.coalesce("grand_label", F.col("label"))
            ).alias("label"),
        )
        # checkpoint FIRST (truncates lineage, one evaluation); the
        # convergence probe is then a filter over the materialized
        # blocks — the previous label rides along as `old`, so no
        # join against the prior frame is needed
        updated = updated.localCheckpoint(eager=True)
        changed = (
            updated.filter(F.col("label") != F.col("old")).limit(1).count()
        )
        labels = updated.drop("old")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"duplicate_clusters did not converge within {max_iterations} "
            f"iterations — returned labels may split components; raise "
            f"max_iterations (rounds needed ~ log2 of component diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Complete the dedup pipeline: cluster the pair graph, then pick
    one canonical representative per cluster (largest ``size_col``,
    ties to the smallest id) and label EVERY document with its cluster,
    its canonical id, and whether it is the keeper. Unclustered
    documents are their own singleton cluster.

    Shape at scale: connected components (see
    :func:`duplicate_clusters`) + one left join to attach labels + ONE
    window over ``cluster_id`` — ``first_value`` over the ordered
    window yields the canonical id without a second join, so the whole
    selection step is a single shuffle keyed on cluster_id. Cluster
    sizes are near-dup group sizes (small, bounded), so no skew salt is
    needed.
    """
    from pyspark.sql import Window

    clusters = duplicate_clusters(pairs)
    labeled = (
        df.select(F.col(id_col).alias("doc_id"), F.col(size_col).alias("__sz"))
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("__sz"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = labeled.withColumn("canonical_id", F.first("doc_id").over(w))
    return out.select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


def fuzzy_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    candidate_jaccard: float = 0.3,
    max_norm_dist: float = 0.4,
) -> DataFrame:
    """Edit-distance near-dup pairs with a Jaccard prefilter: candidate
    pairs come from the shared-shingle inverted index (never O(n^2)),
    and only candidates pay the O(len_a * len_b) Levenshtein verify —
    the standard fuzzy-dedup shape (cheap sketch recall, exact verify
    precision).

    The verify metric is the length-normalized edit distance over the
    whitespace-normalized lowercased text, computed JVM-side with the
    builtin ``levenshtein`` (DuckDB's builtin matches character-for-
    character, keeping the oracle exact). At corpus scale the verify
    joins shuffle only the candidate pairs plus two text lookups keyed
    on doc id.
    """
    cands = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n, threshold=candidate_jaccard
    )
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    texts = df.select(F.col(id_col).alias("doc_id"), norm.alias("t"))
    paired = (
        cands.join(
            texts.select(
                F.col("doc_id").alias("id_a"), F.col("t").alias("ta")
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("id_b"), F.col("t").alias("tb")
            ),
            "id_b",
        )
    )
    dist = F.levenshtein("ta", "tb")
    norm_dist = dist.cast("double") / F.greatest(
        F.length("ta"), F.length("tb")
    )
    return (
        paired.select(
            "id_a",
            "id_b",
            "jaccard",
            dist.cast("bigint").alias("edit_dist"),
            dround(norm_dist, 6).alias("norm_dist"),
        )
        .filter(F.col("norm_dist") <= max_norm_dist)
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot dedup: flag documents of a NEW batch that already
    exist (by normalized-text hash) in a previously-ingested corpus —
    the incremental-crawl shape, where the historical side is orders of
    magnitude larger than the delta and must never be re-paired with
    itself.

    Returns one row per new doc: (doc_id, is_novel, dup_of) where
    dup_of is the smallest matching historical id (NULL when novel).

    Scale shape: both sides reduce to (hash, min_id) aggregates —
    map-side combined, one row per distinct text — and meet in ONE
    equi-join on the hash. The historical side is pre-aggregated, so
    the join input is its distinct-text count, not its row count; no
    pairwise work anywhere.
    """
    new_hashed = new_df.select(
        F.col(id_col).alias("doc_id"),
        normalized_text_hash(F.col(text_col)).alias("h"),
    )
    seen_min = seen_text_index(seen_df, text_col, id_col)
    return (
        new_hashed.join(seen_min, "h", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("is_novel"),
            "dup_of",
        )
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seen_bands: DataFrame | None = None,
    seen_inv: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot NEAR-duplicate detection: flag documents of a new
    crawl batch whose Jaccard similarity to some previously-ingested
    document reaches ``threshold`` — the fuzzy twin of
    ``incremental_dedup`` (which only catches byte-identical text).

    Returns one row per new doc: (doc_id, is_novel, dup_of, jaccard)
    where dup_of is the best-matching historical id (highest exact
    Jaccard, ties to the smallest id; NULL when novel).

    Scale shape: both sides reduce to LSH band buckets; candidates come
    from ONE new-side x seen-side equi-join on (band, bucket) — the
    historical corpus is never self-joined — and exact-Jaccard
    verification touches candidate pairs only, through the inverted
    index. Work scales with |delta| x collision rate, not |corpus|^2.

    At crawl scale the historical side's band table and inverted index
    are PER-SNAPSHOT ARTIFACTS: persist them once
    (``snapshot_minhash_artifacts``) and pass them as ``seen_bands`` /
    ``seen_inv`` so each batch pays only delta-side compute plus the
    joins (measured 7.0 s -> 3.4 s at a 10x corpus, SCALE_NOTES r6 —
    the gap is the corpus re-signature this skips, and it widens
    linearly with corpus size).
    """
    new_ids = new_df.select(F.col(id_col).alias("doc_id"))
    nb = _band_rows(
        minhash_signatures(new_df, text_col, id_col, num_hashes, shingle_n),
        num_hashes,
        bands,
    )
    sb = (
        seen_bands
        if seen_bands is not None
        else _band_rows(
            minhash_signatures(
                seen_df, text_col, id_col, num_hashes, shingle_n
            ),
            num_hashes,
            bands,
        )
    )
    cand = (
        nb.alias("n")
        .join(
            sb.alias("s"),
            (F.col("n.band_idx") == F.col("s.band_idx"))
            & (F.col("n.bucket") == F.col("s.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("id_a"), F.col("s.doc_id").alias("id_b")
        )
        .distinct()
    )
    inv_new = shingle_rows(new_df, text_col, id_col, shingle_n)
    inv_seen = (
        seen_inv
        if seen_inv is not None
        else shingle_rows(seen_df, text_col, id_col, shingle_n)
    )
    sizes_new = inv_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes_seen = inv_seen.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        cand.join(inv_new.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(
            inv_seen.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("shared")
    )
    best = (
        shared.join(sizes_new.alias("na"), F.col("id_a") == F.col("na.doc_id"))
        .join(sizes_seen.alias("nb"), F.col("id_b") == F.col("nb.doc_id"))
        .select("id_a", "id_b", jac.alias("jraw"))
        .filter(F.col("jraw") >= threshold)
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(
            F.max_by(
                F.col("id_b"), F.struct(F.col("jraw"), (-F.col("id_b")).alias("ni"))
            ).alias("dup_of"),
            F.max("jraw").alias("jraw"),
        )
    )
    return new_ids.join(best, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNull().alias("is_novel"),
        "dup_of",
        dround(F.col("jraw"), 6).alias("jaccard"),
    )


def snapshot_minhash_artifacts(
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(band table, inverted index) for an ingested corpus snapshot —
    the persist-once artifacts ``incremental_minhash_dedup`` consumes
    via ``seen_bands``/``seen_inv`` so per-batch cost is
    delta-proportional. Write both with ``.write.parquet`` (or bucketed
    by bucket/shingle via io/bucketed.py for an exchange-free join)."""
    sigs = minhash_signatures(seen_df, text_col, id_col, num_hashes, shingle_n)
    return (
        _band_rows(sigs, num_hashes, bands),
        shingle_rows(seen_df, text_col, id_col, shingle_n),
    )
