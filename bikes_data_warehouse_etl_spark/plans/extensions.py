"""Extension query surface: the large-scale training-data operators.

Registers into the same QUERIES dict as plans/synthetic.py — dedup
family, similarity search, text analysis, and event-stream analytics,
each with a DuckDB oracle generated from the same formula so the two
engines agree bit-for-bit (md5-based portable hashing, integer
basis-point similarity, left-to-right double folds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.text import (
    fingerprint,
    lang_id_guess,
    punct_ratio,
    quality_score,
    stopword_count,
    token_count,
)
from bikes_data_warehouse_etl_spark.operators.dedup import (
    fingerprint_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_groups,
)
from bikes_data_warehouse_etl_spark.operators.similarity import (
    brute_force_topk,
    knn_basket_bucketed,
    lsh_topk,
)
from bikes_data_warehouse_etl_spark.plans.synthetic import _q, _t
from bikes_data_warehouse_etl_spark.sources.parquet import read_table

# ---------------------------------------------------------------------------
# DuckDB SQL mirrors of functions/text.py (generated, kept adjacent to
# the Spark builders they must match)
# ---------------------------------------------------------------------------


def _sql_hash64(x: str) -> str:
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


_SQL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_SQL_TOKENS = f"string_split_regex({_SQL_NORM}, '\\s+')"
# k=3 word shingles, 1-indexed inclusive slices
_SQL_SHINGLES = (
    f"list_transform(generate_series(1, len({_SQL_TOKENS}) - 2), "
    f"i -> array_to_string(({_SQL_TOKENS})[i:i+2], ' '))"
)


def _sql_minhash(j: int, shingles: str = "sh") -> str:
    """Mirror of operators/dedup.py minhash_mins: base = md5-hash64 of
    the shingle masked to 31 bits; family j = (A_j·base + B_j) mod P."""
    from bikes_data_warehouse_etl_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    a, b = minhash_coeffs(8)[j]
    base = f"({_sql_hash64('s')} & {MINHASH_P})"
    return (
        f"list_min(list_transform({shingles}, "
        f"s -> ({a} * {base} + {b}) % {MINHASH_P}))"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_SQL_PUNCT = (
    "round(CASE WHEN length(text) > 0 THEN "
    "length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / length(text) "
    "ELSE 0.0 END, 4)"
)
_SQL_NTOK = (
    f"CAST(CASE WHEN len({_SQL_TOKENS}) = 1 AND ({_SQL_TOKENS})[1] = '' THEN 0 "
    f"ELSE len({_SQL_TOKENS}) END AS BIGINT)"
)


def _sql_stop(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({inlist}))) AS BIGINT)"
    )


from bikes_data_warehouse_etl_spark.functions.text import STOPWORDS  # noqa: E402

_SQL_STOP_EN = _sql_stop(STOPWORDS["en"])


_SQL_BPE = (
    "CAST(len(regexp_extract_all(lower(text), "
    "'[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]+')) AS BIGINT)"
)


@_q(
    "text_metrics",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           {_SQL_NTOK} AS n_tokens,
           {_SQL_BPE} AS n_bpe_tokens,
           {_SQL_PUNCT} AS punct_ratio,
           {_SQL_STOP_EN} AS stop_en,
           {_sql_hash64("array_to_string(list_sort(list_distinct(" + _SQL_TOKENS + ")), ' ')")} AS fp
    FROM documents
    """,
)
def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (whitespace + BPE-ish
    sub-word estimate) + order-insensitive fingerprint — all row-local
    expressions (one scan, zero shuffles, zero UDFs). Tokenization is
    materialized once per row in its own projection and shared by the
    three token-consuming metrics."""
    from bikes_data_warehouse_etl_spark.functions.text import (
        bpe_ish_token_count,
        tokens,
    )

    d = _t(spark, sf_dir, "documents")
    tokd = d.select("doc_id", "text", tokens("text").alias("__toks__"))
    t = F.col("__toks__")
    return tokd.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        token_count("text", t).alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_count("text", "en", t).alias("stop_en"),
        fingerprint("text", toks=t).alias("fp"),
    )


_SQL_QUALITY = (
    f"round(0.5 * least({_SQL_NTOK} / 100.0, 1.0)"
    f" + 0.3 * (1 - least({_SQL_PUNCT} * 4, 1.0))"
    f" + 0.2 * least({_SQL_STOP_EN} / 5.0, 1.0), 4)"
)

_SQL_LANG = (
    "CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh' "
    "WHEN GREATEST(c_en, c_es, c_de, c_fr) = 0 THEN 'und' "
    "WHEN c_en = GREATEST(c_en, c_es, c_de, c_fr) THEN 'en' "
    "WHEN c_es = GREATEST(c_en, c_es, c_de, c_fr) THEN 'es' "
    "WHEN c_de = GREATEST(c_en, c_es, c_de, c_fr) THEN 'de' "
    "ELSE 'fr' END"
)


@_q(
    "lang_quality",
    f"""
    WITH counted AS (
      SELECT doc_id, text,
             {_sql_stop(STOPWORDS['en'])} AS c_en,
             {_sql_stop(STOPWORDS['es'])} AS c_es,
             {_sql_stop(STOPWORDS['de'])} AS c_de,
             {_sql_stop(STOPWORDS['fr'])} AS c_fr
      FROM documents
    )
    SELECT doc_id, {_SQL_LANG} AS lang_guess, {_SQL_QUALITY} AS quality
    FROM counted
    """,
)
def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword votes + CJK short-circuit) and a
    composite quality score — the filter stage of a pretraining data
    pipeline. One shared tokenization per row feeds all six
    token-consuming sub-expressions."""
    from bikes_data_warehouse_etl_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    tokd = d.select("doc_id", "text", tokens("text").alias("__toks__"))
    t = F.col("__toks__")
    return tokd.select(
        "doc_id",
        lang_id_guess("text", t).alias("lang_guess"),
        quality_score("text", t).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@_q(
    "dedup_fingerprint",
    f"""
    SELECT {_sql_hash64("array_to_string(list_sort(list_distinct(" + _SQL_TOKENS + ")), ' ')")} AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_cnt
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the token-set fingerprint: catches reordered
    /re-whitespaced duplicates that exact hashing misses. One shuffle
    on a 64-bit key regardless of document size."""
    return fingerprint_dedup(_t(spark, sf_dir, "documents"))


@_q(
    "minhash_signatures",
    f"""
    WITH shingled AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
    )
    SELECT doc_id,
           {_sql_minhash(0)} AS mh0, {_sql_minhash(1)} AS mh1,
           {_sql_minhash(2)} AS mh2, {_sql_minhash(3)} AS mh3,
           {_sql_minhash(4)} AS mh4, {_sql_minhash(5)} AS mh5,
           {_sql_minhash(6)} AS mh6, {_sql_minhash(7)} AS mh7
    FROM shingled
    WHERE len(sh) > 0
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-family MinHash signatures over 3-word shingles.

    One md5 per shingle + 8 affine universal-hash transforms, explode →
    map-side-combined min aggregation: the shuffle carries 8 longs per
    document regardless of document size.
    """
    from bikes_data_warehouse_etl_spark.operators.dedup import minhash_mins

    d = _t(spark, sf_dir, "documents")
    return minhash_mins(d, "text", "doc_id", 8, 3).withColumnRenamed("id", "doc_id")


@_q(
    "winnowing_fps",
    f"""
    WITH norm AS (SELECT doc_id, {_SQL_NORM} AS s FROM documents),
    kg AS (
      SELECT doc_id, i, length(s) - 7 AS n_kg,
             {_sql_hash64("substr(s, CAST(i AS INT), 8)")} AS h
      FROM norm, unnest(generate_series(1, length(s) - 7)) AS t(i)
      WHERE length(s) >= 8
    ),
    wins AS (
      SELECT doc_id, i, n_kg,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM kg
    ),
    fps AS (
      SELECT DISTINCT doc_id, wmin FROM wins WHERE i <= n_kg - 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
           MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
    FROM fps GROUP BY doc_id
    """,
)
def q_winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints, Schleimer et al.:
    the minimum hash of every 4-window over the char-8-gram hash
    sequence, deduplicated. Summarized (count, min, max) per doc.

    Entirely ROW-LOCAL (round-6 rewrite): the k-gram hash array is
    materialized once per document behind a Generate boundary —
    ``explode(array(transform(...)))`` — because ProjectCollapsing
    would otherwise inline the per-position md5 transform into every
    window slice, re-evaluating it O(n) times per position (the same
    O(n^2) trap the original explode form existed to avoid, measured
    30x). Window minima are then 4-wide ``slice``/``array_min`` reads
    of that bound array, and the distinct/count/min/max all collapse to
    array expressions.

    Scale: ZERO shuffles at production split counts — the previous
    shape paid a doc-partitioned sort window over one row per CHARACTER
    plus a distinct and a groupBy exchange (~50M exploded rows, ~1.6 GB
    on the wire at sf0.1); this one streams documents through a single
    projection, so parallelism = input splits. ``widen_scan`` adds a
    text-sized round-robin exchange ONLY when splits < cores (the
    single-file testdata pins a shuffle-free plan to one core; at scale
    it is a no-op and the plan stays exchange-free). Quiet sf0.1 A/B:
    4.8 s (window form) -> 1.75 s warm median. Per-doc arrays are
    n_chars longs (≲ tens of KB) — far under any row-size concern."""
    from bikes_data_warehouse_etl_spark.functions.text import hash64, normalize_text
    from bikes_data_warehouse_etl_spark.sources.parquet import widen_scan

    d = _t(spark, sf_dir, "documents")
    norm = widen_scan(d.select("doc_id", "text"), spark).select(
        "doc_id", normalize_text("text").alias("s")
    ).filter(F.length("s") >= 8)
    hs = norm.select(
        "doc_id",
        F.explode(
            F.array(
                F.transform(
                    F.sequence(F.lit(1), F.length("s") - 7),
                    lambda i: hash64(F.col("s").substr(i, F.lit(8))),
                )
            )
        ).alias("hs"),
    )
    # sequence(1, n) steps DOWNWARD when n < 1 — guard short docs
    # (fewer than 4 k-grams have no complete window and emit no row).
    # Window minima are least(element_at x4), NOT array_min(slice(...)):
    # higher-order lambdas run interpreted, and slice allocates a fresh
    # 4-element array per position — measured 4x the whole query at sf1
    fps = hs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.when(
                    F.size("hs") >= 4,
                    F.sequence(F.lit(1), F.size("hs") - 3),
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda j: F.least(
                    F.element_at("hs", j),
                    F.element_at("hs", j + 1),
                    F.element_at("hs", j + 2),
                    F.element_at("hs", j + 3),
                ),
            )
        ).alias("fps"),
    ).filter(F.size("fps") > 0)
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def _sql_lsh_candidates() -> str:
    from bikes_data_warehouse_etl_spark.operators.dedup import MINHASH_P

    union_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{2*b} * {MINHASH_P} + mh{2*b+1} AS bucket FROM sig"
        for b in range(4)
    )
    return f"""
    WITH shingled AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash(0)} AS mh0, {_sql_minhash(1)} AS mh1,
             {_sql_minhash(2)} AS mh2, {_sql_minhash(3)} AS mh3,
             {_sql_minhash(4)} AS mh4, {_sql_minhash(5)} AS mh5,
             {_sql_minhash(6)} AS mh6, {_sql_minhash(7)} AS mh7
      FROM shingled WHERE len(sh) > 0
    ),
    banded AS ({union_bands}),
    sized AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n FROM banded
      ) WHERE bucket_n <= 50
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS band_matches
    FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


@_q("lsh_candidates", _sql_lsh_candidates())
def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH candidate generation (shingle → signature →
    band pairing → bucket join): docs agreeing on any of 4 two-hash
    bands become candidate pairs, with a 50-doc bucket-size skew cap.
    Feeds the exact-Jaccard verification stage (neardup_jaccard)."""
    from bikes_data_warehouse_etl_spark.operators.dedup import minhash_candidates

    d = _t(spark, sf_dir, "documents")
    return minhash_candidates(d, n_hashes=8, bands=4, max_bucket=50).select(
        "id_a", "id_b", F.col("band_matches").cast("long").alias("band_matches")
    )


# Shared CTE block: distinct shingles → 64-bit hashes → per-doc sizes →
# pairs sharing ≥1 shingle. Reused by neardup_jaccard here and by the
# asymmetric-containment query in plans/pipeline_ops6.py.
_SQL_NEARDUP_CTES = f"""
    WITH sh_str AS (
      SELECT doc_id AS id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM documents
    ),
    sh AS (SELECT id, {_sql_hash64('s')} AS s FROM sh_str),
    sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY a.id, b.id
    )"""

def _sql_neardup(threshold_bp: int = 2000) -> str:
    return f"""
    {_SQL_NEARDUP_CTES}
    SELECT id_a, id_b, common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(FLOOR(common * 10000 / (sa.n_sh + sb.n_sh - common)) AS BIGINT) AS jaccard_bp
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE FLOOR(common * 10000 / (sa.n_sh + sb.n_sh - common)) >= {threshold_bp}
    """


_SQL_NEARDUP = _sql_neardup(2000)


@_q("neardup_jaccard", _SQL_NEARDUP)
def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (≥ 0.2), integer basis
    points. The explode+self-join is the verification stage of the LSH
    pipeline; standalone it bounds work to pairs sharing ≥1 shingle."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )


@_q("neardup_jaccard_fast", _SQL_NEARDUP)
def q_neardup_jaccard_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of ``neardup_jaccard``: shingles hashed with
    native ``xxhash64`` (one JVM pass) instead of the md5-prefix
    portable hash. Jaccard counts are invariant under any injective
    per-shingle hash, so the SAME DuckDB oracle must hash-match — the
    oracle check doubles as a collision/self-consistency proof, and the
    bench delta vs ``neardup_jaccard`` isolates the hash cost."""
    from bikes_data_warehouse_etl_spark.functions.text import hash64_fast

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, hash_fn=hash64_fast
    )


# Corpus-size threshold above which the production LSH path widens its
# banding. The round-5 sf1 matrix measured the 8x4 residual exactly
# once (2559/2560, a genuine all-bands miss on a J=0.9166 pair,
# p ≈ 7e-4); doubling to 16 hashes x 8 two-row bands drops the miss
# probability to (1-J²)⁸ (≈ 2.8e-4 at the J=0.8 verify threshold,
# 4e-7 for the pair that actually missed) at exactly 2x signature
# cost. Below the threshold the narrow config is kept so the gated
# sf0.001/0.01/0.1 plans (and their bench profile) are unchanged.
_LSH_FAST_WIDE_DOCS = 20_000


def lsh_fast_params(n_docs: int) -> tuple[int, int]:
    """(n_hashes, bands) for `lsh_candidates_fast`, by corpus size."""
    return (16, 8) if n_docs > _LSH_FAST_WIDE_DOCS else (8, 4)


@_q("lsh_candidates_fast", _sql_neardup(8000))
def q_lsh_candidates_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash LSH dedup pipeline end-to-end: xxhash64 minhash
    signatures → banded bucket join → candidate pairs → exact-Jaccard
    verification at 0.8. The emitted VERIFIED pair set is
    hash-function-independent whenever the LSH stage has full recall at
    the verify threshold, so the md5-free production path gets a real
    DuckDB oracle (the raw candidate set, by contrast, depends on the
    hash family — that unverifiable intermediate is no longer emitted).

    Recall argument — with its preconditions, which are CHECKED, not
    assumed: with b two-row bands a pair of Jaccard J misses every band
    with probability (1-J²)^b; J=1 pairs are recovered under any
    injective hash (identical shingle sets ⇒ identical signatures)
    *provided no bucket exceeds the max_bucket=50 skew cap* — a dropped
    boilerplate bucket loses even identical-doc pairs, so the oracle
    equality is data-dependent. `tests/test_text_dedup.py::
    test_lsh_candidates_fast_recall_precondition` pins
    `lsh_dropped_buckets == 0` with the query's exact LSH parameters at
    the oracle-checked sfs. Banding is SCALE-AWARE via
    `lsh_fast_params` (a parquet-footer count, metadata-only): 8
    hashes x 4 bands up to 20k docs — empirically full recall at
    sf0.001/0.01/0.1 (28/25/256 pairs vs the exhaustive exact-Jaccard
    set) — and 16 x 8 above (sf1/sf10 corpora), which recovered the
    one sf1 pair the narrow config missed in round 5 (J=0.9166,
    12-shingle doc, p_miss 7e-4 → 4e-7) and re-closed the sf1 matrix
    at 2560/2560. At 100 TB keep widening by the same rule (1-row
    bands give miss ≈ (1-J)^(2b)) and keep `lsh_dropped_buckets` in
    the job as the coverage alert; the verify stage re-scores
    candidates exactly either way, so precision is always 1."""
    from bikes_data_warehouse_etl_spark.functions.text import hash64_fast
    from bikes_data_warehouse_etl_spark.operators.dedup import minhash_candidates

    d = _t(spark, sf_dir, "documents")
    n_hashes, bands = lsh_fast_params(d.count())
    cand = minhash_candidates(
        d, n_hashes=n_hashes, bands=bands, max_bucket=50, hash_fn=hash64_fast
    )
    return ngram_jaccard_pairs(
        d, threshold=0.8, candidates=cand, hash_fn=hash64_fast
    )


@_q(
    "simhash_groups",
    f"""
    WITH hs AS (
      SELECT doc_id, list_transform({_SQL_TOKENS}, t -> {_sql_hash64('t')}) AS h
      FROM documents
    ),
    sig AS (
      SELECT doc_id, {' + '.join(
          f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {2**b} ELSE 0 END)"
          for b in range(16)
      )} AS simhash
      FROM hs
    )
    SELECT CAST(simhash AS BIGINT) AS simhash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           array_to_string(list_sort(list(doc_id)), ',') AS members_csv
    FROM sig GROUP BY simhash
    """,
)
def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup groups (identical signature = candidate
    group). Signature is row-local; one shuffle on the 16-bit key."""
    return simhash_groups(_t(spark, sf_dir, "documents"), bits=16)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------
_SQL_COS = (
    "CASE WHEN sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0 "
    " AND sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0 "
    "THEN list_sum(list_transform(list_zip(e.embedding, q.embedding), "
    "     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) "
    " / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "   * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) "
    "END"
)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return list(row["embedding"])


@_q(
    "embedding_topk",
    f"""
    SELECT e.vec_id, round({_SQL_COS}, 6) AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the vec_id=0 query vector —
    the ANN correctness baseline. Per-row cosine is a codegen'd array
    fold; top-k is TakeOrderedAndProject (no global sort/shuffle)."""
    qv = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return brute_force_topk(emb, qv, k=10)


@_q(
    "ann_lsh_topk",
    f"""
    WITH b AS (
      SELECT e.vec_id, round({_SQL_COS}, 6) AS cos_sim,
             CAST(list_sum(list_transform(generate_series(1, 8),
                  i -> CASE WHEN e.embedding[i] > 0 THEN (1 << (i-1)) ELSE 0 END)) AS BIGINT) AS bucket,
             CAST(list_sum(list_transform(generate_series(1, 8),
                  i -> CASE WHEN q.embedding[i] > 0 THEN (1 << (i-1)) ELSE 0 END)) AS BIGINT) AS qbucket
      FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM b
    WHERE bucket = qbucket
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: probe only the query's 8-bit sign-LSH
    bucket (~1/256 of the data). With the table bucketed on this key,
    the filter becomes partition pruning — the 100 TB scale path."""
    qv = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return lsh_topk(emb, qv, k=10, n_bits=8)


@_q(
    "embedding_neardup",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(generate_series(1, 12),
                  i -> CASE WHEN embedding[i] > 0 THEN (1 << (i-1)) ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings
    )
    SELECT e.vec_id AS id_a, q.vec_id AS id_b,
           CAST(FLOOR(round({_SQL_COS}, 6) * 10000) AS BIGINT) AS cos_bp
    FROM b e JOIN b q ON e.bucket = q.bucket AND e.vec_id < q.vec_id
    WHERE FLOOR(round({_SQL_COS}, 6) * 10000) >= 3000
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.30) restricted to
    shared 12-bit sign-LSH buckets.

    Scale: the BASKET form (`knn_basket_bucketed`) — one shuffle
    collects each bucket's vectors once; all in-bucket pairs are
    generated and scored row-locally in a codegen'd higher-order
    expression. The previous bucketed self-JOIN duplicated every
    vector per pair (bucket size ~b ⇒ b copies; ~30 GB of array bytes
    through the join at sf10, exp 1.27 on the scale ladder — the
    suite's worst). Identical arithmetic (same dot fold, norms
    computed per vector before collecting), so the oracle hash is
    unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_basket_bucketed(emb, n_bits=12, min_cos_bp=3000)


@_q(
    "ivf_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
    ),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    -- rank centroids against the query; probe the 4 nearest lists
    probe AS (
      SELECT cid FROM (
        SELECT e.cid, {_SQL_COS.replace('e.embedding', 'e.embedding').replace('q.embedding', 'q.embedding')} AS cos_c,
               ROW_NUMBER() OVER (ORDER BY {_SQL_COS} DESC, e.cid ASC) AS rnk
        FROM cents e, qv q
      ) WHERE rnk <= 4
    ),
    -- assign every vector to its nearest centroid (ties -> lowest cid)
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, q.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQL_COS.replace('q.embedding', 'q.cemb')} DESC, q.cid ASC) AS rnk
        FROM embeddings e, (SELECT cid, embedding AS cemb FROM cents) q
        WHERE e.vec_id <> 0
      ) WHERE rnk = 1
    )
    SELECT e.vec_id, round({_SQL_COS}, 6) AS cos_sim
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN probe p ON p.cid = a.cid, qv q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: 16 deterministic coarse
    centroids, probe the 4 nearest inverted lists, exact-rank inside —
    the scale path where assignment is written once
    (partitionBy centroid_id) and probes become partition pruning."""
    from bikes_data_warehouse_etl_spark.operators.similarity import (
        ivf_centroids_from_seed_rows,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = ivf_centroids_from_seed_rows(emb, 16)
    qv = _query_vec(spark, sf_dir)
    return ivf_topk(emb.filter(F.col("vec_id") != 0), centroids, qv, k=10, n_probe=4)


# ---------------------------------------------------------------------------
# Event analytics (batch twins of the streaming pipeline)
# ---------------------------------------------------------------------------
@_q(
    "events_tumbling",
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream (batch
    form; the streaming twin in streaming/pipeline.py uses F.window +
    watermark). Window keys as epoch seconds; values in integer cents."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )


@_q(
    "events_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
             LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
      FROM events
    ),
    marked AS (
      SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(es) AS BIGINT) AS start_es,
           CAST(MAX(es) - MIN(es) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    marker → running sum → per-session rollup. One shuffle on user_id;
    both window functions share the partitioning. The streaming twin is
    applyInPandasWithState / session_window."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("es"), "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "is_new",
        F.when(
            F.lag("es").over(w).isNull() | (F.col("es") - F.lag("es").over(w) > 1800),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("es").cast("long").alias("start_es"),
        (F.max("es") - F.min("es")).cast("long").alias("duration_s"),
    )


@_q(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props → typed column → rollup
    (get_json_object stays JVM-side; at scale prefer from_json with an
    explicit schema so the parse happens once)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Multimodal: the decode stub is md5-arithmetic (operators/multimodal.py:69),
# so the whole Arrow/mapInPandas path IS oracle-checkable — DuckDB recomputes
# width/height/channels from md5 hex bytes and the bin-6 histogram count
# (bytes 0x60-0x6F == chars `a-o; the corpus is pure ASCII so char == byte)
# via regexp stripping. feat6_cnt is emitted as an exact integer
# (count = round(normalized_bin * n_bytes)) so it hash-matches.
# ---------------------------------------------------------------------------
@_q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           64 + ('0x' || substr(md5(text), 1, 2))::INT % 192 AS width,
           64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS height,
           1 + ('0x' || substr(md5(text), 5, 2))::INT % 3 AS channels,
           CAST(length(text) - length(regexp_replace(text, '[`a-o]', '', 'g'))
                AS BIGINT) AS feat6_cnt
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode + feature extraction through mapInPandas
    (Arrow-batched). Documents stand in as opaque payloads; the decode
    stub is deterministic md5 arithmetic (see operators/multimodal.py),
    which is what makes the full Python-worker path oracle-verifiable."""
    from bikes_data_warehouse_etl_spark.operators.multimodal import (
        decode_media,
        documents_as_media,
    )

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    decoded = decode_media(media)
    return decoded.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        "channels",
        # features[7] (1-based) = normalized count of bytes with high nibble
        # 6; un-normalize to the exact integer count for cross-engine hashing
        F.round(F.element_at("features", 7) * F.col("n_bytes"))
        .cast("long")
        .alias("feat6_cnt"),
    )
