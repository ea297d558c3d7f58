"""Deduplication operator family for 100 TB document pipelines.

Five strategies, cheapest-first:

* exact         — hash-groupBy on content (one shuffle on a 64-bit key)
* fingerprint   — order-insensitive token-set hash (catches shuffles/
                  re-whitespacing)
* simhash       — Hamming-close bit signatures bucketed by band
* minhash LSH   — shingle → minhash signature → banded bucket join →
                  candidate pairs → exact Jaccard verification
* embedding     — sign-LSH bucket + cosine threshold (near-dup by
                  semantic similarity)

Scale anatomy (minhash LSH, the workhorse): signature computation is
row-local (array ops, no explode); the only shuffles are the band-bucket
groupBys, whose keys are (band_id, band_hash) — high cardinality, well
distributed. Candidate pairs are generated per-bucket, so skew is
bounded by bucket size; a bucket-size cap guards against degenerate
buckets (boilerplate text). Verification re-computes true Jaccard only
on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.text import (
    fingerprint,
    hash64,
    tokens,
    word_shingles_from_tokens,
)

__all__ = [
    "minhash_coeffs",
    "minhash_mins",
    "exact_dedup",
    "fingerprint_dedup",
    "minhash_candidates",
    "lsh_dropped_buckets",
    "ngram_jaccard_pairs",
    "simhash_per_doc",
    "simhash_groups",
]

# Every operator in this family takes ``hash_fn``: ``hash64`` (md5-prefix,
# bit-for-bit reproducible in DuckDB → used wherever an oracle must match)
# or ``hash64_fast`` (xxhash64, one JVM pass, no hex round-trip → the
# production path at scale). Outputs that only COUNT hashed elements
# (exact-Jaccard pairs) are hash_fn-invariant; outputs that EMIT hash
# values (minhash signatures, LSH buckets, fingerprints) change value but
# keep identical statistical behavior — tests/test_text_dedup.py pins the
# self-consistency of the two paths.

# Universal-hash family over the 31-bit base hash: h_j = (A_j·h + B_j) mod P.
# All arithmetic stays under 2^62, so it is overflow-free and portable to
# any engine with 64-bit integers (the DuckDB oracle mirrors it exactly).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            (1_103_515_245 * (j + 1)) % MINHASH_P or 1,
            (12_345 + 2_654_435_761 * j) % MINHASH_P,
        )
        for j in range(n_hashes)
    ]


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(id, sh): one row per distinct shingle per doc. Tokenization is
    materialized in its own projection first (referenced k+1 times by
    the shifted slices, it survives CollapseProject) so the tokenize
    regexes run once per row, not once per slice — measured 10x on the
    signature stage at sf0.1."""
    from bikes_data_warehouse_etl_spark.sources.parquet import widen_scan

    # tokenize+shingle is the CPU-heavy stage of every minhash/LSH/
    # jaccard query and runs at scan parallelism — widen_scan lifts it
    # off the testdata's single file split (no-op at production split
    # counts; see its docstring)
    wide = widen_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__")),
        df.sparkSession,
    )
    tokd = wide.select("id", tokens("__text__").alias("__toks__"))
    return tokd.select(
        "id",
        F.explode(
            F.array_distinct(
                word_shingles_from_tokens(F.col("__toks__"), shingle_k)
            )
        ).alias("sh"),
    )


def minhash_mins(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 3,
    hash_fn=hash64,
) -> DataFrame:
    """MinHash signatures via explode + partial-aggregate min.

    Each shingle is md5-hashed ONCE; the ``n_hashes`` families are
    cheap affine transforms of that base hash. The groupBy(min…) emits
    map-side partials, so the shuffle carries only ``n_hashes`` longs
    per document — the 100 TB-safe shape (contrast: evaluating
    ``n_hashes`` array-fold expressions per row duplicates the whole
    tokenize+shingle pipeline per family under interpreted
    higher-order functions; measured 30x slower at sf0.1).

    Docs with fewer than ``shingle_k`` tokens produce no rows.
    Returns (id, mh0..mh{n-1}).
    """
    # distinct within doc: min over a multiset equals min over the set,
    # so deduplicating shingles first just saves md5 calls
    sh = _exploded_shingles(df, text_col, id_col, shingle_k)
    base = sh.select(
        "id", hash_fn("sh").bitwiseAND(F.lit(MINHASH_P)).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return base.groupBy("id").agg(*aggs)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_fn=hash64
) -> DataFrame:
    """Keep the lowest id per exact content; adds ``dup_cnt``.

    Groups by a 64-bit content hash, NOT the raw text — the shuffle key
    is 8 bytes regardless of document size (shuffling full bodies is
    the classic 100 TB dedup mistake). A hash collision merges distinct
    documents; at 60-bit width that is ~n²/2⁶¹ expected collisions —
    carry ``min(text)`` downstream if exact verification is required.
    Returns (content_hash, keep_<id>, dup_cnt)."""
    return (
        df.select(id_col, hash_fn(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_fn=hash64
) -> DataFrame:
    """Group by order-insensitive token-set fingerprint."""
    return (
        df.select(id_col, fingerprint(text_col, hash_fn).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def _banded_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    hash_fn,
) -> DataFrame:
    """(id, band, bucket, bucket_n): one row per doc×band with the
    band's bucket id and the bucket's population — the shared stage of
    candidate generation and drop accounting."""
    if n_hashes % bands != 0:
        # silently flooring rows_per_band would compute-and-discard the
        # trailing minhashes AND change the recall the banding formulas
        # promise — a configuration error, not a preference
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}): "
            f"a {n_hashes // bands}-row banding would ignore the last "
            f"{n_hashes % bands} minhash(es)"
        )
    rows_per_band = n_hashes // bands
    sig = minhash_mins(df, text_col, id_col, n_hashes, shingle_k, hash_fn)

    # band bucket id: pair the band's minhashes injectively
    # (each mh < P, so mh_a·P + mh_b … fits comfortably in int64 for
    # rows_per_band ≤ 2; longer bands fold through the content hash)
    def band_bucket(b: int):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if rows_per_band == 1:
            return cols[0]
        if rows_per_band == 2:
            return cols[0] * F.lit(MINHASH_P) + cols[1]
        return hash_fn(F.concat_ws(",", *[c.cast("string") for c in cols]))

    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_bucket(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return banded.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bucket"))
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 50,
    hash_fn=hash64,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    ``n_hashes`` minhashes split into ``bands`` bands of ``n_hashes /
    bands`` rows each; docs sharing any band hash become a candidate
    pair. Returns (id_a, id_b, band_matches) with id_a < id_b.

    ``max_bucket`` drops degenerate buckets (empty/boilerplate docs
    colliding en masse) — at scale this is the skew guard. Coverage
    accounting for the drops lives in :func:`lsh_dropped_buckets`
    (same banded stage, so the two compose into one job)."""
    sized = _banded_buckets(
        df, text_col, id_col, n_hashes, bands, shingle_k, hash_fn
    ).filter(F.col("bucket_n") <= max_bucket)

    a = sized.select("band", "bucket", F.col("id").alias("id_a"))
    b = sized.select("band", "bucket", F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("band_matches"))
    )


def lsh_dropped_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 50,
    hash_fn=hash64,
) -> DataFrame:
    """Accounting for the skew-cap drops of :func:`minhash_candidates`:
    one row ``(n_buckets_dropped, n_docs_affected)``.

    Silent truncation reads as "covered everything" when it didn't —
    run this alongside candidate generation and log/alert on the
    counts. ``n_docs_affected`` counts distinct docs that lost at least
    one band (they may still pair through their other bands)."""
    over = _banded_buckets(
        df, text_col, id_col, n_hashes, bands, shingle_k, hash_fn
    ).filter(F.col("bucket_n") > max_bucket)
    return over.agg(
        F.count_distinct("band", "bucket").alias("n_buckets_dropped"),
        F.count_distinct("id").alias("n_docs_affected"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.2,
    candidates: DataFrame | None = None,
    hash_fn=hash64,
    candidates_materialized: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle
    (or restricted to ``candidates`` (id_a, id_b) when given — the
    verification stage of minhash LSH).

    Returns (id_a, id_b, common, n_a, n_b, jaccard≥threshold rows).
    Jaccard is emitted in basis points (integer) to stay float-exact
    across engines.

    The self-join runs on the 64-bit shingle hash, not the shingle
    string — an 8-byte shuffle key instead of a ~20-40 byte one (both
    engines hash identically, so even a collision yields the same
    result on both sides).

    Plan shape: the exploded+hashed frame is built ONCE — per-doc
    shingle counts ride along via a window, and the self-join is
    hinted sort-merge so the two sides' shuffles canonicalize to the
    same exchange (ReusedExchange). The naive formulation (separate
    size aggregate + broadcast self-join) evaluates the
    explode+md5 pipeline four times — measured ~2x slower at sf0.1 and
    broadcasts a million-row side at scale.
    """
    sh = (
        _exploded_shingles(df, text_col, id_col, shingle_k)
        .select("id", hash_fn("sh").alias("sh"))
    )
    if candidates is not None:
        # restrict to candidate DOCS before the self-join — the whole
        # point of LSH is to avoid the all-pairs stage, so verifying
        # after a full self-join+aggregate would pay exactly the cost
        # LSH exists to remove (Catalyst cannot push a join below the
        # pair aggregate). Whole docs are kept, so per-doc shingle
        # counts (the Jaccard denominator) are unaffected; one explode
        # scans the candidate pair list once for both endpoints. The
        # candidate frame feeds TWO joins (doc restriction here, exact
        # pair restriction below) — a lazy localCheckpoint materializes
        # the LSH pipeline once at first action instead of per
        # consumer. Callers that ALREADY checkpointed the frame pass
        # candidates_materialized=True so exactly one checkpoint RDD is
        # registered per run (a second one lingers in the block manager
        # until unpersist — ADVICE r6).
        candidates = candidates.select("id_a", "id_b")
        if not candidates_materialized:
            candidates = candidates.localCheckpoint(eager=False)
        cand_ids = (
            candidates.select(
                F.explode(F.array("id_a", "id_b")).alias("id")
            ).distinct()
        )
        sh = sh.join(F.broadcast(cand_ids), "id", "left_semi")
    sh = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )

    a = sh.select(F.col("id").alias("id_a"), "sh", F.col("n_sh").alias("n_a"))
    b = sh.select(F.col("id").alias("id_b"), "sh", F.col("n_sh").alias("n_b"))
    common = (
        a.hint("merge")
        .join(b.hint("merge"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    if candidates is not None:
        common = common.join(candidates, ["id_a", "id_b"], "left_semi")
    out = (
        common.withColumn(
            "jaccard_bp",
            F.floor(
                F.col("common") * 10000 / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= int(threshold * 10000))
    )
    return out.select("id_a", "id_b", "common", "n_a", "n_b", "jaccard_bp")


def simhash_per_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_fn=hash64,
) -> DataFrame:
    """Per-document SimHash signature: (id, simhash).

    Computed explode-wise: one md5 per token, then ``bits`` conditional
    sums in a single map-side-combined aggregation (a per-row
    array-fold form would re-evaluate the token pipeline once per bit
    under interpreted higher-order functions; this shape is linear in
    tokens). Shared by
    :func:`simhash_groups` (exact-signature grouping) and the
    multi-probe Hamming-neighbor join (plans/pipeline_ops33.py).
    """
    from bikes_data_warehouse_etl_spark.functions.text import tokens
    from bikes_data_warehouse_etl_spark.sources.parquet import widen_scan

    # same single-split consideration as _exploded_shingles: the
    # tokenize+md5 stage runs at scan parallelism
    wide = widen_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__")),
        df.sparkSession,
    )
    tok = wide.select("id", F.explode(tokens("__text__")).alias("t")).select(
        "id", hash_fn("t").alias("h")
    )
    contribs = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"c{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"c{b}") > 0, F.lit(2**b).cast("long")).otherwise(0)
    return contribs.select("id", sig.alias("simhash"))


def simhash_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_fn=hash64,
) -> DataFrame:
    """SimHash signatures; identical signatures = near-dup group.

    Members as a CSV string (portable across result transports that
    mangle array columns). Signature build: :func:`simhash_per_doc`.
    """
    return (
        simhash_per_doc(df, text_col, id_col, bits, hash_fn)
        .groupBy("simhash")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
            F.concat_ws(",", F.sort_array(F.collect_list("id"))).alias("members_csv"),
        )
    )


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph: min-label
    propagation until fixpoint. Returns (node, component_id) for every
    node that appears in a pair — component_id is the smallest doc id
    reachable through the candidate-pair edges, i.e. the canonical
    representative the dedup keeps.

    This closes the LSH pipeline: candidates → verified pairs →
    *groups* (A~B and B~C must collapse to one keeper even when A~C
    was never scored).

    Scale: each iteration is one join + one min-aggregate on (node,
    label) longs — fixed-width keys, map-side combinable — and
    converges in ≤ graph-diameter iterations (near-dup components are
    shallow: boilerplate clusters are star-shaped, so typically 2-3
    rounds). The driver-side loop holds only a convergence *sum* per
    round, never data. At extreme scale swap in the large-star/
    small-star iteration (Kiveris et al.) — same per-round plan shape,
    provably fewer rounds on deep chains.

    Lineage is truncated with an eager ``localCheckpoint`` EVERY
    iteration (r11): each round's plan references the previous labels
    frame twice (union branch + neighbor join), so uncheckpointed
    lineage doubles per round — a diameter-d graph builds an O(2^d)
    analyzed plan whose Catalyst time dwarfs the actual shuffle work
    (the sf0.1 plan carried 724 Exchange nodes from 2 rounds of nesting
    over the shingle self-join). Checkpointing each round keeps every
    iteration's plan a constant three operators over materialized
    blocks.

    Convergence is detected without a join: min-label propagation only
    ever DECREASES a node's label and never adds or drops nodes, so the
    per-round label sum is strictly decreasing until fixpoint and equal
    iff no node changed. The sum is exact: a decimal(38,0) sum of long
    labels (each < 2^63) cannot overflow below about 1e19 nodes. That
    replaces the old per-round join+filter+count job with a
    map-side-combinable aggregate over the just-checkpointed blocks.
    """
    # symmetrize with ONE pass over the pair pipeline: a union of two
    # selects re-evaluates the (expensive — shingle self-join) pairs
    # plan once per branch; exploding a 2-element array emits both
    # directions from a single scan
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(id_a).cast("long").alias("src"),
                    F.col(id_b).cast("long").alias("dst"),
                ),
                F.struct(
                    F.col(id_b).cast("long").alias("src"),
                    F.col(id_a).cast("long").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").persist()

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            # eager: materializes every partition AND truncates lineage.
            # unpersist() cannot free the previous round's blocks (a
            # local checkpoint is not in the cache manager); the
            # ContextCleaner frees them once that frame is garbage-
            # collected, and max_iter bounds how many rounds pile up
            .localCheckpoint()
        )
        cur_sum = label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        # truncated propagation returns WRONG component ids (two docs in
        # one real component keep different labels) — the module's own
        # rule is that silent truncation reads as "covered everything";
        # fail loudly so the caller raises max_iter (diameter bound) or
        # switches to the large-star/small-star iteration
        raise RuntimeError(
            f"neardup_components did not converge within max_iter="
            f"{max_iter} rounds (graph diameter exceeds it); raise "
            "max_iter — labels would be silently wrong, not approximate"
        )
    return labels.select("node", F.col("label").alias("component_id"))
