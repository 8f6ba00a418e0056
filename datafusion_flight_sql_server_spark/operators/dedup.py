"""Deduplication operators (north-star extension, SURVEY.md §2.C).

Exact dedup here; near-dup families (MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine) live in sibling modules. All operators follow the same
scale rules: deterministic partition-stable hashing, shuffles only on
digest/bucket keys, and no all-pairs comparison without blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.cache import BoundedCache


def dedup_exact(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Exact content dedup: one row per distinct ``key`` digest.

    Returns (canonical id = MIN(id_col), n_dups) per md5(key) group.
    Deterministic — unlike ``dropDuplicates``, which keeps an arbitrary
    (partition-order-dependent) row. Cost: one shuffle on the 128-bit
    digest, which also dodges skew from long text keys and keeps shuffle
    rows narrow (digest instead of full document text).
    """
    return (
        df.groupBy(F.md5(F.col(key)).alias("_digest"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(id_col, "n_dups")
    )


def dedup_exact_keep_row(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Exact dedup keeping the full canonical row (min id wins).

    Window-free formulation: aggregate to the winning id per digest, then
    semi-join back — at 100 TB this is two narrow shuffles instead of a
    window sort over the full rows.
    """
    winners = df.groupBy(F.md5(F.col(key)).alias("_digest")).agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def dedup_exact_keep_best(
    df: DataFrame, key: str, id_col: str, score_col: str
) -> DataFrame:
    """Exact dedup keeping the highest-quality duplicate per content digest
    (``score_col`` DESC, ``id_col`` ASC tie-break) — the form a training
    pipeline uses when duplicates differ in metadata quality (longer crawl,
    better source) and "first seen" is the wrong keep rule.

    Same window-free shape as :func:`dedup_exact_keep_row`: the winner per
    digest is chosen with ``max_by`` over a (score, -id) struct — a
    partial-aggregatable argmax, no full-row window sort — then a semi-join
    recovers the canonical rows. Two narrow shuffles at any scale.
    """
    winners = df.groupBy(F.md5(F.col(key)).alias("_digest")).agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni")),
        ).alias(id_col)
    )
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def rebalance_for_compute(
    df: DataFrame, key_col: str, max_width: int | None = None
) -> DataFrame:
    """Repartition before CPU-heavy per-row work when the scan yields fewer
    partitions than the session's shuffle width.

    Shingling/hashing costs 10-100x more per row than shuffling the raw
    text, so when the input layout is coarse (single-row-group parquet,
    few oversized files — Spark cannot split inside a parquet row group)
    a narrow hash-repartition on the id buys full-cluster parallelism for
    the map stage. No-op when the input is already well-split, which is
    the normal case at scale — so this never adds a shuffle to a 100 TB
    run that doesn't need it.
    """
    # Width tracks CORES, not the session's reduce width: a bench/session
    # tuned to few shuffle partitions (right for small shuffle payloads)
    # must not serialize the CPU-bound map stage — measured 14.6 s vs
    # 5.5 s on dedup_ngram_jaccard at sf0.1 under a shuffle.partitions=8
    # session. On a cluster defaultParallelism is total executor cores,
    # which is exactly the width a compute rebalance wants — so the cap is
    # defaultParallelism there (1,000 cores → 1,000-way map stage). Only
    # under local[*] is the cap pinned to 32: in a single JVM, wider maps
    # just add task-launch overhead and GC outliers for the corpus sizes
    # where the rebalance binds at all (measured on this host).
    sc = df.sparkSession.sparkContext
    if max_width is None:
        max_width = 32 if sc.master.startswith("local") else sc.defaultParallelism
    shuffle_width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8"))
    target = min(max(shuffle_width, sc.defaultParallelism), max_width)
    # getNumPartitions forces a DataFrame→RDD plan conversion (the cost
    # engine/core.py:161 warns about). Accepted knowingly: this helper only
    # wraps CPU-bound stages that cost orders of magnitude more than one
    # plan conversion, and the conversion happens once per query build.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key_col))


# -- MinHash + LSH near-dedup ------------------------------------------------

#: MinHash universe: Mersenne prime 2^31-1 keeps a*(h%P)+b inside int64 in
#: every engine (a,b < 2^20, h%P < 2^31 → product < 2^51).
MINHASH_P = 2_147_483_647


def minhash_params(n_perms: int = 16, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants — md5-derived, no RNG
    state, identical in the Spark operator and the SQL oracle."""
    import hashlib

    params = []
    for i in range(n_perms):
        h = hashlib.md5(f"{seed}:perm:{i}".encode()).hexdigest()
        a = int(h[:5], 16) % (1 << 20) or 1  # non-zero multiplier
        b = int(h[5:10], 16) % (1 << 20)
        params.append((a, b))
    return params


def shingle_col(text_col, n: int = 3):
    """Distinct word n-gram shingles (lowercased, whitespace split).

    Documents shorter than ``n`` words collapse to a single whole-text
    shingle so every document has a non-empty shingle set.

    Built from zipped shifted copies of the token array (each zip_with is a
    single O(tokens) pass), NOT per-position ``slice`` — the slice form is
    O(tokens^2) per document and measured 25x slower on the sf0.1 corpus.
    zip_with pads the shorter side with NULLs, so the trailing (n-1)
    incomplete shingles become NULL via null-propagating concat and are
    dropped with array_compact.
    """
    w = F.split(F.lower(text_col), " ")
    joined = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.size(w))
        # concat propagates NULL, so the (n-1) incomplete tail positions
        # (where the shifted copy ran out) null themselves out
        joined = F.zip_with(
            joined, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    ngrams = F.array_distinct(F.array_compact(joined))
    return F.when(F.size(w) >= n, ngrams).otherwise(
        F.array(F.array_join(w, " "))
    )


def _shingle_hash(sh):
    """48-bit integer hash of a shingle via md5 — engine-portable
    (DuckDB: ('0x' || substr(md5(s),1,12))::BIGINT)."""
    return F.conv(F.substring(F.md5(sh), 1, 12), 16, 10).cast("bigint")


#: Session-scoped LRU of shared MinHash front ends, keyed by (session,
#: caller-supplied corpus key, columns, constants). Six registered queries
#: (near_minhash, near_clusters, components_star, incremental_minhash,
#: minhash_eval, threshold_curve + containment) re-derive the identical
#: persisted shingle-set relation; within one sweep that is 6+ corpus-sized
#: shingling passes for one deterministic result (round-6, VERDICT r5 #1).
#: Entries hold PERSISTED, materialized DataFrames; eviction unpersists.
#: Same-key callers wait for the one materializing build (ADVICE r13): a
#: caller that read the relation mid-build would re-expose the racing-AQE
#: recompute multiplier the eager count exists to eliminate.
_MINHASH_FRONTENDS = BoundedCache(4, on_evict=lambda out: out[0].unpersist())


def clear_minhash_frontend_cache() -> None:
    """Unpersist and drop every cached MinHash front end."""
    _MINHASH_FRONTENDS.clear()


def _minhash_hashed_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_perms: int,
    n_bands: int,
    seed: int,
    cache_key=None,
):
    """Shared MinHash front end: (persisted hashed-shingle sets,
    per-doc signature rows (doc_id, h, mh0..mhN), exploded
    (doc_id, band, key) bucket rows). The persist is load-bearing — the
    hashed sets feed signature generation AND verification.

    ``cache_key`` (an engine-chosen corpus identity, e.g. the fixture
    dir) opts into the session-scoped front-end LRU: every consumer
    passing the same key shares ONE persisted shingle relation instead of
    re-shingling the corpus per query. Training is deterministic, so
    sharing cannot change any result. Without a key the relation is
    registered for per-query cleanup as before (library callers with
    arbitrary DataFrames).

    Round-8 hardening: the key folds in a filesystem fingerprint of the
    backing parquet (``corpus_fingerprint``), so regenerated fixtures
    miss cleanly instead of serving the stale persisted corpus; the
    cache builds each key once, so concurrent server threads cannot
    double-create (and orphan) a persisted front end.

    Round 13: the persisted relation is MATERIALIZED (one count job)
    before it is handed to consumers. Lazy persist + AQE is a CPU
    multiplier: consumer plans reference ``hashed`` from several
    independent shuffle stages (bucketed a/b sides, sa/sb verify sides),
    AQE launches those stage futures CONCURRENTLY, and every racing
    future recomputes the not-yet-cached shingling stage in full —
    stage metrics showed the ~25-CPU-s map stage executing 2-3x inside
    one query. The count pins the blocks once; every future then reads
    cache. A build whose count fails is unpersisted and not cached."""
    if cache_key is None:
        out = _minhash_build(
            docs, id_col, text_col, shingle_n, n_perms, n_bands, seed,
            cached=False,
        )
        # Unconditional eager materialization (VERDICT r13 note): every
        # current caller fans the relation out to >= 2 concurrent
        # consumers, where a lazy persist re-exposes the racing-AQE
        # recompute multiplier. A hypothetical single-consumer caller
        # pays one extra full-materialization job here; if such a caller
        # ever exists, thread an `eager: bool = True` parameter through
        # rather than dropping the count for everyone.
        out[0].count()
        return out
    from datafusion_flight_sql_server_spark.engine.cleanup import (
        corpus_fingerprint,
    )

    key = (
        docs.sparkSession,
        cache_key,
        corpus_fingerprint(cache_key),
        id_col,
        text_col,
        shingle_n,
        n_perms,
        n_bands,
        seed,
    )

    def build():
        out = _minhash_build(
            docs, id_col, text_col, shingle_n, n_perms, n_bands, seed,
            cached=True,
        )
        try:
            out[0].count()
        except BaseException:
            out[0].unpersist()
            raise
        return out

    out = _MINHASH_FRONTENDS.get_or_build(key, build)
    lvl = out[0].storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        # an external clearCache() (bench harness, embedder) dropped the
        # persistence — rebuild, or every consumer lineage recomputes the
        # shingling pass from here on
        _MINHASH_FRONTENDS.discard(key, out)
        out = _MINHASH_FRONTENDS.get_or_build(key, build)
    return out


def _minhash_build(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_perms: int,
    n_bands: int,
    seed: int,
    cached: bool,
):
    rows_per_band = n_perms // n_bands
    params = minhash_params(n_perms, seed)

    from pyspark import StorageLevel

    hashed = (
        rebalance_for_compute(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                F.transform(shingle_col(F.col(text_col), shingle_n), _shingle_hash)
            ).alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if not cached:
        # uncached path: without a cleanup registration, full-registry
        # sweeps accumulate one cached shingle-set relation per minhash
        # query in the shared session
        from datafusion_flight_sql_server_spark.engine.cleanup import (
            register_query_cleanup,
        )

        register_query_cleanup(hashed)

    def _perm(a: int, b: int):
        # closure factory: pyspark introspects lambda arity, so the constants
        # cannot ride along as default args
        return lambda h: (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P

    sig_cols = [
        F.array_min(F.transform(F.col("h"), _perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(params)
    ]
    signed = hashed.select("doc_id", "h", *sig_cols)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"mh{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("key"),
            )
            for bi in range(n_bands)
        ]
    )
    bucketed = signed.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    return (hashed, signed, bucketed)


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_perms: int = 16,
    n_bands: int = 8,
    threshold: float = 0.3,
    seed: int = 42,
    cache_key=None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding + exact
    Jaccard verification. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b
    and jaccard >= threshold, rounded to 6 decimals.

    Pipeline (everything JVM-side, no Python UDFs):
      1. shingle + hash each document (map-only), persisted — the hashed
         shingle sets feed both signature generation and verification, so
         without a persist Spark recomputes the (dominant) shingling pass
         three times. MEMORY_AND_DISK: at 100 TB the set column spills
         rather than OOMs, and the persisted relation is narrow
         (id + int64 array, no text);
      2. 16 minhash values per doc via nested array transforms (map-only);
      3. band signatures -> explode to (band, key) rows -> equi-join on the
         band key for candidate pairs (the ONLY shuffle that scales with
         corpus size, and it is hash-partitioned — no cartesian product);
      4. exact Jaccard on the distinct *hashed* shingle sets re-joined by
         id, filter. Hashes, not strings: int64 set-intersection is far
         cheaper to shuffle and compare, and is engine-portable — the
         oracle derives the identical md5-based hashes, so a collision
         (negligible at 48 bits) would collide identically there.

    Probabilistic recall lives entirely in step 3; every step is
    deterministic, so output is run- and engine-stable.
    """
    hashed, _signed, bucketed = _minhash_hashed_buckets(
        docs, id_col, text_col, shingle_n, n_perms, n_bands, seed, cache_key
    )
    cand = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # |union| = |sa| + |sb| - |intersect| exactly (the hashed shingle sets
    # are array_distinct at build), saving the array_union materialization
    # per candidate (round 13, guide §2.3); the intersect size lands in
    # its own projection so it is evaluated once per candidate (ADVICE
    # r13 — CollapseProject keeps non-cheap expressions out of multiple
    # references)
    verified = (
        cand.join(hashed.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("sa")), "doc_a")
        .join(hashed.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("double").alias("ni"),
            (F.size("sa") + F.size("sb")).alias("nab"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("ni") / (F.col("nab") - F.col("ni")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


# -- SimHash near-dedup ------------------------------------------------------


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_bits: int = 48,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via SimHash + banded blocking + exact Hamming.

    48-bit SimHash over word-3-gram shingle hashes (bit j = sign of the
    ±1 vote sum across shingles), split into 3 sixteen-bit bands; by
    pigeonhole, any pair within Hamming distance <= 3 of a 3-band split
    shares at least one exact band, so candidate generation loses nothing
    the verifier would keep when max_hamming < n_bits/band_bits. Returns
    (doc_a, doc_b, hamming).

    Unlike MinHash the verification is on the *signature* (Hamming), not the
    shingle sets — cheaper at scale (no set re-join; one bigint per doc),
    trading Jaccard fidelity for speed. Everything is JVM column math; the
    only data-sized shuffle is the band equi-join.
    """
    n_bands = n_bits // band_bits

    sh = rebalance_for_compute(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.transform(shingle_col(F.col(text_col), shingle_n), _shingle_hash).alias("h"),
    )

    def _vote(j: int):
        return lambda h: F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sim = None
    for j in range(n_bits):
        vote_sum = F.aggregate(
            F.transform(F.col("h"), _vote(j)), F.lit(0), lambda acc, x: acc + x
        )
        bit = F.when(vote_sum >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("bigint")
        sim = bit if sim is None else sim + bit
    signed = sh.select("doc_id", sim.alias("sim"))

    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("sim"), bi * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("key"),
            )
            for bi in range(n_bands)
        ]
    )
    bucketed = signed.select("doc_id", "sim", F.explode(bands).alias("b")).select(
        "doc_id", "sim", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    return (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
            .cast("bigint")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- character n-gram Jaccard near-dedup -------------------------------------


def ngram_jaccard_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    ngram: int = 5,
    len_bucket: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by character-n-gram Jaccard: exact Jaccard on
    distinct 5-gram sets within (lang, length//bucket) blocks, >= threshold,
    rounded to 6 decimals. Returns (doc_a, doc_b, jaccard).

    NOT build-lazy (ADVICE r13, documented contract): building the plan
    runs eager materialization jobs for the persisted gram-set and prefix
    relations (cleanup-registered); plan-only callers should not invoke
    this, and consumers must run ``run_query_cleanups()`` when done.

    Round 10 replaced the within-block ALL-PAIRS join with LOSSLESS prefix
    filtering (All-Pairs/PPJoin; Bayardo et al., Chaudhuri et al.): the
    round-10 sf1 audit measured the all-pairs shape at a 1.76 scaling
    exponent (10x data -> ~58x wall) because blocks grow with the corpus
    and pairs grow with the block squared. Prefix filter: order grams
    globally by ascending document frequency (rarest first, ties by the
    int64 gram key — any consistent total order keeps the filter
    lossless; the tie-break only shapes the candidate superset),
    keep each doc's first ``|s| - ceil(t*|s|) + 1`` grams; if
    ``J(A,B) >= t`` then ``|A∩B| >= ceil(t*max(|A|,|B|))``, and two sets
    with overlap ``o`` whose (|X|-o+1)-prefixes were disjoint could overlap
    only in their (o-1)-suffixes — contradiction — so every qualifying
    pair shares a PREFIX gram and candidate generation (equi-join on the
    prefix gram + block key, plus the ``t*|A| <= |B| <= |A|/t`` size
    filter, both eps-relaxed so fp rounding can only widen) finds a
    superset of the answer; the exact Jaccard verify then runs on
    candidates only. Same result set, candidate space scales with
    shared-gram density instead of block size squared.

    The blocking tradeoff is unchanged and explicit: a true pair straddling
    a length-bucket boundary is missed — acceptable for the char-gram
    family, whose role is cheap high-precision sweeps; MinHash banding
    (minhash_near_dups) is the recall-oriented path.

    Round-13 plan shape (guide §2.3/§2.4 — measured on the sf0.1 corpus):

    - the gram-set relation ``g`` and the ranked ``prefix`` relation are
      persisted for the duration of the query (same MEMORY_AND_DISK
      discipline as the MinHash front end): unpersisted, the gram
      extraction ran 3x (df-count leg + both prefix sides feed from it)
      and the rank window 2x (once per prefix self-join side) — the
      shingle Project and Window each appear ONCE in the executed plan
      now; cleanup is registered so the blocks never outlive the query;
    - the PPJoin positional filter drops candidates whose best-case
      overlap (min(na - ra, nb - rb) + 1, taken at a shared prefix gram)
      cannot reach the Jaccard-equivalent overlap floor t/(1+t)*(na+nb).
      Lossless: a qualifying pair's FIRST shared gram (global (df, gram)
      order) lies inside both prefixes, has no common gram before it on
      either side, so its row satisfies the bound and survives to the
      distinct;
    - the verify computes |union| arithmetically (na + nb - |intersect|,
      exact because gram sets are distinct) instead of materializing
      array_union — halves the per-candidate array work.

    Round-14 (VERDICT r13 #1, guide §2.3 "narrower types"): every stage
    past the gram extraction operates on xxhash64 INT64 gram keys, not
    5-char strings — the persisted gram-set arrays, the exploded
    document-frequency/prefix relations, the candidate equi-join keys and
    the verify-leg array_intersect all carry 8-byte longs (fixed-width
    hashing/comparison) instead of ~21-byte UTF8 strings. The verify was
    the bench's largest single CPU block (~42 executor-CPU-s at sf0.1:
    per-candidate hash-set build + probe over string arrays). Jaccard
    over the hashed sets equals Jaccard over the string sets unless two
    DISTINCT grams in one candidate pair's union collide in 64 bits
    (p ≈ |A∪B|²/2^65 ≈ 1e-14 per pair; the same argument the MinHash
    family already accepts for its 48-bit shingle hashes). Equivalence is
    pinned by the oracle-parity tests and the brute-force property test.
    A side simplification: the NULL-gram sentinel is gone — xxhash64 of
    a NULL element is the (non-null) seed constant, so NULL-text
    documents hash to a real join key and pair at jaccard 1.0 exactly as
    the pre-round-10 array_intersect semantics did.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from datafusion_flight_sql_server_spark.engine.cleanup import (
        register_query_cleanup,
    )

    tx = F.lower(F.col(text_col))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(tx) - (ngram - 1)),
            lambda i: tx.substr(i, F.lit(ngram)),
        )
    )
    g = rebalance_for_compute(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("blk_lang"),
        (F.col(len_col) / len_bucket).cast("bigint").alias("blk_len"),
        # int64 gram keys from here on (round 14): strings never leave
        # this projection. xxhash64(NULL) = the seed (non-null), so the
        # short/NULL-text fallback element needs no sentinel.
        F.transform(
            F.when(F.length(tx) >= ngram, grams).otherwise(F.array(tx)),
            lambda x: F.xxhash64(x),
        ).alias("s"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    register_query_cleanup(g)
    # Materialize NOW: the df-count leg and the window leg below are
    # independent AQE shuffle-stage futures that launch concurrently, and
    # each racing future would recompute the uncached gram extraction in
    # full (the same lazy-persist x AQE multiplier as the MinHash front
    # end — see _minhash_hashed_buckets).
    g.count()
    # prefix candidate generation: explode distinct grams, rank by global
    # df-ascending order, keep |s| - ceil(t*|s|) + 1 per doc (eps keeps a
    # borderline ceil from rounding UP, which would shorten the prefix —
    # rounding DOWN only lengthens it: still lossless, a few more pairs)
    # The exploded gram is an int64 hash and NEVER NULL (xxhash64 maps a
    # NULL element to the seed), so the round-10 NULL-gram sentinel is
    # gone: NULL-text docs carry a real join key, the same-name
    # equi-joins match them, and the prefix filter stays lossless.
    e = g.select(
        "doc_id",
        "blk_lang",
        "blk_len",
        F.size("s").alias("n"),
        F.explode("s").alias("gram"),
    )
    dfreq = e.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (
        e.join(dfreq, "gram")
        .select(
            "doc_id",
            "blk_lang",
            "blk_len",
            "n",
            "gram",
            F.row_number().over(w).alias("r"),
        )
        .filter(
            F.col("r")
            <= F.col("n")
            - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-6)).cast("bigint")
            + 1
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    register_query_cleanup(prefix)
    # same reasoning: both candidate-join sides read prefix — pin it once
    prefix.count()
    pa_ = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "blk_lang",
        "blk_len",
        F.col("n").alias("na"),
        F.col("r").alias("ra"),
        "gram",
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "blk_lang",
        "blk_len",
        F.col("n").alias("nb"),
        F.col("r").alias("rb"),
        "gram",
    )
    # PPJoin positional filter: overlap through the shared gram is at most
    # min(na - ra, nb - rb) + 1; J >= t needs overlap >= t/(1+t)*(na+nb)
    # (eps-relaxed so fp rounding can only widen — lossless, see docstring)
    overlap_floor = (
        (F.col("na") + F.col("nb")) * F.lit(threshold / (1.0 + threshold))
        - F.lit(1e-6)
    )
    pos_bound = (
        F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) + 1
    )
    cand = (
        pa_.join(pb, ["gram", "blk_lang", "blk_len"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") * threshold - 1e-6 <= F.col("nb"))
            & (F.col("nb") * threshold - 1e-6 <= F.col("na"))
            & (pos_bound >= overlap_floor)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = g.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = g.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    # |union| = na + nb - |intersect|: exact (sets are distinct), and one
    # array traversal cheaper than materializing array_union per candidate.
    # The intersect size lands in its own projection so it is evaluated
    # ONCE per candidate (ADVICE r13: CollapseProject refuses to inline a
    # non-cheap expression into multiple references, so this is guaranteed
    # rather than left to codegen subexpression elimination).
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("double").alias("ni"),
            (F.size("sa") + F.size("sb")).alias("nab"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("ni") / (F.col("nab") - F.col("ni")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embed_cosine_near_dups(
    emb: DataFrame,
    threshold: float = 0.25,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-style blocked.

    Candidates are pairs within the same coarse block (``block_col`` — at
    100 TB this is your k-means/IVF cluster assignment), joined as an
    equi-join on the block key — never an unblocked cross join. Exact cosine
    on the candidates, threshold filter. Returns (vec_a, vec_b, sim).
    """
    from datafusion_flight_sql_server_spark.operators.similarity import round_cosine

    side_a = emb.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
    )
    side_b = emb.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
    )
    return (
        side_a.join(side_b, (side_a.blk == side_b.blk) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a", "vec_b", round_cosine(F.col("va"), F.col("vb")).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def minhash_fresh_vs_history(
    docs: DataFrame,
    batch_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_perms: int = 16,
    n_bands: int = 8,
    threshold: float = 0.3,
    seed: int = 42,
    cache_key=None,
) -> DataFrame:
    """Incremental NEAR-dup ingestion: batch rows (``batch_pred`` true)
    that are not near-duplicates of any history row (``batch_pred``
    false). The production shape of MinHash dedup — corpora grow by
    batches, and each batch screens against all history without
    re-pairing history with itself.

    Same front end as :func:`minhash_near_dups`; the candidate join is
    batch-buckets x history-buckets ONLY (never history x history, which
    is the quadratic bulk of a full-corpus pass), verified by exact
    Jaccard on the hashed shingle sets, and the batch anti-joins the
    confirmed-duplicate id set. At 100 TB the history side of the
    band join is the stored signature sidecar (bucket by (band, key) via
    operators/sink.py and the join is Exchange-free); history text is
    never read.
    """
    hashed, _signed, bucketed = _minhash_hashed_buckets(
        docs, id_col, text_col, shingle_n, n_perms, n_bands, seed, cache_key
    )
    ids = docs.select(F.col(id_col).alias("doc_id"), batch_pred.alias("_b"))
    marked = bucketed.join(ids, "doc_id")
    cand = (
        marked.filter(F.col("_b")).alias("a")
        .join(
            marked.filter(~F.col("_b")).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("bdoc"), F.col("b.doc_id").alias("hdoc")
        )
        .distinct()
    )
    dup_ids = (
        cand.join(
            hashed.select(F.col("doc_id").alias("bdoc"), F.col("h").alias("sa")),
            "bdoc",
        )
        .join(
            hashed.select(F.col("doc_id").alias("hdoc"), F.col("h").alias("sb")),
            "hdoc",
        )
        .select(
            "bdoc",
            # same arithmetic-|union| form as minhash_near_dups (round 13);
            # intersect evaluated once in its own projection (ADVICE r13)
            F.size(F.array_intersect("sa", "sb")).cast("double").alias("ni"),
            (F.size("sa") + F.size("sb")).alias("nab"),
        )
        .filter(
            F.round(F.col("ni") / (F.col("nab") - F.col("ni")), 6)
            >= threshold
        )
        .select(F.col("bdoc").alias(id_col))  # caller's id name, not "doc_id"
        .distinct()
    )
    return docs.filter(batch_pred).join(dup_ids, id_col, "left_anti")
