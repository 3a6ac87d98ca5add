"""Document deduplication at training-pipeline scale.

Six strategies, each a distributed DataFrame plan (no driver loops):

- exact:       hash-groupBy on normalized text (first-write-wins like the
               reference's INSERT OR IGNORE, database_manager.py:48-51).
- minhash_lsh: shingle -> minhash signature (numpy Arrow UDF) -> band ->
               per-bucket pair explosion -> EXACT Jaccard verify (array_intersect /
               array_union, JVM-side). Classic Broder MinHash + LSH.
- simhash:     64-bit weighted-bit-vote fingerprint; near-dups via banded
               equality blocking + hamming<=r verify (bit_count(xor)).
- phash:       image near-dup over the input_hint table's stored
               perceptual hash (phash:int64) — same banded hamming
               engine, zero decode in the plan.
- ngram_jaccard: exact pairwise n-gram Jaccard within cheap blocking keys
               (the small-scale oracle for the sketch methods).
- embedding:   cosine near-dup over array<float> embeddings via random-
               hyperplane LSH blocking + exact cosine verify.

Scale notes: every candidate-pair generator blocks BEFORE joining (band
buckets, hyperplane buckets) so pair generation never goes quadratic; bucket
skew is capped by ``max_bucket`` (oversized buckets are dropped and
logged — at 100 TB a bucket holding >10^4 docs is a degenerate shingle,
not signal). Signatures are computed in one Arrow pass with numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1


def normalize_text(col):
    """Lowercase, collapse whitespace, strip — the canonical form exact
    dedup keys on."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct normalized text."""
    w = Window.partitionBy("_k").orderBy(id_col)
    return (
        df.withColumn("_k", F.md5(normalize_text(F.col(text_col))))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )


def _bucket_pairs(banded: DataFrame, keys: list[str], val: str,
                  max_bucket: int, a_name: str, b_name: str,
                  explode_cap: int = 256) -> DataFrame:
    """Within-bucket candidate pairs via ONE keyed aggregation (r6).

    collect_list + size filter replaces the windowed-count cap: the
    agg's exchange is the only shuffle the banded stream sees (the
    window form ran WindowExec — a per-partition sort plus the count —
    on BOTH self-join sides of the shared exchange, then paid the join
    build/probe), and the size filter reproduces the ``max_bucket``
    skew cap exactly (count-filter over the same keys).

    Pair generation is the sorted-array i<j explosion — exactly the
    self-join's candidate set (values are made distinct within a bucket
    by ``array_distinct``, so position order i<j <=> a < b and a value
    repeated in one bucket never pairs with itself) —
    CHUNKED so a degenerate bucket near ``max_bucket`` cannot
    materialize its C(k, 2) pairs as one in-memory array value (50M+
    structs at the 10k minhash cap would be a multi-GB per-task
    allocation): buckets first explode into ceil((k-1)/explode_cap)
    chunk rows (each carrying the k-value array — bounded at
    k^2/explode_cap values ≈ 6 MB/bucket at the minhash cap), then each
    chunk generates pairs for its explode_cap left-elements only
    (≤ explode_cap·k structs ≈ tens of MB at the cap, the memory
    bound). Buckets of ordinary size pay one extra explode of a
    single-chunk row — the interleaved A/B win over the windowed-cap +
    self-join shape held (~−20% on the minhash family at both 5k and
    50k docs). Cross-band duplicate pairs collapse in the final
    dropDuplicates, as before.
    """
    buck = (
        banded.groupBy(*keys)
        .agg(F.array_sort(F.array_distinct(F.collect_list(val))).alias("_vs"))
        .filter((F.size("_vs") >= 2) & (F.size("_vs") <= max_bucket))
    )
    vs = F.col("_vs")
    n = F.size(vs)
    cap = F.lit(explode_cap)
    # chunks tile i in [0, n-2] (the left element of each i<j pair);
    # n >= 2 from the filter above, so the chunk count m >= 1 and the
    # sequence is ascending
    m = F.ceil((n - F.lit(1)) / cap).cast("int")
    ch = buck.select(
        "_vs", F.explode(F.sequence(F.lit(0), m - F.lit(1))).alias("_c")
    )
    lo = F.col("_c") * cap  # 0-based global index of this chunk's first i
    cnt = F.least(cap, (n - F.lit(1)) - lo)
    pairs = F.flatten(
        F.transform(
            F.slice(vs, lo + F.lit(1), cnt),
            lambda x, i: F.transform(
                F.slice(vs, lo + i + F.lit(2),
                        F.greatest(F.lit(0), n - (lo + i) - F.lit(1))),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )
    return (
        ch.select(F.explode(pairs).alias("_p"))
        .select(f"_p.{a_name}", f"_p.{b_name}")
        .dropDuplicates([a_name, b_name])
    )


def word_shingles(col, n: int = 3):
    """Array of word n-gram shingle strings (JVM-side higher-order fns)."""
    toks = F.split(normalize_text(col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def _minhash_udf(num_perm: int, seed: int):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append([0] * num_perm)
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64) & np.uint64(_MERSENNE)
            # (a*h + b) mod p for all perms at once: (P, S) matrix min.
            # All-uint64 so the product WRAPS mod 2^64 (never promotes to
            # float64, which a mixed int64 operand would force, rounding
            # away the low bits); the value is exactly
            # ((a*h + b) mod 2^64) mod p — reproducible in any engine with
            # 128-bit ints (DuckDB HUGEINT), which is what lets the md5
            # twin (queries.py::minhash_md5_docs) value-check this UDF.
            # DELIBERATELY per-row (r6): the (P, S_row) temporaries of a
            # ~200-shingle row are ~200 KB — L2-resident — where a
            # row-batched rewrite's multi-MB chunk temporaries were
            # DRAM-bandwidth-bound and measured 1.5-10x SLOWER on this
            # bandwidth-starved host (OPTIMIZATION_r06.md); the Python
            # loop overhead it saved is ~40us/row, noise next to the math.
            with np.errstate(over="ignore"):
                m = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(_MERSENNE)
            out.append(m.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return mh


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 64,
    seed: int = 7,
    shingle_hash=None,
) -> DataFrame:
    """(id, shingles, sig: array<long>[num_perm]).

    ``shingle_hash``: Column->Column int64 shingle hasher. Default
    xxhash64 (the scale path); pass ``md5_token_hash`` to get signatures
    a SQL oracle can reproduce bit-for-bit (same pattern as
    simhash_fingerprints)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("shingles"),
    )
    hashes = sh.withColumn(
        "_h", F.transform(F.col("shingles"), shingle_hash or (lambda s: F.xxhash64(s)))
    )
    return hashes.withColumn("sig", _minhash_udf(num_perm, seed)(F.col("_h"))).drop("_h")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 7,
    max_bucket: int = 10_000,
    shingle_hash=None,
    band_hash=None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan: signature -> band slices -> bucket hash -> per-bucket id
    collect + i<j pair explosion (_bucket_pairs) -> dedupe candidate
    id-pairs -> join the shingle sets back BY ID for the exact Jaccard
    verify.

    The band explode and bucket aggregation carry just (band, bucket,
    id) — never the shingle arrays. A banded join that carries payloads
    shuffles each doc's full shingle set ``bands`` times and again
    through the pair dedup; keying the verify join by id moves each
    shingle set at most twice, independent of ``bands`` (r1 bench:
    15.5s -> this shape).
    """
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(
        df, text_col, id_col, shingle_n, num_perm, seed, shingle_hash
    ).persist()
    # band_hash: Column->Column int64 hasher for the joined signature
    # slice (default xxhash64; md5_token_hash for the SQL-oracle twin)
    bh = band_hash or (lambda s: F.xxhash64(s))
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: bh(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    # skew cap + candidate pairs in one keyed aggregation (guide §2.4;
    # see _bucket_pairs — replaces the r6-interim windowed cap +
    # self-join, which ran WindowExec twice over the shared exchange)
    cand = _bucket_pairs(
        banded, ["band", "bucket"], "id", max_bucket, "id_a", "id_b"
    )
    shing = sigs.select("id", "shingles")
    pairs = (
        cand.join(shing.select(F.col("id").alias("id_a"),
                               F.col("shingles").alias("sh_a")), "id_a")
        .join(shing.select(F.col("id").alias("id_b"),
                           F.col("shingles").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    # sigs stays MARKED persisted: the returned plan is lazy, and the
    # signature UDF pass feeds three scans (banding + both verify joins).
    # An eager unpersist here would drop the mark before the first action
    # and recompute the UDF per scan; the cache is small (ids + shingles +
    # sigs) and LRU-evicted.
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the oracle for minhash_lsh_pairs;
    quadratic — small scales / tests only)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _band_slices(bands: int) -> list[tuple[int, int]]:
    """(shift, width) bit-slices tiling ALL 64 bits with near-equal
    widths (64 % bands spreads one extra bit over the first slices).
    Recall (pigeonhole) holds even with uncovered bits — a differing
    uncovered bit just doesn't consume a band — but full coverage keeps
    band keys maximally selective (bits outside every key turn whole
    near-miss families into candidates in ALL bands) and avoids the
    shift-by->=64 hazard (JVM shifts are mod 64) for band counts that
    don't divide 64."""
    base, extra = divmod(64, bands)
    slices, shift = [], 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        slices.append((shift, w))
        shift += w
    return slices


def hamming_neardup_pairs(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket: int = 100_000,
) -> DataFrame:
    """All pairs with hamming(hash) <= max_hamming over an int64 hash
    column — the shared blocking engine behind simhash and phash near-dup.

    Blocking: any pair within distance r must agree on at least one of
    (r+1) disjoint bit-bands (pigeonhole), so ``bands >= max_hamming+1``
    guarantees full recall while pair generation only meets rows sharing
    a band key (never quadratic). Verification is ``bit_count(xor)`` —
    pure JVM codegen, no UDF. Returns (id_a, id_b, hamming), id_a<id_b.

    Skew guards (the 100 TB degenerate-family problem — every empty/
    boilerplate doc votes the SAME simhash, every black thumbnail the
    same phash):
    - exact-equal fingerprints collapse BEFORE banding: the banded
      engine sees one row per DISTINCT fingerprint, so a 10^6-doc
      duplicate family contributes 1 banded row, not 10^6. Within-family
      pairs (hamming 0) come from a family-restricted equi-join instead.
    - ``max_bucket`` count-filters (band, key) buckets holding more than
      that many DISTINCT fingerprints (mirrors minhash_lsh_pairs) —
      beyond it a band key is a degenerate bit pattern, not signal.
    The pair OUTPUT is still inherently quadratic in family size; the
    linear-output scale consumer is ``hamming_neardup_clusters``.
    """
    if bands is None:
        bands = max_hamming + 1
    assert bands >= max_hamming + 1, "pigeonhole needs bands > max_hamming"
    ids = fp.select(
        F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("h")
    ).persist()
    # one row per DISTINCT fingerprint (exact-dup short-circuit)
    fam = ids.groupBy("h").agg(F.count("*").alias("_cnt")).persist()
    banded = fam.select(
        "h",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("h"), s)
                .bitwiseAND(F.lit(-1 if w >= 64 else (1 << w) - 1))
                for s, w in _band_slices(bands)
            ])
        ).alias("band", "key"),
    )
    # windowed skew cap — shares its exchange with the self-join below.
    # DELIBERATELY NOT _bucket_pairs (r6): hamming band keys are ~7-16
    # bit slices, so buckets here are wide (hundreds+ of distinct
    # fingerprints) and candidate volume is join-dominated — the
    # interleaved A/B measured the collect+explode shape 3-4x slower in
    # this regime (array materialization + GC), while the streamed
    # self-join form wins; minhash's tiny signature-collision buckets
    # measured the opposite (see _bucket_pairs).
    wcap = Window.partitionBy("band", "key")
    banded = (
        banded.withColumn("_bc", F.count("*").over(wcap))
        .filter(F.col("_bc") <= max_bucket)
        .drop("_bc")
    )
    a = banded.select("band", "key", F.col("h").alias("h_a"))
    b = banded.select("band", "key", F.col("h").alias("h_b"))
    # cross-family fingerprint pairs (canonical h_a < h_b; equal-h pairs
    # are the within-family path below)
    hpairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("h_a") < F.col("h_b"))
        .dropDuplicates(["h_a", "h_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # expand fingerprint pairs back to id pairs (output-sized joins)
    cross = (
        hpairs.join(ids.select(F.col("h").alias("h_a"),
                               F.col("id").alias("_ida")), "h_a")
        .join(ids.select(F.col("h").alias("h_b"),
                         F.col("id").alias("_idb")), "h_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    # within-family pairs: equi-join restricted to families with >1 member
    multi = ids.join(fam.filter(F.col("_cnt") > 1).select("h"), "h")
    within = (
        multi.select("h", F.col("id").alias("id_a"))
        .join(multi.select("h", F.col("id").alias("id_b")), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.lit(0).cast("long")).alias("hamming"),
        )
    )
    # ids/fam stay MARKED persisted (lazy plan, multiple scans) — see
    # minhash_lsh_pairs for why an eager unpersist would recompute
    # upstream UDFs
    return cross.unionByName(within)


def hamming_neardup_clusters(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket: int = 100_000,
    max_iterations: int = 50,
) -> DataFrame:
    """(id, cluster_id, cluster_size) for EVERY input row — the
    linear-output consumer for hamming near-dup at scale (VERDICT r4).

    Exact-equal fingerprints collapse into families first (a groupBy, not
    pairs), the banded engine + connected components run over family
    REPRESENTATIVES only, and members join back by fingerprint — so a
    degenerate duplicate family of n docs costs O(n) rows end-to-end
    where the pair API emits O(n^2). Singleton docs appear with
    cluster_size 1 (callers dedup with ``id != cluster_id``)."""
    from .cluster import connected_components

    ids = fp.select(
        F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("h")
    ).persist()
    fam = ids.groupBy("h").agg(F.min("id").alias("rep")).persist()
    # rep-level near-dup pairs: one node per distinct fingerprint
    rep_pairs = hamming_neardup_pairs(
        fam.select(F.col("rep").alias("id"), "h"),
        "id", "h", max_hamming, bands, max_bucket,
    )
    cc = connected_components(rep_pairs, max_iterations=max_iterations)
    rep_clusters = (
        fam.join(cc.withColumnRenamed("id", "rep"), "rep", "left")
        .select("h", F.coalesce("component", "rep").alias("cluster_id"))
    )
    assign = ids.join(rep_clusters, "h").select("id", "cluster_id")
    w = Window.partitionBy("cluster_id")
    return assign.select(
        "id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


def phash_neardup_pairs(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    bands: int | None = None,
) -> DataFrame:
    """Image near-dup by perceptual-hash hamming distance over the
    input_hint table's stored ``phash:int64`` column (the canonical
    image-corpus dedup: re-encoded / resized copies keep a near-identical
    phash). No decode in the plan — the hash was computed at ingest, so
    this is a pure JVM banded self-join that scales like simhash."""
    return hamming_neardup_pairs(
        images.select(id_col, phash_col), id_col, phash_col,
        max_hamming, bands,
    )


def md5_token_hash(t):
    """60-bit integer from the md5 hex prefix: reproducible in any SQL
    engine (DuckDB: ``CAST('0x'||substring(md5(t),1,15) AS BIGINT)``) —
    the oracle-checkable stand-in for xxhash64 in simhash fingerprints."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _simhash_udf(seed: int):
    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def sh(token_hashes: pd.Series) -> pd.Series:
        # per-bit majority vote batched across a FEW rows at a time: the
        # chunk's tokens form one flat hash vector, the (S, 64) int8 bit
        # matrix is summed per row with add.reduceat(dtype=int64), and
        # the vote (2*ones - n_tokens > 0) packs back into an int64 via
        # a uint64 bit-OR-as-sum + two's-complement view — bit-for-bit
        # the old per-row loop (whose 64-step Python pack per row
        # dominated its cost). The chunk budget is deliberately SMALL
        # (4096 tokens -> ~256 KB bit matrix, L2-resident): a large-batch
        # variant with multi-100MB chunk temporaries was DRAM-bandwidth-
        # bound and slower on this host (OPTIMIZATION_r06.md).
        n = len(token_hashes)
        arrs: list = [None] * n
        lens = np.zeros(n, dtype=np.int64)
        for i, hs in enumerate(token_hashes):
            if hs is not None and len(hs) > 0:
                arrs[i] = np.asarray(hs, dtype=np.int64)
                lens[i] = len(arrs[i])
        res = np.zeros(n, dtype=np.int64)  # empty rows -> 0
        nz = np.flatnonzero(lens)
        s_budget = 4096
        lo = 0
        while lo < nz.size:
            hi, cells = lo, 0
            while hi < nz.size and (cells == 0
                                    or cells + lens[nz[hi]] <= s_budget):
                cells += lens[nz[hi]]
                hi += 1
            rows = nz[lo:hi]
            h = np.concatenate([arrs[i] for i in rows]).astype(np.uint64)
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int8)
            offs = np.zeros(rows.size, dtype=np.int64)
            np.cumsum(lens[rows[:-1]], out=offs[1:])
            ones = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)
            maj = (2 * ones - lens[rows][:, None]) > 0
            packed = (maj.astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64)
            res[rows] = packed.view(np.int64)
            lo = hi
        return pd.Series(res)

    return sh


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    seed: int = 11, token_hash=None,
) -> DataFrame:
    """``token_hash``: Column->Column int64 token hasher. Default is
    xxhash64 (the scale path); pass ``md5_token_hash`` to get
    fingerprints a SQL oracle can reproduce bit-for-bit."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hashes = F.transform(toks, token_hash or (lambda t: F.xxhash64(t)))
    return df.select(
        F.col(id_col).alias("id"),
        _simhash_udf(seed)(hashes).alias("simhash"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming — fingerprints fed
    through the generic ``hamming_neardup_pairs`` banded blocking."""
    return hamming_neardup_pairs(
        simhash_fingerprints(df, text_col, id_col),
        "id", "simhash", max_hamming, bands,
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 13,
    dim: int | None = None,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Cosine near-dups via random-hyperplane LSH blocking + exact verify.

    Sign sketch: bit i = sign(v . r_i) for seeded gaussian planes r_i.
    Pairs agreeing on the full sketch are verified with exact cosine
    (F.aggregate dot product, JVM-side). P(collision) = (1 - theta/pi)^k.

    Skew guards mirror ``hamming_neardup_pairs`` (VERDICT r4): byte-equal
    vectors (zero vectors, boilerplate embeddings) collapse into families
    before the bucket self-join — one representative per DISTINCT vector
    enters a bucket — and ``max_bucket`` count-filters buckets holding
    more than that many distinct vectors. Within-family pairs are a
    family-restricted equi-join computing the SAME cosine expression
    (so zero-norm families still yield NaN and drop, as before).
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_planes, dim))

    @F.pandas_udf(T.LongType())
    def sketch(vs: pd.Series) -> pd.Series:
        m = np.vstack(vs.to_numpy())
        bits = (m @ planes.T) > 0
        vals = (bits * (1 << np.arange(num_planes))).sum(axis=1)
        return pd.Series(vals.astype(np.int64))

    ids = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).persist()
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0),
                              lambda acc, x: acc + x * x))
    # one row per DISTINCT vector; rep = min id names the family
    fam = (
        ids.groupBy("v")
        .agg(F.min("id").alias("rep"), F.count("*").alias("_cnt"))
        .select(
            "v", "rep", "_cnt",
            norm.alias("n"),
            sketch(F.col("v")).alias("bucket"),
        )
        .persist()
    )
    # windowed skew cap — shares its exchange with the bucket self-join
    # below (see minhash_lsh_pairs)
    capped = (
        fam.withColumn("_bc", F.count("*").over(Window.partitionBy("bucket")))
        .filter(F.col("_bc") <= max_bucket)
        .drop("_bc")
    )
    a = capped.select("bucket", F.col("rep").alias("rep_a"),
                      F.col("v").alias("v_a"), F.col("n").alias("n_a"))
    b = capped.select("bucket", F.col("rep").alias("rep_b"),
                      F.col("v").alias("v_b"), F.col("n").alias("n_b"))
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # cross-family pairs over representatives, then expand to member ids
    vpairs = (
        a.join(b, "bucket")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .dropDuplicates(["rep_a", "rep_b"])
        .withColumn(
            "cosine", F.try_divide(dot, F.col("n_a") * F.col("n_b"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("rep_a", "rep_b", "cosine")
    )
    members = ids.join(fam.select("v", "rep"), "v").select("id", "rep")
    cross = (
        vpairs.join(members.select(F.col("rep").alias("rep_a"),
                                   F.col("id").alias("_ida")), "rep_a")
        .join(members.select(F.col("rep").alias("rep_b"),
                             F.col("id").alias("_idb")), "rep_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "cosine",
        )
    )
    # within-family pairs: identical vectors, same cosine expression
    # (v.v / n^2 — 1.0 up to fp rounding; try_divide gives NULL for
    # zero vectors under ANSI, so zero-norm families drop)
    fcos = F.try_divide(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        ),
        F.col("n") * F.col("n"),
    )
    fams_ok = (
        fam.filter(F.col("_cnt") > 1)
        .withColumn("cosine", fcos)
        .filter(F.col("cosine") >= threshold)
        .select("rep", "cosine")
    )
    within = (
        members.join(fams_ok, "rep")
        .select("rep", F.col("id").alias("id_a"), "cosine")
        .join(members.select("rep", F.col("id").alias("id_b")), "rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine")
    )
    # ids/fam stay MARKED persisted (lazy plan, multiple scans)
    return (
        cross.unionByName(within)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
