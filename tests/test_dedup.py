import pytest
from pyspark.sql import functions as F

from crawler_to_md_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    exact_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_neardup_pairs,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup
    (2, "The  Quick Brown Fox jumps over the lazy dog"),         # ws/case dup
    (3, "the quick brown fox leaps over the lazy dog today"),    # near dup
    (4, "completely different content about spark engines"),
    (5, "completely different content about spark engines here"),
    (6, "unrelated short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [0, 3, 4, 5, 6]  # 1 and 2 fold into 0


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    got = [r[0] for r in df.select(word_shingles(F.col("t"), 3)).collect()]
    assert got == [["a b c", "b c d"], ["a b"]]


def test_minhash_matches_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5, num_perm=128,
                                   bands=32).collect()
    }
    # LSH candidates are verified with exact jaccard, so no false positives
    assert approx <= exact
    # recall on clear duplicates (j=1.0 pairs must always be found)
    assert {(0, 1), (0, 2), (1, 2)} <= approx
    assert len(approx) >= len(exact) - 1  # allow 1 borderline miss


def test_simhash_neardup(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert (0, 4) not in pairs and (0, 6) not in pairs


def test_embedding_neardup(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal(16)
    rows = [
        (0, base.tolist()),
        (1, (base + rng.standard_normal(16) * 0.01).tolist()),  # near dup
        (2, rng.standard_normal(16).tolist()),
        (3, (base * 2.0).tolist()),                             # scaled dup
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert all(k != (0, 2) for k in pairs)


def test_simhash_hamming_tracks_token_edit_count(spark):
    """Property oracle for the (non-SQL-expressible) simhash fingerprint
    (VERDICT r3 #7): over >=20 generated near-duplicate pairs, hamming
    distance of the 64-bit fingerprints must grow with the number of
    edited tokens and stay far below unrelated-pair distances. Fully
    deterministic (seeded generator + xxhash64), so the bounds are exact
    regression pins, not statistical hopes."""
    import random

    from crawler_to_md_spark.operators.dedup import simhash_fingerprints

    rng = random.Random(1234)
    vocab = [f"tok{i}" for i in range(500)]
    rows, meta = [], []
    doc_id = 0
    for case in range(24):
        base = [rng.choice(vocab) for _ in range(60)]
        n_edit = 1 + case % 6  # 1..6 of 60 tokens (<=10% edit ratio)
        mutated = list(base)
        for pos in rng.sample(range(60), n_edit):
            mutated[pos] = rng.choice(vocab)
        rows.append((doc_id, " ".join(base)))
        rows.append((doc_id + 1, " ".join(mutated)))
        meta.append((doc_id, doc_id + 1, n_edit))
        doc_id += 2
    # unrelated controls
    ctrl = []
    for _ in range(10):
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(60))))
        ctrl.append(doc_id)
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["id"]: r["simhash"]
          for r in simhash_fingerprints(df).collect()}

    def ham(a, b):
        return bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")

    near = [(ham(a, b), n) for a, b, n in meta]
    far = [ham(a, b) for i, a in enumerate(ctrl) for b in ctrl[i + 1:]]
    assert len(near) >= 20
    # every near-dup pair is closer than every unrelated pair
    assert max(h for h, _ in near) < min(far), (near, far)
    # distance grows with edit count: mean over 1-2 edits < mean over 5-6
    lo = [h for h, n in near if n <= 2]
    hi = [h for h, n in near if n >= 5]
    assert sum(lo) / len(lo) < sum(hi) / len(hi)
    # identical docs -> identical fingerprints (hamming 0)
    df2 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp2 = [r["simhash"] for r in simhash_fingerprints(df2).collect()]
    assert fp2[0] == fp2[1]


def test_band_slices_cover_all_64_bits():
    """The variable-width band slices must tile [0, 64) exactly for any
    band count: gaps coarsen every band key (false candidates in ALL
    bands for pairs differing only in uncovered bits), overlaps would
    double-count bits, and a shift reaching 64 would silently wrap (JVM
    shifts are mod 64) and alias band 0."""
    from crawler_to_md_spark.operators.dedup import _band_slices

    for bands in range(1, 18):
        slices = _band_slices(bands)
        assert len(slices) == bands
        covered = []
        for shift, width in slices:
            assert width >= 1
            covered.extend(range(shift, shift + width))
        assert covered == list(range(64)), bands


def test_hamming_banding_matches_bruteforce(spark):
    """The generic banded hamming join (pigeonhole blocking) must return
    EXACTLY the brute-force pair set — planted near-hashes (<= r bit
    flips, including flips in the top bits that a uniform 64//bands band
    width would leave uncovered) plus random controls."""
    import random

    from crawler_to_md_spark.operators.dedup import hamming_neardup_pairs

    rng = random.Random(77)
    rows = []
    rid = 0
    bases = [rng.getrandbits(64) for _ in range(30)]
    for base in bases:
        rows.append((rid, base - (1 << 64) if base >= 1 << 63 else base))
        rid += 1
        # planted near hash: flip 1..r bits, biased toward the TOP bits
        # (the uncovered region of a naive uniform banding)
        flips = rng.sample(range(48, 64), rng.randint(1, 5))
        near = base
        for b in flips:
            near ^= 1 << b
        rows.append((rid, near - (1 << 64) if near >= 1 << 63 else near))
        rid += 1
    df = spark.createDataFrame(rows, "id long, h long")

    for max_h, bands in [(5, 6), (5, 9), (3, None)]:
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in hamming_neardup_pairs(
                df, "id", "h", max_hamming=max_h, bands=bands
            ).collect()
        }
        vals = dict(rows)
        want = {}
        ids = sorted(vals)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                hd = bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
                if hd <= max_h:
                    want[(a, b)] = hd
        assert got == want, (max_h, bands)
        # planted pairs actually exercised it (flips are 1..5 bits, so
        # the max_h=3 iteration keeps ~3/5 of the 30 planted pairs)
        assert len(want) >= (20 if max_h >= 5 else 10)


def test_phash_pairs_planted_duplicates(spark):
    """phash_neardup_pairs finds re-encoded copies (identical phash) and
    small perceptual edits (<= max_hamming bit flips) over an input_hint
    shaped table, and nothing else."""
    import random

    from crawler_to_md_spark.operators.dedup import phash_neardup_pairs

    rng = random.Random(5)
    rows = []
    for j in range(40):
        ph = rng.getrandbits(63)  # keep positive for readability
        rows.append((f"img-{j:03d}", ph))
        if j % 10 == 0:
            rows.append((f"copy-{j:03d}", ph))            # exact re-encode
        if j % 10 == 5:
            rows.append((f"edit-{j:03d}", ph ^ (1 << (j % 60)) ^ 1))
    images = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_pairs(images, max_hamming=6).collect()
    }
    for j in range(0, 40, 10):
        assert got.get((f"copy-{j:03d}", f"img-{j:03d}")) == 0
    for j in range(5, 40, 10):
        assert got.get((f"edit-{j:03d}", f"img-{j:03d}")) == 2
    # no false pairs among unrelated random hashes
    vals = dict(rows)
    for (a, b), hd in got.items():
        exact = bin(vals[a] ^ vals[b]).count("1")
        assert exact == hd <= 6


def test_hamming_degenerate_family_clusters_linear(spark):
    """VERDICT r4 #3: 10^3 identical fingerprints (the boilerplate-doc
    family) must cost LINEAR output through the cluster consumer — one
    cluster row per member — and the banded engine must see one node per
    DISTINCT fingerprint (the rep-pair edge set is family-sized, not
    member-sized)."""
    from crawler_to_md_spark.operators.dedup import (
        hamming_neardup_clusters,
        hamming_neardup_pairs,
    )

    n = 1000
    fam_h = 0x0123456789ABCDEF
    rows = [(i, fam_h) for i in range(n)]
    rows.append((n, fam_h ^ 0b11))        # near-dup of the family (ham 2)
    rows.append((n + 1, -0x7EADBEEF0000))  # unrelated
    df = spark.createDataFrame(rows, "id long, h long")

    out = hamming_neardup_clusters(df, "id", "h", max_hamming=3).collect()
    assert len(out) == n + 2                      # linear: one row per doc
    by_id = {r["id"]: (r["cluster_id"], r["cluster_size"]) for r in out}
    # the family + its near-dup form ONE cluster labeled by min id
    assert by_id[0] == (0, n + 1)
    assert by_id[n] == (0, n + 1)
    assert by_id[n - 1] == (0, n + 1)
    assert by_id[n + 1] == (n + 1, 1)             # singleton keeps itself

    # the pair API's cross-family candidate set is rep-level: the family
    # contributes ONE banded row, so even max_bucket=1 (every multi-
    # fingerprint bucket dropped) keeps the within-family hamming-0 pairs
    small = spark.createDataFrame(rows[:6] + rows[-1:], "id long, h long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neardup_pairs(
            small, "id", "h", max_hamming=3, max_bucket=1
        ).collect()
    }
    want = {(a, b): 0 for a in range(6) for b in range(a + 1, 6)}
    assert got == want


def test_hamming_max_bucket_drops_degenerate_band_keys(spark):
    """Distinct fingerprints that flood one (band, key) bucket past
    max_bucket are dropped from candidate generation (skew cap), while
    the default cap keeps them."""
    from crawler_to_md_spark.operators.dedup import hamming_neardup_pairs

    # 8 DISTINCT fps differing only in the top bits: bands 0..2 (16-bit
    # slices of the low 48 bits) all key to 0, so those buckets hold 8
    # distinct fingerprints each
    rows = [(i, (i + 1) << 48) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, h long")
    uncapped = hamming_neardup_pairs(df, "id", "h", max_hamming=3).collect()
    assert len(uncapped) > 0
    capped = hamming_neardup_pairs(
        df, "id", "h", max_hamming=3, max_bucket=2
    ).collect()
    # every bucket (incl. the top-bits band: keys 1..8, all singletons)
    # either exceeds the cap or holds one fp -> no candidates survive
    assert capped == []


def test_embedding_degenerate_family_and_zero_vectors(spark):
    """Identical embeddings collapse into a family before the bucket
    self-join (pairs still emitted, cosine 1.0) and all-zero vectors
    never pair (NaN cosine), matching the unguarded plan's output."""
    from crawler_to_md_spark.operators.dedup import embedding_neardup_pairs

    base = [1.0, 0.0, 2.0, 0.5]
    rows = [(i, base) for i in range(40)]          # one 40-member family
    rows += [(100, [0.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]
    rows += [(200, [-1.0, 0.3, 0.0, 0.1])]         # unrelated singleton
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    want = {(a, b): 1.0 for a in range(40) for b in range(a + 1, 40)}
    assert got == want


def test_phash_fixture_in_sync_with_pipeline(spark):
    """The pinned (image_id, phash, caption) literals the DuckDB image
    oracles brute-force over (_phash_fixture.py) must equal what the REAL
    synthesis + planted-duplication path produces — otherwise the driver
    value check silently degrades into literals-vs-literals. Regenerate
    with tools/gen_phash_literals.py on intentional changes."""
    from crawler_to_md_spark._phash_fixture import IMAGE_ROWS, PHASH_ROWS
    from crawler_to_md_spark.queries import _images_with_planted_dups

    got = sorted(
        (r["image_id"], int(r["phash"]), r["caption"])
        for r in _images_with_planted_dups(spark)
        .select("image_id", "phash", "caption").collect()
    )
    assert got == sorted(IMAGE_ROWS)
    assert sorted(PHASH_ROWS) == [(i, p) for i, p, _c in got]


def test_curate_image_caption_pairs_planted(spark):
    """The image-curation composite: every surviving row carries a non-
    'und' language and >= 7 caption tokens; each planted byte-duplicate
    family (dup-img-X / img-X share phash AND caption, so both pass or
    both fail the gates) contributes at most its canonical (minimum-id,
    i.e. the dup- prefixed) member; und-gated rows are gone entirely."""
    from crawler_to_md_spark.queries import (
        _caption_enriched,
        _images_with_planted_dups,
        curate_image_caption_pairs,
    )

    kept = curate_image_caption_pairs(spark, sf_dir=None).collect()
    assert kept, "composite must keep something"
    ids = {r["image_id"] for r in kept}
    for r in kept:
        assert r["pred_lang"] in ("en", "de")
        assert r["n_tokens"] >= 7
    # no kept twin pair: dup-img-X and img-X are hamming-0 neighbours,
    # so at most the canonical (dup- sorts before img-) survives
    for iid in ids:
        if iid.startswith("dup-"):
            assert iid[4:] not in ids
    # the gates alone (before dedup) keep strictly more rows than the
    # composite, and every composite survivor passed the gates
    from pyspark.sql import functions as F

    from crawler_to_md_spark.operators.textstats import lang_id, token_count

    gated = (
        _caption_enriched(_images_with_planted_dups(spark))
        .withColumn("pred_lang", lang_id(F.col("caption")))
        .withColumn("n_tokens", token_count(F.col("caption")))
        .filter((F.col("pred_lang") != "und") & (F.col("n_tokens") >= 7))
    )
    gated_ids = {r["image_id"] for r in gated.select("image_id").collect()}
    assert ids < gated_ids


def test_xxh64_py_matches_spark(spark):
    """tools/xxh64_py (the pure-Python XXH64 behind the pinned-literal
    oracles for simhash_docs / minhash_pairs_docs) must equal Spark's
    JVM xxhash64 on every algorithm branch: empty input, 1-7-byte
    tails, the 4/8-byte tail steps, 8-31-byte mid path, >=32-byte
    multi-block path (incl. exact block boundaries), decimal signature
    strings (the band-hash input shape), and multi-byte UTF-8."""
    from tools.xxh64_py import xxh64_i64

    probes = (
        ["", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
         "abcdefgh", "abcdefghijk", "0123456789abcdef",
         "0123456789abcdefghijklmnopqrstu",          # 31 B: mid path max
         "0123456789abcdefghijklmnopqrstuv",         # 32 B: one block
         "x" * 63, "x" * 64, "x" * 65, "x" * 100,
         "key agg row scan slow fast table value part hash",
         "1407639518939636933,163042200282,842,2847",
         "émojis 🎉 test", "naïve café"]
    )
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(p,) for p in probes], "s string")
        .select("s", F.xxhash64("s").alias("h")).collect()
    }
    for p in probes:
        assert got[p] == xxh64_i64(p), repr(p)


def test_xxhash_fixture_in_sync_with_queries(spark):
    """The pinned literals the simhash_docs / minhash_pairs_docs DuckDB
    oracles return (_xxhash_fixture.py, computed by an independent
    pure-Python sketch pipeline) must equal what the REAL Spark queries
    produce at the driver's correctness scale — otherwise the value
    check silently degrades into literals-vs-literals. Regenerate with
    tools/gen_xxhash_literals.py on intentional sketch changes."""
    from crawler_to_md_spark._xxhash_fixture import (
        MINHASH_XX_PAIR_ROWS,
        SIMHASH_XX_ROWS,
    )
    from crawler_to_md_spark.queries import minhash_pairs_docs, simhash_docs

    sf = "/root/testdata/sf0.01"
    got_sim = sorted(
        (int(r["id"]), int(r["simhash"]))
        for r in simhash_docs(spark, sf).collect()
    )
    assert got_sim == sorted(SIMHASH_XX_ROWS)
    got_pairs = sorted(
        (int(r["id_a"]), int(r["id_b"]), float(r["jaccard"]))
        for r in minhash_pairs_docs(spark, sf).collect()
    )
    assert got_pairs == sorted(MINHASH_XX_PAIR_ROWS)


def test_bucket_pairs_chunk_boundaries_match_combinations(spark):
    """_bucket_pairs (r6 chunked i<j explosion) must emit exactly the
    self-join's candidate set for bucket sizes straddling the
    explode_cap chunk boundary (cap, cap±1, 2*cap+odd), including the
    max_bucket drop and cross-bucket dedup of repeated pairs."""
    import itertools

    from crawler_to_md_spark.operators.dedup import _bucket_pairs

    cap = 8  # small cap so multi-chunk paths run in-test
    sizes = {1: 1, 2: 2, 3: 7, 4: 8, 5: 9, 6: 19, 7: 30}
    rows = [(b, v * 10 + b) for b, k in sizes.items() for v in range(k)]
    rows += [(99, 1000), (99, 1001)]  # second bucket sharing a pair shape
    # bucket 98 repeats the pair (13, 23) that bucket 3 also emits: the
    # cross-bucket dedup must collapse it to one row
    rows += [(98, 13), (98, 23)]
    max_bucket = 25  # drops the 30-element bucket only
    df = spark.createDataFrame(rows, "bucket int, id long")
    got = sorted(
        map(tuple, _bucket_pairs(
            df, ["bucket"], "id", max_bucket, "id_a", "id_b",
            explode_cap=cap,
        ).collect())
    )
    want = set()
    for b, k in list(sizes.items()) + [(99, 2)]:
        if k < 2 or k > max_bucket:
            continue
        vals = sorted(
            v * 10 + b if b != 99 else 1000 + v for v in range(k)
        )
        want |= set(itertools.combinations(vals, 2))
    assert (13, 23) in want
    assert got == sorted(want)
    assert any(k > cap for k in sizes.values())  # multi-chunk exercised


def test_bucket_pairs_repeated_value_never_pairs_with_itself(spark):
    """A value repeated within one bucket (a caller that emits the same
    (bucket, value) row twice) must yield neither a (v, v) self-pair nor
    a bucket that only the repeat pushed over ``max_bucket``."""
    from crawler_to_md_spark.operators.dedup import _bucket_pairs

    rows = [(1, 5), (1, 5), (1, 6), (2, 7), (2, 7), (3, 8), (3, 8), (3, 9)]
    df = spark.createDataFrame(rows, "bucket int, id long")
    got = sorted(
        map(tuple, _bucket_pairs(
            df, ["bucket"], "id", 2, "id_a", "id_b", explode_cap=8,
        ).collect())
    )
    assert got == [(5, 6), (8, 9)]
