"""Dedup operators: cross-checks vs the pure fingerprint kernels."""

from __future__ import annotations

import pytest

from intelligent_document_processing_on_aws_spark.kernels.fingerprint import (
    hamming64,
    jaccard,
    minhash_signature,
    simhash64,
)
from intelligent_document_processing_on_aws_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),    # near dup of 0
    (3, "completely different text about winter mountains and silver clouds above"),
    (4, "another unrelated document mentioning spark window functions and shuffles"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank today extra"),  # near dup
]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    rows = {r.doc_id: r for r in exact_dedup(docs_df).collect()}
    assert rows[1].canonical_doc_id == 0 and rows[1].is_duplicate
    assert rows[0].canonical_doc_id == 0 and not rows[0].is_duplicate
    assert rows[0].group_size == 2
    assert not rows[3].is_duplicate and rows[3].group_size == 1


def test_ngram_jaccard_max_df_cap_preserves_pairs(spark, docs_df):
    """The default skew cap (max_df=1000) must not change recall on a
    corpus where no shingle is corpus-wide hot; an aggressive cap (=1)
    must still keep the join bounded and lose pairs monotonically."""
    exact = {(r.doc_id_a, r.doc_id_b) for r in
             ngram_jaccard_pairs(docs_df, threshold=0.5, max_df=None).collect()}
    capped = {(r.doc_id_a, r.doc_id_b) for r in
              ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}  # default cap
    assert capped == exact
    tight = {(r.doc_id_a, r.doc_id_b) for r in
             ngram_jaccard_pairs(docs_df, threshold=0.5, max_df=1).collect()}
    assert tight <= exact


def test_ngram_jaccard_matches_kernel(spark, docs_df):
    pairs = {(r.doc_id_a, r.doc_id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    # brute force with the pure kernel
    expected = {}
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1:]:
            j = jaccard(ta, tb, 3)
            if j >= 0.5:
                expected[(ida, idb)] = j
    assert set(pairs) == set(expected)
    for k, v in expected.items():
        assert pairs[k] == pytest.approx(v, abs=1e-6)


def test_minhash_lsh_finds_true_pairs(spark, docs_df):
    """LSH candidates verified by exact jaccard must equal the brute-force
    truth at this threshold (signatures: 32 perms / 8 bands -> recall at
    j>=0.8 is ~1 for this corpus)."""
    got = {(r.doc_id_a, r.doc_id_b) for r in
           minhash_lsh_pairs(docs_df, threshold=0.8).collect()}
    truth = set()
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1:]:
            if jaccard(ta, tb, 3) >= 0.8:
                truth.add((ida, idb))
    assert truth  # corpus must actually contain near-dups
    assert got == truth


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """A planted degenerate bucket (many identical template docs sharing
    every band key) is excluded by the df-cap: candidate generation stays
    bounded instead of going quadratic, while distinct near-dup pairs
    outside the hot bucket are still found."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        lsh_dropped_buckets,
        minhash_band_df,
        simhash_chunks_df,
    )

    template = "breaking news site navigation copyright footer " * 4
    rows = [(i, template) for i in range(40)]  # degenerate: 40 identical docs
    # the outside-the-hot-bucket pair: exact dup (jaccard 1.0, hamming 0)
    # so both LSH families must recover it regardless of banding draw
    unique = "a genuinely unique document about mountain hiking trails " * 5
    rows += [(100, unique), (101, unique)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # cap of 10 excludes the 40-doc bucket entirely
    got = {(r.doc_id_a, r.doc_id_b) for r in
           minhash_lsh_pairs(docs, threshold=0.8, max_bucket=10).collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), "hot-bucket pairs must be dropped"

    # the diagnostic surfaces exactly the hot band keys
    dropped = lsh_dropped_buckets(minhash_band_df(docs), ["band_key"], 10)
    assert dropped.count() == 8  # all 8 bands of the template are hot
    assert all(r.df == 40 for r in dropped.collect())

    # uncapped (max_bucket=None) still returns the quadratic truth
    uncapped = minhash_lsh_pairs(docs, threshold=0.8, max_bucket=None).count()
    assert uncapped == 40 * 39 // 2 + 1

    # simhash: same planted bucket, same containment
    got_sh = {(r.doc_id_a, r.doc_id_b) for r in
              simhash_pairs(docs, max_hamming=3, max_bucket=10).collect()}
    assert (100, 101) in got_sh
    assert all(a >= 100 for a, _ in got_sh)
    dropped_sh = lsh_dropped_buckets(simhash_chunks_df(docs), ["band", "chunk"], 10)
    assert dropped_sh.count() == 4  # all 4 chunks of the template hash


def test_lsh_default_cap_preserves_fixture_recall(spark, docs_df):
    """DEFAULT_MAX_BUCKET leaves results identical on a non-degenerate
    corpus (no bucket anywhere near the cap)."""
    capped = {(r.doc_id_a, r.doc_id_b) for r in
              minhash_lsh_pairs(docs_df, threshold=0.8).collect()}
    uncapped = {(r.doc_id_a, r.doc_id_b) for r in
                minhash_lsh_pairs(docs_df, threshold=0.8, max_bucket=None).collect()}
    assert capped == uncapped
    capped_sh = {(r.doc_id_a, r.doc_id_b) for r in
                 simhash_pairs(docs_df, max_hamming=3).collect()}
    uncapped_sh = {(r.doc_id_a, r.doc_id_b) for r in
                   simhash_pairs(docs_df, max_hamming=3, max_bucket=None).collect()}
    assert capped_sh == uncapped_sh


def test_minhash_vectorized_matches_bigint_reference():
    """The uint64 limb-decomposed Mersenne modmul must be bit-exact
    against a plain big-int evaluation of (a*x + b) mod p for the same
    coefficients and shingle hashes."""
    import hashlib
    import struct

    from intelligent_document_processing_on_aws_spark.kernels.fingerprint import (
        MAX_HASH,
        MERSENNE_PRIME,
        shingles,
        stable_hash32,
    )

    def ref_sig(text, num_perm=32, seed=42, k=3):
        params = []
        for i in range(num_perm):
            d = hashlib.md5(f"minhash-{seed}-{i}".encode()).digest()
            a = (struct.unpack("<Q", d[:8])[0] % (MERSENNE_PRIME - 1)) + 1
            b = struct.unpack("<Q", d[8:16])[0] % MERSENNE_PRIME
            params.append((a, b))
        sh = shingles(text, k)
        if not sh:
            return [MAX_HASH] * num_perm
        hs = [stable_hash32(s) for s in sh]
        return [min(((a * x + b) % MERSENNE_PRIME) & MAX_HASH for x in hs)
                for a, b in params]

    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    for _ in range(60):
        t = " ".join(rng.choice(words) for _ in range(rng.randrange(0, 50)))
        assert minhash_signature(t) == ref_sig(t), t


def test_minhash_signature_similarity_estimate():
    """signature agreement approximates jaccard (property of MinHash)."""
    a = "the quick brown fox jumps over the lazy dog " * 5
    b = "the quick brown fox jumps over the lazy cat " * 5
    sa = minhash_signature(a, num_perm=128)
    sb = minhash_signature(b, num_perm=128)
    est = sum(x == y for x, y in zip(sa, sb)) / 128
    true_j = jaccard(a, b)
    assert est == pytest.approx(true_j, abs=0.15)


def test_simhash_pairs_match_kernel(spark, docs_df):
    got = {(r.doc_id_a, r.doc_id_b): r.hamming
           for r in simhash_pairs(docs_df, max_hamming=10).collect()}
    truth = {}
    hs = {d: simhash64(t) for d, t in DOCS}
    for i, (ida, _) in enumerate(DOCS):
        for idb, _ in DOCS[i + 1:]:
            h = hamming64(hs[ida], hs[idb])
            if h <= 10:
                truth[(ida, idb)] = h
    # band blocking guarantees recall only for hamming <= 3; check those
    for k, v in truth.items():
        if v <= 3:
            assert k in got and got[k] == v
    # and everything returned must be a true pair
    for k, v in got.items():
        assert truth.get(k) == v


def test_duplicate_groups_connected_components(spark):
    """Transitive closure: a-b and b-c pair -> one group {a,b,c} with
    canonical=min id; singletons keep their own id, size 1."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        duplicate_groups,
    )

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 1-3-5 (transitive), pair 2-6, singletons 0 and 4
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "doc_id_a long, doc_id_b long"
    )
    rows = {r.doc_id: r for r in duplicate_groups(docs, pairs).collect()}
    assert len(rows) == 7
    assert all(rows[d].group_id == 1 and rows[d].group_size == 3
               for d in (1, 3, 5))
    assert rows[5].is_duplicate and not rows[1].is_duplicate
    assert rows[2].group_id == 2 and rows[6].group_id == 2
    assert rows[0].group_id == 0 and rows[0].group_size == 1
    assert not rows[0].is_duplicate and not rows[4].is_duplicate


def test_duplicate_groups_long_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds — min label
    must still reach the far end (convergence loop, not single-hop)."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        duplicate_groups,
    )

    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    rows = duplicate_groups(docs, pairs).collect()
    assert all(r.group_id == 0 and r.group_size == n for r in rows)


def test_canonical_selection_keeps_best_member(spark):
    """Quality-weighted survivor: the highest-quality member of each
    group is canonical (not the lowest id); ties break to the lowest
    doc_id; singletons are their own canonical with keep=True."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        canonical_selection,
        duplicate_groups,
    )

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "doc_id_a long, doc_id_b long"
    )
    groups = duplicate_groups(docs, pairs)
    # group {1,3,5}: best quality at 5; group {2,6}: tie -> lowest id 2
    quality = spark.createDataFrame(
        [(0, 10), (1, 5), (2, 7), (3, 8), (4, 1), (5, 9), (6, 7)],
        "doc_id long, quality long",
    )
    rows = {r.doc_id: r
            for r in canonical_selection(groups, quality, "quality").collect()}
    assert len(rows) == 7
    assert all(rows[d].canonical_id == 5 for d in (1, 3, 5))
    assert rows[5].keep and not rows[1].keep and not rows[3].keep
    assert rows[2].canonical_id == 2 and rows[6].canonical_id == 2
    assert rows[2].keep and not rows[6].keep
    assert rows[0].keep and rows[0].canonical_id == 0
    assert rows[4].keep and rows[4].canonical_id == 4
    # exactly one survivor per group
    assert sum(1 for r in rows.values() if r.keep) == 4


def test_repeated_passages_boilerplate_detection(spark):
    """Passages repeated across >= min_df docs surface with exact df;
    within-doc repetition counts once (document frequency, not term
    frequency); short docs are skipped."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        repeated_passages,
    )

    footer = "subscribe to our newsletter today please"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma. {footer}"),
            (2, f"delta epsilon zeta. {footer}"),
            (3, f"eta theta iota. {footer} {footer}"),  # twice in one doc
            (4, "unique words only here nothing shared"),
            (5, "too short"),  # < n tokens: skipped
        ],
        "doc_id long, text string",
    )
    out = {r.passage: r.df for r in repeated_passages(docs, n=6, min_df=3).collect()}
    assert out[footer] == 3  # df counts documents, not occurrences
    assert all(p == footer or "newsletter" in p or "subscribe" in p
               for p in out), out
    # min_df gate: nothing from the unique doc
    assert not any("unique" in p for p in out)


def test_duplicate_groups_durable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the CC loop's lineage truncation from
    localCheckpoint (executor memory) to RELIABLE checkpoint files — same
    results, and every round's labels are persisted to durable storage so
    an executor loss mid-loop is recoverable (a localCheckpoint dies
    with its executor and fails the whole job). Default
    behavior writes nothing."""
    import os

    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        duplicate_groups,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)],
        "doc_id_a long, doc_id_b long")

    expected = sorted(
        (r.doc_id, r.group_id, r.group_size, r.is_duplicate)
        for r in duplicate_groups(docs, pairs).collect())

    ckpt = tmp_path / "ckpt"
    got = sorted(
        (r.doc_id, r.group_id, r.group_size, r.is_duplicate)
        for r in duplicate_groups(
            docs, pairs, checkpoint_dir=str(ckpt)).collect())
    assert got == expected

    # durable proof: reliable RDD checkpoint part files exist on disk
    part_files = [
        os.path.join(root, f)
        for root, _, files in os.walk(ckpt) for f in files
        if f.startswith("part-")
    ]
    assert part_files, "no reliable checkpoint files were written"

    # the pair generators accept the same knob
    docs_t = spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 4)
          + ("x" + str(i) if i % 2 else "")) for i in range(8)],
        "doc_id long, text string")
    p1 = minhash_lsh_pairs(docs_t).collect()
    p2 = minhash_lsh_pairs(docs_t, checkpoint_dir=str(ckpt)).collect()
    assert sorted(map(tuple, p1)) == sorted(map(tuple, p2))


def test_line_dedup_hand_computed(spark):
    from intelligent_document_processing_on_aws_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            # doc 1 holds the first occurrence of the shared nav line
            (1, "NAV BAR\nunique one\nNAV BAR"),
            (2, "  NAV BAR \nunique two"),   # trimmed match -> removed
            (3, "solo line\nsolo line"),      # within-doc repeat, df=1 -> kept
            (4, "\n\n  \n"),                  # only blanks -> 0 lines
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # keeper is the globally-smallest (doc_id, pos): doc1 pos0 survives,
    # doc1's own second copy and doc2's copy are removed
    assert rows[1]["text_deduped"] == "NAV BAR\nunique one"
    assert rows[1]["n_lines"] == 3 and rows[1]["n_removed"] == 1
    assert rows[2]["text_deduped"] == "unique two"
    assert rows[2]["n_removed"] == 1
    # df counts DISTINCT docs: a within-doc repeat alone is not dedup'd
    assert rows[3]["text_deduped"] == "solo line\nsolo line"
    assert rows[3]["n_removed"] == 0
    # all-blank doc still appears, with empty text
    assert rows[4]["text_deduped"] == "" and rows[4]["n_lines"] == 0


def test_line_dedup_min_docs_threshold(spark):
    from intelligent_document_processing_on_aws_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb"), (3, "shared\nc")],
        ["doc_id", "text"],
    )
    # min_docs=4: nothing reaches the bar, all docs unchanged
    rows = line_dedup(docs, min_docs=4).collect()
    assert all(r["n_removed"] == 0 for r in rows)
    # min_docs=3: only doc 1 keeps 'shared'
    rows = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert rows[1]["text_deduped"] == "shared\na"
    assert rows[2]["text_deduped"] == "b"
    assert rows[3]["text_deduped"] == "c"


def test_line_dedup_deterministic_across_partitioning(spark):
    from intelligent_document_processing_on_aws_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, f"common header\nbody {i % 3}\ncommon footer") for i in range(30)],
        ["doc_id", "text"],
    )
    a = line_dedup(docs).orderBy("doc_id").collect()
    b = line_dedup(docs.repartition(11)).orderBy("doc_id").collect()
    assert a == b
    # exactly one doc (doc 0) keeps each shared line
    keep_header = [r for r in a if "common header" in r["text_deduped"]]
    assert [r["doc_id"] for r in keep_header] == [0]


def test_winnow_fingerprints_guarantee_and_density(spark):
    """The winnowing guarantee: documents sharing a token run of
    >= w+k-1 tokens share at least one selected fingerprint; selection
    keeps far fewer than all grams; short docs (< w grams) still emit
    at least one; sub-k docs emit none; repeated-token docs are
    deterministic (rightmost tie-break)."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"      # 6 tokens = w+k-1
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"nine eight {shared} seven ten eleven twelve"),
        (3, "totally different words in this document entirely"),
        (4, "tiny doc"),                                 # < k tokens
        (5, "just four little tokens"),                  # 2 grams < w
        (6, "spam spam spam spam spam spam spam spam"),  # all grams equal
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=k, w=w).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)

    assert by_doc[1] & by_doc[2], "shared >= w+k-1 run must share a fp"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1                 # truncated single window
    assert len(by_doc[6]) >= 1                 # ties resolve, no blowup
    # density: far fewer fingerprints than grams (12 grams in doc 1)
    assert len(by_doc[1]) < 12 / 2

    # determinism at any parallelism
    again = {(r.doc_id, r.fp_hash, r.fp_pos)
             for r in winnow_fingerprints(docs.repartition(7), k=k, w=w)
             .collect()}
    assert again == {(r.doc_id, r.fp_hash, r.fp_pos) for r in fps}


def test_winnow_pairs_finds_planted_neardups(spark):
    """winnow_pairs surfaces planted near-dup twins at min_shared=2 and
    never pairs unrelated docs; the df-cap drops a planted boilerplate
    fingerprint's quadratic bucket while distinct pairs survive."""
    from intelligent_document_processing_on_aws_spark.operators.dedup import (
        winnow_pairs,
    )

    base = ("the committee approved the quarterly budget and revenue "
            "report for this fiscal year without any amendment")
    rows = [
        (1, base),
        (2, base + " extra tail words here"),          # near-dup of 1
        (3, "totally different content about mountain weather patterns "
            "and snowfall accumulation in winter"),
    ]
    # boilerplate cluster: 30 identical docs that must be df-capped away
    # (non-periodic text, so several distinct fingerprints are selected)
    tpl = ("site navigation home products pricing support contact about "
           "careers blog press legal privacy terms copyright footer "
           "newsletter subscribe social links sitemap")
    rows += [(100 + i, tpl) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.doc_id_a, r.doc_id_b): r.shared_fps
           for r in winnow_pairs(docs, k=3, w=4, min_shared=2,
                                 max_df=10).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert not any(3 in p for p in got)
    assert not any(a >= 100 and b >= 100 for a, b in got), \
        "df-capped boilerplate bucket must not go quadratic"

    # uncapped returns the quadratic truth for the template cluster
    uncapped = winnow_pairs(docs, k=3, w=4, min_shared=2,
                            max_df=None).count()
    assert uncapped >= 30 * 29 // 2
