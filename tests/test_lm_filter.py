"""CCNet-style bigram-LM perplexity filter (operators/lm_filter.py)."""

from __future__ import annotations

import math

from intelligent_document_processing_on_aws_spark.operators.lm_filter import (
    HEAD_MAX_AVG_NLL_MICRO,
    MIDDLE_MAX_AVG_NLL_MICRO,
    BigramLM,
    lm_perplexity,
    perplexity_keep_ids,
    score_perplexity,
    train_bigram_lm,
)


def _hand_lm():
    # training corpus: "a b a b" and "a c" ->
    # unigrams a:3 b:2 c:1 (V = 3+1 = 4)
    # bigrams (a,b):2 (b,a):1 (a,c):1
    return BigramLM(
        unigram={"a": 3, "b": 2, "c": 1},
        bigram={("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1},
        v=4,
    )


def test_logp_micro_hand_computed():
    lm = _hand_lm()
    # seen pair: (2+1)/(3+4) = 3/7
    assert lm.logp_micro("a", "b") == math.floor(math.log(3 / 7) * 1e6 + 0.5)
    # unseen pair, seen context: (0+1)/(2+4) = 1/6
    assert lm.logp_micro("b", "c") == math.floor(math.log(1 / 6) * 1e6 + 0.5)
    # fully OOV: (0+1)/(0+4) = 1/4 — falls out of the same formula
    assert lm.logp_micro("zz", "qq") == math.floor(math.log(1 / 4) * 1e6 + 0.5)


def test_train_matches_hand_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (10, "a c")], ["doc_id", "text"]
    )
    lm = train_bigram_lm(docs)
    hand = _hand_lm()
    assert lm.unigram == hand.unigram
    assert lm.bigram == hand.bigram
    assert lm.v == hand.v


def test_train_ignores_blank_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(0, "  "), (10, "solo"), (20, "a b")], ["doc_id", "text"]
    )
    lm = train_bigram_lm(docs)
    assert lm.unigram == {"solo": 1, "a": 1, "b": 1}
    assert lm.bigram == {("a", "b"): 1}  # no pairs from 1-token doc


def test_score_exact_integer_path(spark):
    lm = _hand_lm()
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "x"), (3, None), (4, "zz qq")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in score_perplexity(docs, lm).collect()}
    lp_ab = lm.logp_micro("a", "b")
    lp_ba = lm.logp_micro("b", "a")
    exp_avg = (-(lp_ab + lp_ba)) // 2
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["avg_nll_micro"] == exp_avg
    assert rows[1]["ppl"] == round(math.exp(exp_avg / 1e6), 6)
    # single-token and NULL docs: no bigrams -> 'empty', NULL scores
    for d in (2, 3):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["avg_nll_micro"] is None
        assert rows[d]["ppl_bucket"] == "empty"
    # fully-OOV doc scores uniform 1/V per bigram
    assert rows[4]["avg_nll_micro"] == -lm.logp_micro("zz", "qq")


def test_gibberish_scores_worse_than_fluent(spark):
    fluent = "the cat sat on the mat . " * 5
    train = [(i * 10, fluent) for i in range(4)]
    score = [(1, fluent), (3, "qz wv xj qk zn vb pq wz jx kq")]
    docs = spark.createDataFrame(train + score, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in lm_perplexity(docs).collect()}
    assert rows[3]["avg_nll_micro"] > rows[1]["avg_nll_micro"]
    assert rows[3]["ppl"] > rows[1]["ppl"]


def test_buckets_and_gate(spark):
    lm = BigramLM(unigram={"a": 1}, bigram={("a", "a"): 1}, v=2)
    docs = spark.createDataFrame([(1, "a a a")], ["doc_id", "text"])
    row = score_perplexity(docs, lm).collect()[0]
    # p(a|a) = 2/3 -> avg_nll ~ 405465 micro-nats -> head bucket
    assert row["avg_nll_micro"] == -math.floor(math.log(2 / 3) * 1e6 + 0.5)
    assert row["avg_nll_micro"] <= HEAD_MAX_AVG_NLL_MICRO
    assert row["ppl_bucket"] == "head"
    assert HEAD_MAX_AVG_NLL_MICRO < MIDDLE_MAX_AVG_NLL_MICRO


def test_keep_ids_drops_tail(spark):
    # the OOV cost is ln(V): a 40-word training vocabulary prices
    # fully-OOV gibberish at ln(41) ~ 3.71M micro-nats > the tail cutoff,
    # while in-distribution text stays far below the head cutoff.
    fluent = " ".join(f"word{i}" for i in range(40)) + " ."
    train = [(i * 10, fluent) for i in range(4)]
    score = [(1, fluent), (3, "qz wv xj qk zn vb pq wz jx kq")]
    docs = spark.createDataFrame(train + score, ["doc_id", "text"])
    kept = {r["doc_id"] for r in perplexity_keep_ids(docs).collect()}
    assert 1 in kept  # fluent text matches the reference slice -> kept
    assert 3 not in kept  # gibberish lands in tail


def test_scoring_plan_is_map_only(spark):
    """The scoring pass must stay shuffle-free: scan -> project ->
    ArrowEvalPython-free mapInPandas, zero Exchange."""
    lm = _hand_lm()
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    plan = score_perplexity(docs, lm)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_scoring_deterministic_across_partitioning(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5} end") for i in range(40)],
        ["doc_id", "text"],
    )
    a = lm_perplexity(docs, train_modulus=4).orderBy("doc_id").collect()
    b = (
        lm_perplexity(docs.repartition(7), train_modulus=4)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_perplexity_tiers_terciles_and_edges(spark):
    """Data-derived per-language terciles: with sample_ppm=1e6 (sample =
    all valid docs) each language splits ~n/3 per tier by construction;
    <2-token docs land in 'empty'; a language whose docs never hit the
    sample lands in 'untiered'."""
    from intelligent_document_processing_on_aws_spark.operators.lm_filter import (
        perplexity_tiers,
    )

    rows = []
    # 9 english docs with strictly increasing gibberish (higher nll)
    for i in range(9):
        fluent = "the cat sat on the mat " * 3
        noise = " ".join(f"zz{i}q{j}" for j in range(i * 2))
        rows.append((i, "en", (fluent + " " + noise).strip()))
    rows.append((100, "en", "single"))        # 1 token -> empty
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    rows_out = perplexity_tiers(
        docs, train_modulus=3, sample_ppm=1_000_000
    ).collect()
    out = {r["doc_id"]: r["ppl_tier"] for r in rows_out}
    assert out[100] == "empty"

    # independent re-derivation of the exact order-statistic cutoffs
    # (value at rank ceil(n/3) / ceil(2n/3) of the sorted sample) from
    # the operator's own integer scores
    valid = sorted(
        (r for r in rows_out if r["avg_nll_micro"] is not None),
        key=lambda r: (r["avg_nll_micro"], r["doc_id"]),
    )
    n = len(valid)
    assert n == 9
    c33 = valid[(n + 2) // 3 - 1]["avg_nll_micro"]
    c66 = valid[(2 * n + 2) // 3 - 1]["avg_nll_micro"]
    for r in valid:
        want = ("head" if r["avg_nll_micro"] <= c33
                else "middle" if r["avg_nll_micro"] <= c66 else "tail")
        assert out[r["doc_id"]] == want
    assert {out[r["doc_id"]] for r in valid} == {"head", "middle", "tail"}

    # a language absent from the sample: sample_ppm=0 -> every scored
    # doc is untiered (no cutoffs exist for any language)
    out0 = perplexity_tiers(docs, train_modulus=3, sample_ppm=0)
    vals = {r["ppl_tier"] for r in out0.collect()}
    assert vals == {"untiered", "empty"}


def test_perplexity_tiers_corpus_never_sorted(spark):
    """Plan shape: the corpus-side assignment is scan -> Arrow score ->
    BroadcastHashJoin. Sorts/Exchanges exist only on the bounded-sample
    cutoff branch; the scored corpus must reach the join without any
    Exchange or Sort of its own (a per-lang ntile would globally sort
    the corpus)."""
    from intelligent_document_processing_on_aws_spark.operators.lm_filter import (
        perplexity_tiers,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        perplexity_tiers(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # corpus side of the broadcast join: everything after the join node
    # until the BroadcastExchange subtree; cheap structural check — the
    # full plan may contain exactly the sample branch's Exchanges (one
    # hash for the window, one for the groupBy) and its window Sort,
    # but no SortMergeJoin and no global Sort on the streamed side
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") == 1
    assert "BatchEvalPython" not in plan


def test_train_caps_bound_the_collected_tables(spark):
    """min_count/max_vocab are applied INSIDE the aggregation, before
    the driver collect (the bpe_train max_words discipline), and their
    defaults are no-ops."""
    docs = spark.createDataFrame(
        [(0, "a b a b a"), (10, "a c b a")], ["doc_id", "text"]
    )
    full = train_bigram_lm(docs)
    # defaults == explicit no-op caps: identical model
    assert train_bigram_lm(docs, min_count=1, max_vocab=None) == full

    capped = train_bigram_lm(docs, min_count=2)
    assert capped.unigram == {w: c for w, c in full.unigram.items() if c >= 2}
    assert capped.bigram == {p: c for p, c in full.bigram.items() if c >= 2}
    assert capped.v == len(capped.unigram) + 1

    top2 = train_bigram_lm(docs, max_vocab=2)
    # top-2 by (count DESC, word ASC): a(5), b(3)
    assert set(top2.unigram) == {"a", "b"}
    assert top2.v == 3
    # bigram table restricted to pairs with BOTH ends in the kept
    # vocabulary (so no retained bigram of a dropped word can produce
    # a positive log-probability)
    assert set(top2.bigram) == {p for p in full.bigram
                                if p[0] in {"a", "b"} and p[1] in {"a", "b"}}
    assert all(top2.logp_micro(w1, w2) < 0 for (w1, w2) in full.bigram)
