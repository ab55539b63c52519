"""Quality-tier extraction + per-source cap (operators/tiers.py):
exact integer tier boundaries, deterministic cap tie-breaks, and the
pinned plan shapes (map-only assignment, WindowGroupLimit cap)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def test_tier_boundary_is_exact_integer(spark):
    """A doc whose score lands EXACTLY on a TIER_BOUNDS value must take
    the higher tier (>= comparison), and one point below must not —
    only possible to pin because the score is integer ppm with floor
    division (no float boundary).

    192 non-stopword alnum tokens, zero punctuation:
      len_ppm  = 400000*192 // 256 = 300000 exactly
      punct_ppm = 300000 (no punct chars), stop_ppm = 0
      score = 600000 == TIER_BOUNDS[3]  ->  tier 4 'head'
    191 tokens: len_ppm = 298437 -> score 598437 -> tier 3 'high'."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        TIER_BOUNDS,
        quality_tiers,
    )

    assert TIER_BOUNDS[3] == 600_000
    at = " ".join(["zzz"] * 192)
    below = " ".join(["zzz"] * 191)
    out = {
        r["doc_id"]: r
        for r in quality_tiers(
            _mk_docs(spark, [(1, "s", at), (2, "s", below)])
        ).collect()
    }
    assert out[1]["score_ppm"] == 600_000
    assert out[1]["tier"] == 4 and out[1]["tier_label"] == "head"
    assert out[2]["score_ppm"] == 598_437
    assert out[2]["tier"] == 3 and out[2]["tier_label"] == "high"


def test_tier_score_matches_python_reference(spark):
    """Spark scores == an independent pure-Python spelling of the spec
    on a mixed corpus (punctuation, stopwords, empty, NULL)."""
    from intelligent_document_processing_on_aws_spark.kernels.textstats import (
        STOPWORDS,
    )
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        quality_tiers,
    )

    texts = [
        "the cat sat on the mat, and it is that good!!!",
        "zzz " * 40,
        "a b c ... !!! ??? ;;;",
        "",
        None,
        "word " * 300 + "the and of to is in it",
    ]
    rows = [(i, f"src{i % 2}", t) for i, t in enumerate(texts)]

    def ref(t):
        t = t or ""
        toks = [w for w in t.strip().split()] if t.strip() else []
        nt = len(toks)
        nc = len(t)
        npunct = sum(1 for ch in t if not (ch.isascii() and (ch.isalnum() or ch.isspace())))
        sh = sum(1 for w in toks if w.lower() in STOPWORDS)
        len_ppm = (400_000 * min(nt, 256)) // 256
        punct_ppm = 0 if nc == 0 else (300_000 * (nc - min(4 * npunct, nc))) // nc
        stop_ppm = 0 if nt == 0 else (300_000 * min(5 * sh, nt)) // nt
        return len_ppm + punct_ppm + stop_ppm

    got = {r["doc_id"]: r for r in quality_tiers(_mk_docs(spark, rows)).collect()}
    for i, t in enumerate(texts):
        assert got[i]["score_ppm"] == ref(t), (i, t)
    # NULL/empty land in the bottom tier, never crash
    assert got[3]["tier"] == 0 and got[4]["tier"] == 0


def test_tier_rollup_partitions_the_corpus(spark):
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        quality_tiers,
        tier_rollup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    per_doc = quality_tiers(docs).collect()
    roll = {r["tier"]: r for r in tier_rollup(docs).collect()}
    assert sum(r["n_docs"] for r in roll.values()) == len(per_doc)
    for t, r in roll.items():
        mine = [d for d in per_doc if d["tier"] == t]
        assert r["n_docs"] == len(mine)
        assert r["total_tokens"] == sum(d["n_tokens"] for d in mine)
        assert r["n_sources"] == len({d["source"] for d in mine})
        assert r["tier_label"] == mine[0]["tier_label"]


def test_source_cap_keeps_topk_with_deterministic_ties(spark):
    """Per-source cap: exactly k survivors per source, ranked by
    (score DESC, doc_id ASC) — equal-score ties keep the LOWEST doc_id,
    so the result is identical at any parallelism."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        source_cap,
        tier_score_ppm,
    )

    # 10 identical docs (exact score ties) + 5 distinct ones per source
    rows = []
    for s in ("a", "b"):
        base = 100 if s == "a" else 200
        rows += [(base + i, s, "zzz " * 50) for i in range(10)]
        rows += [(base + 50 + i, s, "word " * (10 + 30 * i)) for i in range(5)]
    docs = _mk_docs(spark, rows)

    kept = source_cap(docs, k=4).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    scores = {
        r["doc_id"]: r["score_ppm"] for r in tier_score_ppm(docs).collect()
    }
    for s, grp in by_src.items():
        assert len(grp) == 4
        expect = sorted(scores, key=lambda d: (-scores[d], d))
        expect = [d for d in expect if (100 <= d < 200) == (s == "a")][:4]
        assert sorted(r["doc_id"] for r in grp) == sorted(expect)
        assert sorted(r["rank_in_source"] for r in grp) == [1, 2, 3, 4]


def test_tiers_plan_shapes(spark):
    """quality_tiers is a map-only projection (zero Exchange); the cap
    is planned as WindowGroupLimit so each partition prunes to local
    top-k BEFORE the single shuffle; nothing drops to per-row Python."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        quality_tiers,
        source_cap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = quality_tiers(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    plan = source_cap(docs, 16)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_quality_tiers_is_streaming_compatible(spark, tmp_path):
    """Tier assignment is stateless and map-only, so the same operator
    runs unchanged under readStream in append mode (the shape for
    tiering a live crawl as it lands) and assigns identical tiers to
    the batch path."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        quality_tiers,
    )

    src = str(tmp_path / "docs_in")
    rows = [
        (1, "s0", "zzz " * 192),
        (2, "s0", "the cat sat on the mat and it is that good"),
        (3, "s1", "a b !!! ??? ;;;"),
        (4, "s1", ""),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(src)

    schema = "doc_id long, source string, text string"
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        quality_tiers(stream)
        .writeStream.format("memory")
        .queryName("tiers_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["score_ppm"], r["tier"], r["tier_label"])
            for r in spark.sql("select * from tiers_stream").collect()
        }
    finally:
        q.stop()

    batch = {
        r["doc_id"]: (r["score_ppm"], r["tier"], r["tier_label"])
        for r in quality_tiers(spark.read.parquet(src)).collect()
    }
    assert got == batch and len(got) == 4


def test_write_tiered_partitions_and_pruning(spark, tmp_path):
    """write_tiered lands one Hive directory per tier_label; reading a
    single tier back prunes partitions (the scan's PartitionFilters
    carry the tier predicate) and returns exactly the docs
    quality_tiers assigns to that tier."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        quality_tiers,
        write_tiered,
    )
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "tiered")
    write_tiered(docs, out)

    expect = {}
    for r in quality_tiers(docs).collect():
        expect.setdefault(r["tier_label"], set()).add(r["doc_id"])
    dirs = {
        d.split("=", 1)[1]
        for d in os.listdir(out)
        if d.startswith("tier_label=")
    }
    assert dirs == set(expect)

    back = spark.read.parquet(out)
    one = back.where(F.col("tier_label") == "mid")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tier_label" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert {r["doc_id"] for r in one.select("doc_id").collect()} \
        == expect["mid"]
    # full round-trip keeps every doc exactly once
    assert back.count() == docs.count()


def test_tier_job_cli(tmp_path):
    """jobs/tier.py end-to-end: tier-partitioned layout on disk, rollup
    counts in the JSON line, and (with --mix-budget) temperature rates
    that up-weight scarce tiers over fat ones."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "tiered")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "tier.py"),
         "--input", "/root/testdata/sf0.01/documents.parquet",
         "--output", out, "--mix-budget", "8000"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert stats["docs"] == 500
    assert sum(v["docs"] for v in stats["tiers"].values()) == 500

    # disk layout: one Hive dir per reported tier, independently readable
    dirs = {d.split("=", 1)[1] for d in os.listdir(out)
            if d.startswith("tier_label=")}
    assert dirs == set(stats["tiers"])
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/*/*.parquet')"
    ).fetchone()[0]
    assert n == 500

    # scarce tiers sample at a higher rate than the fat mid tier
    rates = stats["mix_rates_ppm"]
    fat = max(stats["tiers"], key=lambda k: stats["tiers"][k]["tokens"])
    scarce = min(stats["tiers"], key=lambda k: stats["tiers"][k]["tokens"])
    assert rates[scarce] > rates[fat]


def test_source_tier_profile_shares_and_dominance(spark):
    """Integer-ppm shares sum to <= 1e6 per source (floor division) and
    is_dominant marks exactly one row per source — the largest tier,
    ties broken to the LOWEST tier."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        source_tier_profile,
        with_tier,
    )

    # craft two sources; tiers come from the real scorer, so derive the
    # expected dominant tier from with_tier itself (no magic constants)
    rows = [(i, ("word " * (i % 7 + 1)).strip(), "s" if i % 3 else "t")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    prof = source_tier_profile(docs).collect()

    by_src = {}
    for r in prof:
        by_src.setdefault(r.source, []).append(r)
    truth = with_tier(docs).groupBy("source", "tier").count().collect()
    counts = {}
    for t in truth:
        counts.setdefault(t.source, {})[t.tier] = t["count"]

    for src, rs in by_src.items():
        total = sum(r.n_docs for r in rs)
        assert total == sum(counts[src].values())
        # floor-division shares: each exact, sum within len(rs) ppm of 1e6
        for r in rs:
            assert r.share_ppm == (1_000_000 * r.n_docs) // total
        assert 1_000_000 - len(rs) < sum(r.share_ppm for r in rs) <= 1_000_000
        doms = [r for r in rs if r.is_dominant]
        assert len(doms) == 1
        best = max(counts[src].items(), key=lambda kv: (kv[1], -kv[0]))
        assert doms[0].tier == best[0] and doms[0].n_docs == best[1]


def test_tier_drift_diagonal_and_truncation(spark):
    """Identical snapshots put ALL mass on the diagonal; a truncating
    perturbation moves affected docs strictly down-or-equal in tier and
    the matrix row counts reconcile with the corpus size."""
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        tier_drift,
    )

    rows = [(i, ("informative words about the topic " * (i % 5 + 1)).strip(),
             "s") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    same = tier_drift(docs, docs).collect()
    assert all(r.tier_a == r.tier_b for r in same)
    assert sum(r.n_docs for r in same) == 40

    from pyspark.sql import functions as F
    trunc = docs.select(
        "doc_id", "source", F.substring("text", 1, 3).alias("text"))
    moved = tier_drift(docs, trunc).collect()
    assert sum(r.n_docs for r in moved) == 40
    # 3-char captures can never outrank the full text's tier
    assert all(r.tier_b <= r.tier_a for r in moved)
    assert any(r.tier_b < r.tier_a for r in moved)
