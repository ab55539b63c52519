"""Driver-contract query registry: Spark queries + matching DuckDB oracles.

Each entry implements one operator family from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable, paired (where SQL-expressible) with
an ANSI-SQL oracle DuckDB runs on the same inputs. Column names and dtypes
are aligned pair-wise; float-valued columns are either bit-identical by
construction (same IEEE expression tree over the same ints) or rounded on
both sides.

Fixture-backed queries (extraction / sectioning / evaluation) read the
committed parquet under fixtures_data/ — deterministic, generated by
fixtures/build.py — and their oracles read the independently generated
golden parquet via read_parquet().
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DOC_CLASSES, eval_config_rows
from .kernels.textstats import LANG_MARKERS, LANG_ORDER, STOPWORDS
from .operators import textstats as ts
from .operators.attributes import extract_section_attributes
from .operators.classify import classify_and_section, classify_pages, majority_vote_class
from .operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from .operators.evaluation import evaluate_attributes, evaluate_lists_hungarian, metrics_rollup
from .operators.extraction import extract_pages
from .operators.similarity import brute_force_topk, cosine_pairs, lsh_topk
from .pyfiles import build

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO_ROOT, "fixtures_data")


def _fx(name: str) -> str:
    return os.path.join(FIXTURES, name)


_SHIPPED_SESSIONS: set[int] = set()
# (temp directory, archive in it): the directory goes when the process exits
_ARCHIVE: tuple[tempfile.TemporaryDirectory, str] | None = None


def ensure_workers(spark: SparkSession) -> None:
    """Ship this checkout's package to executor Python workers as the
    spark-submit --py-files archive, so cloudpickled mapInPandas functions
    can import it regardless of the harness's cwd/PYTHONPATH. The archive
    is built once per process, into a temp directory of its own, so two
    checkouts on one machine never ship each other's package. Idempotent
    per session; Spark ignores a repeat add of the same path."""
    global _ARCHIVE
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    if _ARCHIVE is None:
        tmp = tempfile.TemporaryDirectory(prefix="idp_spark_pyfiles_")
        _ARCHIVE = tmp, build(os.path.join(tmp.name, "idp_spark_pkg.zip"))
    spark.sparkContext.addPyFile(_ARCHIVE[1])
    _SHIPPED_SESSIONS.add(key)


def _wrap(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_workers(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup copies (%7, +' extra token') ∪ exact copies
    (%11). Mirrored 1:1 by _SQL_DOCS_WITH_DUPS."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    exact = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return d.unionAll(near).unionAll(exact)


_SQL_DOCS_WITH_DUPS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' extra token' AS text
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
"""


# ---------------------------------------------------------------------------
# CCNet-style LM perplexity filter (operators/lm_filter.py)
# ---------------------------------------------------------------------------

def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram LM trained on the doc_id%10 reference slice; every
    document scored in exact integer micro-nats (CCNet head/middle/tail
    buckets). Map-only Arrow scoring pass; the oracle re-derives the
    identical count tables in SQL."""
    from .operators.lm_filter import lm_perplexity

    return lm_perplexity(_docs(spark, sf_dir))


def _sql_lm_chain() -> str:
    """Shared CTE chain: tokenize, train the doc_id%10 bigram LM, score
    every doc to (doc_id, n_bigrams, avg_nll_micro) — the common core of
    the lm_perplexity and perplexity_tiers oracles."""
    return """
        tok AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t != '') AS toks
            FROM documents
        ),
        train AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
        uni AS (
            SELECT u.w AS w, count(*) AS c
            FROM train, unnest(train.toks) AS u(w)
            GROUP BY 1
        ),
        vsz AS (SELECT count(*) + 1 AS v FROM uni),
        big AS (
            SELECT train.toks[r.i] AS w1, train.toks[r.i + 1] AS w2,
                   count(*) AS c
            FROM train, unnest(range(1, len(train.toks))) AS r(i)
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT tok.doc_id, tok.toks[r.i] AS w1, tok.toks[r.i + 1] AS w2
            FROM tok, unnest(range(1, len(tok.toks))) AS r(i)
        ),
        nll AS (
            SELECT p.doc_id,
                   CAST(floor(ln((coalesce(b.c, 0) + 1)
                                 / (coalesce(u.c, 0) + vsz.v))
                              * 1000000 + 0.5) AS BIGINT) AS lp
            FROM pairs p
            CROSS JOIN vsz
            LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
            LEFT JOIN uni u ON u.w = p.w1
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
            FROM nll GROUP BY doc_id
        )
    """


def _sql_lm_perplexity() -> str:
    from .operators.lm_filter import (
        HEAD_MAX_AVG_NLL_MICRO,
        MIDDLE_MAX_AVG_NLL_MICRO,
    )

    return f"""
        WITH {_sql_lm_chain()}
        SELECT tok.doc_id,
               coalesce(agg.n_bigrams, 0) AS n_bigrams,
               agg.avg_nll_micro,
               CASE WHEN agg.avg_nll_micro IS NULL THEN NULL
                    ELSE round(exp(agg.avg_nll_micro / 1000000.0), 6)
               END AS ppl,
               CASE WHEN agg.avg_nll_micro IS NULL THEN 'empty'
                    WHEN agg.avg_nll_micro <= {HEAD_MAX_AVG_NLL_MICRO}
                        THEN 'head'
                    WHEN agg.avg_nll_micro <= {MIDDLE_MAX_AVG_NLL_MICRO}
                        THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM tok LEFT JOIN agg USING (doc_id)
    """


_PPL_TIER_SAMPLE_PPM = 400_000
_PPL_TIER_SEED = "ppltier-42"


def q_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-proper per-language perplexity terciles with DATA-DERIVED
    cutoffs: exact order statistics (rank ceil(n/3) / ceil(2n/3)) of a
    bounded deterministic hash sample, broadcast back for a map-only
    assignment — the corpus itself is never sorted or shuffled (a naive
    per-lang ntile(3) would ship ~90% of a web corpus into the single
    'en' sort partition)."""
    from .operators.lm_filter import perplexity_tiers

    return perplexity_tiers(
        _docs(spark, sf_dir),
        sample_ppm=_PPL_TIER_SAMPLE_PPM,
        seed=_PPL_TIER_SEED,
    )


def _sql_perplexity_tiers() -> str:
    h = f"md5('{_PPL_TIER_SEED}:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    return f"""
        WITH {_sql_lm_chain()},
        scored AS (
            SELECT tok.doc_id, d.lang,
                   coalesce(agg.n_bigrams, 0) AS n_bigrams,
                   agg.avg_nll_micro
            FROM tok
            LEFT JOIN agg USING (doc_id)
            JOIN documents d USING (doc_id)
        ),
        samp AS (
            SELECT * FROM scored
            WHERE avg_nll_micro IS NOT NULL
              AND {bucket} < {_PPL_TIER_SAMPLE_PPM}
        ),
        ranked AS (
            SELECT lang, avg_nll_micro,
                   row_number() OVER (
                     PARTITION BY lang
                     ORDER BY avg_nll_micro, doc_id
                   ) AS r,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM samp
        ),
        cuts AS (
            SELECT lang,
                   max(CASE WHEN r <= (n + 2) // 3
                            THEN avg_nll_micro END) AS c33,
                   max(CASE WHEN r <= (2 * n + 2) // 3
                            THEN avg_nll_micro END) AS c66
            FROM ranked GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.n_bigrams, s.avg_nll_micro,
               CASE WHEN s.avg_nll_micro IS NULL THEN 'empty'
                    WHEN c.c33 IS NULL THEN 'untiered'
                    WHEN s.avg_nll_micro <= c.c33 THEN 'head'
                    WHEN s.avg_nll_micro <= c.c66 THEN 'middle'
                    ELSE 'tail' END AS ppl_tier
        FROM scored s LEFT JOIN cuts c USING (lang)
    """


def q_tier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table between the two tiering schemes: stat-composite
    quality tiers (FineWeb-Edu-style, operators/tiers.py) x per-language
    perplexity terciles (CCNet, operators/lm_filter.py) — the confusion
    matrix a mix designer reads before trusting either gate alone.
    ONE corpus pass: with_tier's map-only columns ride through the
    perplexity scorer as carry columns, so no corpus-size join — the
    only wide op is the final tiny groupBy on (5x5) keys."""
    from .operators.lm_filter import perplexity_tiers
    from .operators.tiers import with_tier

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "text")
    pt = perplexity_tiers(
        with_tier(d),
        sample_ppm=_PPL_TIER_SAMPLE_PPM,
        seed=_PPL_TIER_SEED,
        carry_cols=("tier_label",),
    )
    return pt.groupBy("tier_label", "ppl_tier").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _sql_tier_agreement() -> str:
    h = f"md5('{_PPL_TIER_SEED}:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    return f"""
        WITH {_sql_lm_chain()},
        scored AS (
            SELECT tok.doc_id, d.lang, agg.avg_nll_micro
            FROM tok
            LEFT JOIN agg USING (doc_id)
            JOIN documents d USING (doc_id)
        ),
        samp AS (
            SELECT * FROM scored
            WHERE avg_nll_micro IS NOT NULL
              AND {bucket} < {_PPL_TIER_SAMPLE_PPM}
        ),
        ranked AS (
            SELECT lang, avg_nll_micro,
                   row_number() OVER (
                     PARTITION BY lang
                     ORDER BY avg_nll_micro, doc_id
                   ) AS r,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM samp
        ),
        cuts AS (
            SELECT lang,
                   max(CASE WHEN r <= (n + 2) // 3
                            THEN avg_nll_micro END) AS c33,
                   max(CASE WHEN r <= (2 * n + 2) // 3
                            THEN avg_nll_micro END) AS c66
            FROM ranked GROUP BY lang
        ),
        ppl AS (
            SELECT s.doc_id,
                   CASE WHEN s.avg_nll_micro IS NULL THEN 'empty'
                        WHEN c.c33 IS NULL THEN 'untiered'
                        WHEN s.avg_nll_micro <= c.c33 THEN 'head'
                        WHEN s.avg_nll_micro <= c.c66 THEN 'middle'
                        ELSE 'tail' END AS ppl_tier
            FROM scored s LEFT JOIN cuts c USING (lang)
        ),
        qt AS ({_sql_quality_tiers()})
        SELECT qt.tier_label, ppl.ppl_tier,
               count(*)::BIGINT AS n_docs
        FROM qt JOIN ppl USING (doc_id)
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# fastText-style language classifier (operators/ft_classifier.py)
# ---------------------------------------------------------------------------

_LANGID_SAMPLE_N = 512


def q_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-architecture lang-ID (Joulin et al. 2016): softmax over
    hashed char-trigram buckets, trained on the first 512 doc_ids of the
    committed 1200-doc langid fixture (bounded TakeOrdered sample, pure
    numpy kernel), then EVERY doc — held-out 512..1199 included — scored
    by pure Catalyst expressions: zero Python per row, zero shuffles.
    The oracle re-trains bit-identical weights via the shared kernel
    (kernels/ft_linear.py) and re-derives every integer score natively
    in DuckDB. Scores are exact int64 micro-units; the reference repo's
    analog is a per-document Bedrock call (classification/service.py),
    oos per the north star."""
    from .operators.ft_classifier import ft_lang_classifier

    docs = spark.read.parquet(_fx("langid_pages.parquet"))
    return ft_lang_classifier(docs, sample_n=_LANGID_SAMPLE_N)


def _langid_oracle_weights() -> tuple[list[list[int]], list[int], list[str]]:
    """Oracle-side twin of train_lang_classifier: same deterministic
    sample read via pyarrow instead of Spark, same pure kernel —
    bit-identical quantized weights (the IVF-centroid pattern)."""
    import pyarrow.parquet as pq

    from .kernels.ft_linear import quantize_micro, train_softmax

    t = pq.read_table(_fx("langid_pages.parquet")).to_pandas() \
        .sort_values("doc_id").head(_LANGID_SAMPLE_N)
    texts = [x or "" for x in t["text"]]
    langs = list(t["lang"])
    classes = sorted(set(langs))
    idx = {c: k for k, c in enumerate(classes)}
    W, b = train_softmax(texts, [idx[y] for y in langs], len(classes))
    w_micro, b_micro = quantize_micro(W, b)
    return w_micro, b_micro, classes


def _sql_ft_pipeline(
    src_sql: str,
    weights: tuple[list[list[int]], list[int], list[str]],
    label_alias: str = "lang",
    pred_alias: str = "pred_lang",
    correct_alias: str = "correct",
) -> str:
    """Shared DuckDB scoring pipeline for the fastText-architecture
    classifiers: buckets / integer floor-div scores / argmax / softmax
    re-computed natively (indexed lambdas are 1-based; list_reduce folds
    the softmax denominator in the same sequential order as the Spark
    aggregate).  ``src_sql`` must yield (doc_id, lang, t)."""
    from .kernels.ft_linear import DEFAULT_BUCKETS

    w_micro, b_micro, classes = weights
    wf = [v for row in w_micro for v in row]
    n_cls = len(classes)
    cls_sql = "[" + ",".join(f"'{c}'" for c in classes) + "]"
    nb = DEFAULT_BUCKETS
    return f"""
        WITH w AS (SELECT {wf}::BIGINT[] AS wf, {b_micro}::BIGINT[] AS bias,
                          {cls_sql} AS cls),
        src AS (
            {src_sql}
        ),
        feat AS (
            SELECT doc_id, lang,
                   CAST(greatest(length(t) - 2, 0) AS BIGINT) AS n_grams,
                   CASE WHEN length(t) >= 3 THEN
                       list_transform(range(1, length(t) - 1), i ->
                           ((ascii(substring(t, i, 1)) * 31
                             + ascii(substring(t, i + 1, 1))) * 31
                            + ascii(substring(t, i + 2, 1))) % {nb})
                   ELSE []::BIGINT[] END AS buckets
            FROM src
        ),
        summed AS (
            SELECT f.doc_id, f.lang, f.n_grams,
                   list_transform(range(0, {n_cls}), k ->
                       CAST(coalesce(list_sum(list_transform(f.buckets,
                           b -> w.wf[k * {nb} + b + 1])), 0) AS BIGINT))
                       AS sums
            FROM feat f, w
        ),
        sc AS (
            SELECT s.doc_id, s.lang, s.n_grams,
                   list_transform(s.sums, (x, k) -> w.bias[k]
                       + (x - (((x % greatest(s.n_grams, 1))
                                + greatest(s.n_grams, 1))
                               % greatest(s.n_grams, 1)))
                         // greatest(s.n_grams, 1)) AS scores
            FROM summed s, w
        ),
        fin AS (
            SELECT sc.doc_id, sc.lang, sc.n_grams,
                   list_max(sc.scores) AS score_micro,
                   w.cls[list_position(sc.scores, list_max(sc.scores))]
                       AS pred_lang,
                   round(1.0 / list_reduce(list_prepend(0.0,
                       list_transform(sc.scores, x ->
                           exp((x - list_max(sc.scores)) / 1000000.0))),
                       (a, b2) -> a + b2), 6) AS prob
            FROM sc, w
        )
        SELECT doc_id, lang AS {label_alias}, n_grams, score_micro,
               pred_lang AS {pred_alias}, prob,
               pred_lang = lang AS {correct_alias}
        FROM fin
    """


def _sql_lang_classifier() -> str:
    """Full-fidelity oracle: weights re-derived by the shared pure
    kernel, then the shared scoring pipeline (_sql_ft_pipeline)."""
    from .kernels.ft_linear import MAX_CHARS

    src = f"""SELECT doc_id, lang,
                   substring(coalesce(text, ''), 1, {MAX_CHARS}) AS t
            FROM read_parquet('{_fx('langid_pages.parquet')}')"""
    return _sql_ft_pipeline(src, _langid_oracle_weights())


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (the CCNet/LLaMA fastText-quality
    stage): weak hq/lq labels from cheap integer stats (>=40 words,
    mean word length <= 6 as the integer test sum<=6n), bounded-sample
    softmax training via the shared pure kernel, zero-Python Catalyst
    scoring of every doc.  The oracle re-derives the weak labels in
    SQL, re-trains bit-identical weights via the shared kernel, and
    re-scores natively."""
    from .operators.ft_classifier import ft_quality_classifier

    return ft_quality_classifier(_docs(spark, sf_dir), sample_n=512)


def _quality_oracle_weights() -> tuple[list[list[int]], list[int], list[str]]:
    """Oracle twin of the quality classifier's training half: same
    deterministic first-512 sample via pyarrow, same pure weak-label
    rule, same pure softmax kernel — bit-identical quantized weights."""
    import pyarrow.parquet as pq

    from .kernels.ft_linear import (
        quantize_micro,
        train_softmax,
        weak_quality_label,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"]).to_pandas() \
        .sort_values("doc_id").head(512)
    texts = [x or "" for x in t["text"]]
    labels = [weak_quality_label(x) for x in texts]
    classes = sorted(set(labels))
    idx = {c: k for k, c in enumerate(classes)}
    W, b = train_softmax(texts, [idx[y] for y in labels], len(classes))
    w_micro, b_micro = quantize_micro(W, b)
    return w_micro, b_micro, classes


def _sql_quality_classifier() -> str:
    from .kernels.ft_linear import MAX_CHARS

    src = f"""SELECT doc_id,
                   CASE WHEN len(list_filter(regexp_split_to_array(
                                coalesce(text, ''), '\\s+'),
                            w -> w <> '')) >= 40
                         AND length(regexp_replace(coalesce(text, ''),
                                                   '\\s+', '', 'g'))
                             <= 6 * len(list_filter(regexp_split_to_array(
                                    coalesce(text, ''), '\\s+'),
                                w -> w <> ''))
                        THEN 'hq' ELSE 'lq' END AS lang,
                   substring(coalesce(text, ''), 1, {MAX_CHARS}) AS t
            FROM documents"""
    return _sql_ft_pipeline(
        src,
        _quality_oracle_weights(),
        label_alias="weak_label",
        pred_alias="pred_quality",
        correct_alias="agrees",
    )


# ---------------------------------------------------------------------------
# text stats
# ---------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.document_stats(_docs(spark, sf_dir)).drop("punct_ratio")


def _sql_hits(words) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"t -> list_contains([{arr}], t)))"
    )


def _sql_doc_stats(src: str = "documents") -> str:
    nt = ("CASE WHEN length(trim(text)) = 0 THEN 0 "
          "ELSE len(string_split_regex(trim(text), '\\s+')) END")
    stop_hits = _sql_hits(STOPWORDS)
    stop_ratio = f"CASE WHEN {nt} = 0 THEN 0.0 ELSE {stop_hits} / {nt} END"
    n_punct = "length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))"
    punct_ratio = f"CASE WHEN length(text) = 0 THEN 0.0 ELSE {n_punct} / length(text) END"
    quality = (
        f"round(0.4 * (least({nt}, 256) / 256.0) "
        f"+ 0.3 * (1.0 - least({punct_ratio} * 4.0, 1.0)) "
        f"+ 0.3 * least({stop_ratio} * 5.0, 1.0), 6)"
    )
    lang_hits = {lang: _sql_hits(LANG_MARKERS[lang]) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(lang_hits[lg] for lg in LANG_ORDER) + ")"
    lang_case = "CASE "
    for lg in LANG_ORDER:
        lang_case += f"WHEN {best} > 0 AND {lang_hits[lg]} = {best} THEN '{lg}' "
    lang_case += "ELSE 'und' END"
    fp = ("md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' '))")
    bpe = "len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]'))"
    return f"""
        SELECT doc_id,
               CAST({nt} AS BIGINT) AS n_tokens,
               CAST({bpe} AS BIGINT) AS n_bpe_tokens,
               {stop_ratio} AS stopword_ratio,
               {quality} AS quality,
               {lang_case} AS lang_guess,
               {fp} AS fingerprint
        FROM {src}
    """


def _sql_lang_case() -> str:
    """The doc_stats language CASE over a column named `text` — shared
    by the doc-level and paragraph-level oracles."""
    lang_hits = {lang: _sql_hits(LANG_MARKERS[lang]) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(lang_hits[lg] for lg in LANG_ORDER) + ")"
    case = "CASE "
    for lg in LANG_ORDER:
        case += f"WHEN {best} > 0 AND {lang_hits[lg]} = {best} THEN '{lg}' "
    return case + "ELSE 'und' END"


def q_paragraph_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level language mix (textstats.paragraph_lang_mix — the
    CCNet per-paragraph langid stage): docs reshaped multi-line, with a
    French marker line planted on %3 docs and a German one on %5 docs,
    so majority/share/mix columns all have nonzero support. Oracle
    re-derives per-line langid + majority (count desc, lang asc) in
    DuckDB with the shared language CASE."""
    from .operators.textstats import paragraph_lang_mix

    d = _docs(spark, sf_dir)
    t = F.replace(F.coalesce(F.col("text"), F.lit("")),
                  F.lit(" a "), F.lit("\n"))
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(t, F.lit("\nle la les et une est"))).otherwise(t)
    t = F.when(F.col("doc_id") % 5 == 0,
               F.concat(t, F.lit("\nder und nicht das ist"))).otherwise(t)
    return paragraph_lang_mix(d.select("doc_id", t.alias("text")))


def _sql_paragraph_langs() -> str:
    return f"""
        WITH d AS (
            SELECT doc_id,
                   replace(coalesce(text, ''), ' a ', chr(10))
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || 'le la les et une est'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || 'der und nicht das ist'
                           ELSE '' END AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id, trim(t.l, ' ' || chr(9) || chr(13)) AS text
            FROM d, UNNEST(string_split(text, chr(10))) AS t(l)
            WHERE trim(t.l, ' ' || chr(9) || chr(13)) <> ''
        ),
        per AS (SELECT doc_id, {_sql_lang_case()} AS lang FROM lines),
        counts AS (
            SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n
            FROM per GROUP BY doc_id, lang
        ),
        tot AS (
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_paras,
                   CAST(count(*) AS BIGINT) AS n_langs
            FROM counts GROUP BY doc_id
        ),
        best AS (
            SELECT doc_id, lang, n,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY n DESC, lang ASC
                   ) AS rn
            FROM counts
        )
        SELECT t.doc_id, t.n_paras, b.lang AS majority_lang,
               CAST((1000000 * b.n) // t.n_paras AS BIGINT)
                   AS majority_ppm,
               t.n_langs
        FROM tot t JOIN best b ON b.doc_id = t.doc_id AND b.rn = 1
    """


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = q_doc_stats(spark, sf_dir)
    return stats.groupBy("lang_guess").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion audit: the declared `lang` column crossed
    with the content-derived lang_guess — the data-quality table that
    tells a pipeline operator whether to trust crawl-supplied language
    tags or re-derive them (off-diagonal mass = mislabeled pages).
    One broadcast-free equi-join on doc_id + a tiny two-key rollup."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("unknown")).alias("lang"))
    stats = q_doc_stats(spark, sf_dir).select("doc_id", "lang_guess")
    return (
        d.join(stats, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _sql_lang_confusion() -> str:
    return f"""
        SELECT coalesce(d.lang, 'unknown') AS lang, s.lang_guess,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents d
        JOIN ({_sql_doc_stats()}) s USING (doc_id)
        GROUP BY 1, 2
    """


def _sql_lang_distribution() -> str:
    return (
        f"SELECT lang_guess, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum(n_tokens) AS BIGINT) AS total_tokens "
        f"FROM ({_sql_doc_stats()}) GROUP BY lang_guess"
    )


# ---------------------------------------------------------------------------
# quality tiers / per-source diversity cap (operators/tiers.py)
# ---------------------------------------------------------------------------

def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiers import quality_tiers

    return quality_tiers(_docs(spark, sf_dir))


def q_tier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiers import tier_rollup

    return tier_rollup(_docs(spark, sf_dir))


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiers import source_cap

    return source_cap(_docs(spark, sf_dir), k=16)


def q_source_tier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tier composition (operators/tiers.source_tier_profile):
    integer-ppm tier shares + dominant-tier flag per source — the
    crawl-prioritization rollup a recrawl policy reads."""
    from .operators.tiers import source_tier_profile

    return source_tier_profile(_docs(spark, sf_dir))


def q_host_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host template-line detection (domains.host_template_lines):
    RefinedWeb-style host-scoped boilerplate. Docs are reshaped to
    multi-line with a planted 100%-share copyright line per source and
    a ~50%-share subscribe line (doc_id%2); with min_share_ppm=600000
    the copyright line must surface per host and the subscribe line
    must be rejected by the share gate wherever its host share falls
    below 60%. The oracle independently re-splits, re-trims and
    re-counts in DuckDB."""
    from .operators.domains import host_template_lines

    d = _docs(spark, sf_dir)
    text2 = F.concat(
        F.replace(F.coalesce(F.col("text"), F.lit("")),
                  F.lit(" a "), F.lit("\n")),
        F.lit("\nCopyright "), F.col("source"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nSubscribe now")).otherwise(F.lit("")),
    )
    docs2 = d.select("doc_id", F.col("source").alias("host"),
                     text2.alias("text"))
    return host_template_lines(docs2, min_docs=3, min_share_ppm=600_000)


def _sql_host_templates() -> str:
    return """
        WITH d AS (
            SELECT doc_id, source,
                   replace(coalesce(text, ''), ' a ', chr(10))
                   || chr(10) || 'Copyright ' || source
                   || CASE WHEN doc_id % 2 = 0
                           THEN chr(10) || 'Subscribe now' ELSE '' END
                   AS text
            FROM documents
        ),
        lines AS (
            SELECT DISTINCT doc_id, source AS host,
                   trim(t.l, ' ' || chr(9) || chr(13)) AS line
            FROM d, UNNEST(string_split(text, chr(10))) AS t(l)
            WHERE trim(t.l, ' ' || chr(9) || chr(13)) <> ''
        ),
        df AS (
            SELECT host, line, CAST(count(*) AS BIGINT) AS df
            FROM lines GROUP BY host, line
        ),
        sizes AS (
            SELECT source AS host,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS host_docs
            FROM d GROUP BY source
        )
        SELECT host, line, df, host_docs,
               CAST((1000000 * df) // host_docs AS BIGINT) AS share_ppm
        FROM df JOIN sizes USING (host)
        WHERE df >= 3 AND (1000000 * df) // host_docs >= 600000
    """


def q_tier_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot tier transition matrix (operators/tiers.tier_drift):
    snapshot A is `documents` as-is; snapshot B deterministically
    perturbs every %5 doc to a 10-char truncated capture (the classic
    recrawl failure mode) — those docs must fall tiers, everything else
    must sit on the diagonal."""
    from .operators.tiers import tier_drift

    d = _docs(spark, sf_dir)
    b = d.select(
        "doc_id", "source",
        F.when(F.col("doc_id") % 5 == 0,
               F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 10))
        .otherwise(F.col("text")).alias("text"),
    )
    return tier_drift(d, b)


def _sql_tier_drift() -> str:
    b_src = """(SELECT doc_id, source,
                       CASE WHEN doc_id % 5 = 0
                            THEN substr(coalesce(text, ''), 1, 10)
                            ELSE text END AS text
                FROM documents)"""
    return f"""
        WITH a AS ({_sql_quality_tiers()}),
        b AS ({_sql_quality_tiers(b_src)})
        SELECT a.tier AS tier_a, a.tier_label AS label_a,
               b.tier AS tier_b, b.tier_label AS label_b,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM a JOIN b USING (doc_id)
        GROUP BY 1, 2, 3, 4
    """


def _sql_source_tier_profile() -> str:
    return f"""
        WITH agg AS (
            SELECT source, tier, tier_label,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM ({_sql_quality_tiers()})
            GROUP BY source, tier, tier_label
        )
        SELECT source, tier, tier_label, n_docs, total_tokens,
               CAST((1000000 * n_docs)
                    // (sum(n_docs) OVER (PARTITION BY source))
                    AS BIGINT) AS share_ppm,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_docs DESC, tier ASC
               ) = 1 AS is_dominant
        FROM agg
    """


def _sql_tier_score(src: str = "documents") -> str:
    """Integer-ppm tier score — mirrors operators/tiers.tier_score_ppm
    term for term; `//` on non-negative ints == Spark's pmod floor-div
    spelling."""
    nt = ("CASE WHEN length(trim(coalesce(text,''))) = 0 THEN 0 "
          "ELSE len(string_split_regex(trim(coalesce(text,'')), '\\s+')) END")
    n_chars = "length(coalesce(text,''))"
    n_punct = "length(regexp_replace(coalesce(text,''), '[a-zA-Z0-9\\s]', '', 'g'))"
    stop_hits = _sql_hits(STOPWORDS)
    return f"""
        SELECT doc_id, source,
               CAST({nt} AS BIGINT) AS n_tokens,
               CAST(
                 (400000 * least({nt}, 256)) // 256
                 + CASE WHEN {n_chars} = 0 THEN 0
                        ELSE (300000 * ({n_chars} - least(4 * {n_punct}, {n_chars}))) // {n_chars} END
                 + CASE WHEN {nt} = 0 THEN 0
                        ELSE (300000 * least(5 * {stop_hits}, {nt})) // {nt} END
               AS BIGINT) AS score_ppm
        FROM {src}
    """


def _sql_tier_case() -> str:
    from .operators.tiers import TIER_BOUNDS

    return "CAST(" + " + ".join(
        f"CASE WHEN score_ppm >= {b} THEN 1 ELSE 0 END" for b in TIER_BOUNDS
    ) + " AS INT)"


def _sql_quality_tiers(src: str = "documents") -> str:
    from .operators.tiers import TIER_LABELS

    labels = ", ".join(f"'{lb}'" for lb in TIER_LABELS)
    return f"""
        SELECT doc_id, source, n_tokens, score_ppm,
               {_sql_tier_case()} AS tier,
               ([{labels}])[{_sql_tier_case()} + 1] AS tier_label
        FROM ({_sql_tier_score(src)})
    """


def _sql_tier_rollup() -> str:
    return f"""
        SELECT tier, tier_label,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM ({_sql_quality_tiers()})
        GROUP BY tier, tier_label
    """


def _sql_source_cap(k: int = 16) -> str:
    return f"""
        SELECT doc_id, source, score_ppm, rank_in_source
        FROM (
          SELECT doc_id, source, score_ppm,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY score_ppm DESC, doc_id ASC
                 ) AS INT) AS rank_in_source
          FROM ({_sql_tier_score()})
        )
        WHERE rank_in_source <= {k}
    """


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_with_dups(spark, sf_dir))


def _sql_dedup_exact() -> str:
    return f"""
        WITH corpus AS ({_SQL_DOCS_WITH_DUPS}),
        hashed AS (SELECT doc_id, md5(text) AS content_hash FROM corpus)
        SELECT doc_id, content_hash,
               CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS group_size,
               min(doc_id) OVER (PARTITION BY content_hash) AS canonical_doc_id,
               doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
        FROM hashed
    """


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_df=1000 skew cap ON (the operator default): bounds the hot-shingle
    # self-join fan-out at 10^6 pairs per shingle at any corpus size; the
    # oracle mirrors the cap (no shingle reaches it at fixture scale, so
    # pair recall is unchanged — asserted in tests/test_dedup_similarity.py)
    return ngram_jaccard_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.8, k=3, max_df=1000
    ).select("doc_id_a", "doc_id_b", "jaccard")


def _sql_dedup_ngram_jaccard(jaccard_cond: str = ">= 0.8") -> str:
    return f"""
        WITH corpus AS ({_SQL_DOCS_WITH_DUPS}),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM corpus
        ),
        eligible AS (SELECT * FROM toks WHERE len(t) >= 3),
        sh_all AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM eligible, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
        ),
        kept AS (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 1000
        ),
        sh AS (SELECT sh_all.* FROM sh_all JOIN kept USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_id_a
        JOIN sizes sb ON sb.doc_id = inter.doc_id_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) {jaccard_cond}
    """


def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-passage detection: 5-token passages appearing in >= 3
    distinct documents, with document frequency. One explode + one hash
    aggregation — the linear-cost curation op that strips nav/footer
    passages before training."""
    from .operators.dedup import repeated_passages

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    return repeated_passages(docs, n=5, min_df=3)


def _sql_repeated_passages() -> str:
    return """
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        eligible AS (SELECT * FROM toks WHERE len(t) >= 5),
        sh AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                        || t[i+3] || ' ' || t[i+4] AS passage
            FROM eligible, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i)
        )
        SELECT passage, CAST(count(*) AS BIGINT) AS df
        FROM sh GROUP BY passage HAVING count(*) >= 3
    """


_CRITERIA = (  # (criteria_type, question_id, pass_pattern, fail_pattern)
    ("content", "q_spark_usage", "spark", "slow"),
    ("content", "q_customer_query", "customer query", None),
    ("compliance", "q_forbidden_word", "zzz_absent", "the "),
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb cross-document line dedup over the lined corpus:
    the %4 planted 'repeat me' blocks are corpus-duplicated, so every
    committed scale rewrites a deterministic quarter of the docs."""
    from .operators.dedup import line_dedup

    return line_dedup(_lined_docs(spark, sf_dir))


def _sql_line_dedup() -> str:
    return f"""
        WITH lined AS ({_SQL_LINED_DOCS}),
        base AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(string_split(text, chr(10)),
                                      x -> trim(x, ' ' || chr(9) || chr(13))),
                       x -> x <> '') AS ls
            FROM lined
        ),
        lines AS (
            SELECT doc_id, i AS pos, ls[i] AS line
            FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
                  FROM base)
        ),
        occ AS (
            SELECT *, row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, pos) AS rn
            FROM lines
        ),
        dup AS (
            SELECT line
            FROM (SELECT line, doc_id FROM lines GROUP BY 1, 2)
            GROUP BY line HAVING count(*) >= 2
        ),
        kept AS (
            SELECT o.doc_id,
                   string_agg(o.line, chr(10) ORDER BY o.pos)
                       AS text_deduped,
                   count(*) AS n_kept
            FROM occ o LEFT JOIN dup d USING (line)
            WHERE d.line IS NULL OR o.rn = 1
            GROUP BY o.doc_id
        )
        SELECT b.doc_id,
               coalesce(k.text_deduped, '') AS text_deduped,
               CAST(len(b.ls) AS BIGINT) AS n_lines,
               CAST(len(b.ls) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
        FROM base b LEFT JOIN kept k USING (doc_id)
    """


def q_criteria_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Criteria validation (reference criteria_validation/service.py):
    overlap-chunked text judged per question, per-chunk decisions summarized
    to Pass / Fail / Information Not Found. Small chunk params so the
    fixture corpus exercises multi-chunk summarization."""
    from .operators.criteria import validate_criteria

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    crit = spark.createDataFrame(
        list(_CRITERIA),
        "criteria_type string, question_id string, "
        "pass_pattern string, fail_pattern string",
    )
    return validate_criteria(docs, crit, max_chunk_size=25, token_size=4,
                             overlap_percentage=10)


def _sql_criteria_validation() -> str:
    crit_values = ", ".join(
        f"('{t}', '{q}', '{p}', "
        + (f"'{f}'" if f is not None else "CAST(NULL AS VARCHAR)")
        + ")"
        for t, q, p, f in _CRITERIA
    )
    return f"""
        WITH crit(criteria_type, question_id, pass_pattern, fail_pattern)
            AS (VALUES {crit_values}),
        d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        ks AS (
            SELECT doc_id, text, n,
                   CASE WHEN n // 4 <= 25 THEN 0
                        ELSE GREATEST(CAST(ceil((n - 100) / 90.0) AS INT), 0)
                   END AS kmax
            FROM d
        ),
        ch AS (
            -- single-chunk docs keep the FULL text (the token estimate can
            -- admit up to token_size-1 chars beyond the 100-char window)
            SELECT doc_id,
                   CASE WHEN n // 4 <= 25 THEN text
                        ELSE substr(text, k * 90 + 1, 100) END AS chunk
            FROM ks, LATERAL (SELECT unnest(range(0, kmax + 1)) AS k)
        ),
        dec AS (
            SELECT ch.doc_id, crit.criteria_type, crit.question_id,
                   bool_or(regexp_matches(chunk, pass_pattern)) AS any_pass,
                   bool_or(CASE WHEN fail_pattern IS NULL THEN FALSE
                                ELSE regexp_matches(chunk, fail_pattern)
                           END) AS any_fail,
                   CAST(count(*) AS BIGINT) AS n_chunks
            FROM ch CROSS JOIN crit
            GROUP BY 1, 2, 3
        )
        SELECT doc_id, criteria_type, question_id,
               CASE WHEN any_pass THEN 'Pass'
                    WHEN any_fail THEN 'Fail'
                    ELSE 'Information Not Found' END AS decision,
               n_chunks
        FROM dec
    """


def q_document_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-service current-status read (reference docs_service +
    models.py Status enum): deterministic transition history per document
    (stage reach decided by doc_id arithmetic), latest = furthest stage via
    the monotone sequence window, FAILED outranking COMPLETED."""
    from .plans.status import STATUS_ORDER, latest_status_df

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    seq = {s: i for i, s in enumerate(STATUS_ORDER)}
    stages = [  # (status, reach-predicate on doc_id)
        ("QUEUED", F.lit(True)),
        ("CLASSIFYING", F.lit(True)),
        ("EXTRACTING", F.col("doc_id") % 10 != 0),
        ("SUMMARIZING", (F.col("doc_id") % 10).isin(1, 2, 3, 4, 5, 6, 7, 8)),
        ("COMPLETED", (F.col("doc_id") % 10).isin(1, 2, 3, 4, 5, 6, 7)),
        ("FAILED", F.col("doc_id") % 10 == 8),
    ]
    transitions = None
    for status, pred in stages:
        t = docs.where(pred).select(
            "doc_id", F.lit(status).alias("status"),
            F.lit(seq[status]).cast("int").alias("seq"),
        )
        transitions = t if transitions is None else transitions.unionByName(t)
    return latest_status_df(transitions)


def _sql_document_status() -> str:
    from .plans.status import STATUS_ORDER

    seq = {s: i for i, s in enumerate(STATUS_ORDER)}
    stage_selects = " UNION ALL ".join(
        f"SELECT doc_id, '{status}' AS status, {seq[status]} AS seq "
        f"FROM docs WHERE {pred}"
        for status, pred in (
            ("QUEUED", "TRUE"),
            ("CLASSIFYING", "TRUE"),
            ("EXTRACTING", "doc_id % 10 != 0"),
            ("SUMMARIZING", "doc_id % 10 BETWEEN 1 AND 8"),
            ("COMPLETED", "doc_id % 10 BETWEEN 1 AND 7"),
            ("FAILED", "doc_id % 10 = 8"),
        )
    )
    return f"""
        WITH docs AS (SELECT doc_id FROM documents),
        transitions AS ({stage_selects}),
        ranked AS (
            SELECT doc_id, status,
                   row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
            FROM transitions
        )
        SELECT doc_id, status FROM ranked WHERE rn = 1
    """


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical selection (the
    grouping step after candidate generation). Spark side: iterative
    min-label propagation (duplicate_groups); oracle: DuckDB RECURSIVE CTE
    transitive closure — an independent algorithm for the same fixpoint."""
    from .operators.dedup import duplicate_groups

    corpus = _docs_with_dups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.8, k=3, max_df=1000)
    return duplicate_groups(corpus, pairs)


# Shared CTE prefix: corpus -> 3-gram Jaccard pairs (threshold 0.8,
# max_df 1000) -> recursive transitive closure -> comp/gsizes. Used by
# both dedup_groups and dedup_canonical so the two oracles stay in lockstep.
def _sql_dedup_comp_prefix() -> str:
    return f"""
        WITH RECURSIVE corpus AS ({_SQL_DOCS_WITH_DUPS}),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM corpus
        ),
        eligible AS (SELECT * FROM toks WHERE len(t) >= 3),
        sh_all AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM eligible, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
        ),
        kept AS (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 1000
        ),
        sh AS (SELECT sh_all.* FROM sh_all JOIN kept USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_id_a, doc_id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = inter.doc_id_a
            JOIN sizes sb ON sb.doc_id = inter.doc_id_b
            WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.8
        ),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
        ),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM corpus
            UNION
            SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS (SELECT node AS doc_id, min(label) AS group_id
                 FROM walk GROUP BY node),
        gsizes AS (SELECT group_id, count(*) AS group_size
                   FROM comp GROUP BY group_id)
    """


def _sql_dedup_groups() -> str:
    return _sql_dedup_comp_prefix() + """
        SELECT c.doc_id, c.group_id,
               CAST(s.group_size AS BIGINT) AS group_size,
               c.doc_id <> c.group_id AS is_duplicate
        FROM comp c JOIN gsizes s USING (group_id)
    """


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (dedup.winnow_fingerprints — Schleimer et
    al. 2003, the MOSS sketch): per-window min-hash selection with
    rightmost tie-break over 3-gram md5 hex hashes, window w=4. The
    oracle re-derives the whole selection relationally in DuckDB
    (window starts x gram join, min per window, rightmost argmin) —
    an independent algorithm for the same fingerprint set."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def _sql_winnow_body(src: str = "documents") -> str:
    """The winnowing selection as a standalone SELECT over `src`
    (doc_id, text) — shared by the fingerprint and overlap oracles."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM {src}
        ),
        eligible AS (
            SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 3
        ),
        grams AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h,
                   n - 2 AS ngrams
            FROM eligible,
                 LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
        ),
        starts AS (
            SELECT DISTINCT doc_id, pos AS wstart
            FROM grams WHERE pos <= greatest(ngrams - 4, 0)
        ),
        wmin AS (
            SELECT s.doc_id, s.wstart, min(g.h) AS mh
            FROM starts s
            JOIN grams g ON g.doc_id = s.doc_id
                        AND g.pos BETWEEN s.wstart AND s.wstart + 3
            GROUP BY s.doc_id, s.wstart
        ),
        sel AS (
            SELECT w.doc_id, w.mh AS fp_hash, max(g.pos) AS fp_pos
            FROM wmin w
            JOIN grams g ON g.doc_id = w.doc_id
                        AND g.pos BETWEEN w.wstart AND w.wstart + 3
                        AND g.h = w.mh
            GROUP BY w.doc_id, w.wstart, w.mh
        )
        SELECT DISTINCT doc_id, fp_hash, CAST(fp_pos AS BIGINT) AS fp_pos
        FROM sel
    """


def _sql_winnow_fingerprints() -> str:
    return _sql_winnow_body()


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-based near-dup candidate pairs (dedup.winnow_pairs): the
    sketch as an actual candidate generator — corpus reshaped with
    planted near-dup twins (every %9 doc gets a twin built from its own
    text plus a 2-token suffix, id+100000) that must pair with their
    originals at min_shared=2; the df-cap path stays on. Oracle
    re-derives fingerprints relationally then self-joins."""
    from .operators.dedup import winnow_pairs

    d = _docs(spark, sf_dir)
    twins = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" trailing suffix")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(twins)
    return winnow_pairs(corpus, k=3, w=4, min_shared=2)


def _sql_winnow_pairs() -> str:
    corpus = """(SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 100000 AS doc_id,
                        coalesce(text, '') || ' trailing suffix' AS text
                 FROM documents WHERE doc_id % 9 = 0)"""
    return f"""
        WITH fp AS (
            SELECT DISTINCT doc_id, fp_hash
            FROM ({_sql_winnow_body(corpus)})
        ),
        kept AS (
            SELECT fp_hash FROM fp GROUP BY fp_hash HAVING count(*) <= 1000
        ),
        f2 AS (SELECT fp.* FROM fp JOIN kept USING (fp_hash))
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM f2 a JOIN f2 b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    """


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus fragment overlap via the winnowing sketch — the
    contamination use-case the fingerprints exist for: an 'eval set' is
    synthesized as the first-12-token prefixes of every %7 document, and
    any corpus document sharing a >= w+k-1-token run with an eval doc
    must surface with their shared-fingerprint count. Only fingerprint
    tables are joined (never texts)."""
    from .operators.dedup import winnow_fingerprints

    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    eval_docs = d.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.array_join(F.slice(toks, 1, 12), " ").alias("text"))
    fps_c = winnow_fingerprints(d, k=3, w=4).select(
        F.col("doc_id").alias("corpus_doc"), "fp_hash")
    fps_e = winnow_fingerprints(eval_docs, k=3, w=4).select(
        F.col("doc_id").alias("eval_doc"), "fp_hash")
    return (
        fps_c.join(fps_e, "fp_hash")
        .groupBy("corpus_doc", "eval_doc")
        .agg(F.countDistinct("fp_hash").cast("long").alias("shared_fps"))
    )


def _sql_winnow_overlap() -> str:
    eval_src = """(SELECT doc_id,
                          array_to_string(
                              string_split_regex(trim(coalesce(text, '')),
                                                 '\\s+')[1:12], ' ') AS text
                   FROM documents WHERE doc_id % 7 = 0)"""
    return f"""
        SELECT c.doc_id AS corpus_doc, e.doc_id AS eval_doc,
               CAST(count(DISTINCT c.fp_hash) AS BIGINT) AS shared_fps
        FROM ({_sql_winnow_body()}) c
        JOIN ({_sql_winnow_body(eval_src)}) e USING (fp_hash)
        GROUP BY c.doc_id, e.doc_id
    """


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted canonical selection (RefinedWeb keep-best): after
    grouping near-dups, survive the highest-quality member of each cluster
    (quality = text length here; ties -> lowest doc_id), not the lowest id.
    Spark side: duplicate_groups + one-window canonical_selection; oracle:
    recursive-CTE closure + first_value window in DuckDB."""
    from .operators.dedup import canonical_selection, duplicate_groups

    corpus = _docs_with_dups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.8, k=3, max_df=1000)
    groups = duplicate_groups(corpus, pairs)
    scored = corpus.select(
        "doc_id", F.length("text").cast("long").alias("quality")
    )
    return canonical_selection(groups, scored, "quality")


def _sql_dedup_canonical() -> str:
    return _sql_dedup_comp_prefix() + """
        , scored AS (
            SELECT c.doc_id, c.group_id,
                   CAST(s.group_size AS BIGINT) AS group_size,
                   length(d.text) AS q
            FROM comp c
            JOIN gsizes s USING (group_id)
            JOIN corpus d USING (doc_id)
        )
        SELECT doc_id, group_id, group_size,
               first_value(doc_id) OVER (
                   PARTITION BY group_id ORDER BY q DESC, doc_id ASC
               ) AS canonical_id,
               doc_id = first_value(doc_id) OVER (
                   PARTITION BY group_id ORDER BY q DESC, doc_id ASC
               ) AS keep
        FROM scored
    """


# ---------------------------------------------------------------------------
# Gopher/C4 quality signals (operators/quality.py)
# ---------------------------------------------------------------------------

def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus reshaped for line-structure signals: every
    ' a ' becomes a newline (deterministic, SQL-mirrorable), %4 docs get a
    planted repeated-line block, %6 docs a planted symbol/ellipsis tail —
    so every signal has nonzero support. Mirrored by _SQL_LINED_DOCS."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.replace(F.col("text"), F.lit(" a "), F.lit("\n"))
    t = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(t, F.lit("\nrepeat me\nrepeat me\nrepeat me")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(t, F.lit("\n- first ...\n- second…\n# symbols # here")),
    ).otherwise(t)
    return d.select("doc_id", t.alias("text"))


_SQL_LINED_DOCS = """
    SELECT doc_id,
           replace(text, ' a ', chr(10))
           || CASE WHEN doc_id % 4 = 0
                   THEN chr(10) || 'repeat me' || chr(10) || 'repeat me'
                        || chr(10) || 'repeat me' ELSE '' END
           || CASE WHEN doc_id % 6 = 0
                   THEN chr(10) || '- first ...' || chr(10) || '- second…'
                        || chr(10) || '# symbols # here' ELSE '' END AS text
    FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signal table (operators/quality.py
    doc_quality): repetition signals from the Arrow kernel + native
    columnar signals, fully re-derived by the DuckDB oracle."""
    from .operators.quality import doc_quality

    return doc_quality(_lined_docs(spark, sf_dir))


def _sql_quality_ctes(src: str) -> str:
    """CTE chain computing qsig(doc_id, <9 signal columns>) over
    ``{src}(doc_id, text)`` — the oracle twin of operators/quality.py
    (kernel contract: kernels/quality.py docstring; tie-break for the
    top n-gram is (count, len) and any deeper tie has equal char mass)."""
    gram_ctes = []
    for n in (2, 3, 4):
        g = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
        gram_ctes.append(f"""
        q_gram{n} AS (
            SELECT doc_id, denom, {g} AS g
            FROM (SELECT doc_id, ws, denom,
                         unnest(range(1, len(ws) - {n} + 2)) AS i
                  FROM q_words WHERE len(ws) >= {n})
        ),
        q_top{n} AS (
            -- repetition mass only: n-grams with count >= 2 (kernel contract)
            SELECT doc_id, floor(cnt * gl / denom * 1e6) / 1e6 AS frac FROM (
                SELECT doc_id, denom, count(*) AS cnt, length(g) AS gl,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY count(*) DESC, length(g) DESC) AS rn
                FROM q_gram{n} WHERE denom > 0 GROUP BY doc_id, denom, g
                HAVING count(*) >= 2
            ) WHERE rn = 1
        )""")
    # dup-n-gram coverage (n=5,10): occurrences of duplicated n-grams as
    # [start, end) char intervals over the space-normalized text, union
    # length via the running-max window sweep — the kernel's exact twin
    for n in (5, 10):
        g = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
        gram_ctes.append(f"""
        q_occ{n} AS (
            SELECT o.doc_id, w.s0 AS s, w.s0 + length(o.g) AS e, o.g
            FROM (SELECT doc_id, i, {g} AS g
                  FROM (SELECT doc_id, ws,
                               unnest(range(1, len(ws) - {n} + 2)) AS i
                        FROM q_words WHERE len(ws) >= {n})) o
            JOIN q_wstart w ON w.doc_id = o.doc_id AND w.i = o.i
        ),
        q_cov{n} AS (
            SELECT doc_id,
                   sum(greatest(0, e - greatest(s, coalesce(pm, s)))) AS covered
            FROM (
                SELECT doc_id, s, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS pm
                FROM q_occ{n} o
                WHERE EXISTS (SELECT 1 FROM q_occ{n} d
                              WHERE d.doc_id = o.doc_id AND d.g = o.g
                              GROUP BY d.doc_id, d.g HAVING count(*) >= 2)
            ) GROUP BY doc_id
        ),
        q_dng{n} AS (
            SELECT c.doc_id,
                   floor(c.covered / nl.norm_len * 1e6) / 1e6 AS frac
            FROM q_cov{n} c JOIN q_norm nl USING (doc_id)
            WHERE nl.norm_len > 0
        )""")
    grams = ",".join(gram_ctes)
    sym_ell = ("(length(replace(text, '…', '...')) - "
               "length(replace(replace(text, '…', '...'), '...', ''))) / 3")
    return f"""
        q_lines AS (
            SELECT doc_id, trim(l, ' ' || chr(9) || chr(13)) AS line
            FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                  FROM {src})
        ),
        q_linecount AS (
            SELECT doc_id, line, count(*) AS c, length(line) AS ln
            FROM q_lines WHERE line <> '' GROUP BY doc_id, line
        ),
        q_lstat AS (
            SELECT doc_id, sum(c) AS n_lines, sum(c * ln) AS line_chars,
                   sum(c) - count(*) AS dup_instances,
                   sum(CASE WHEN c > 1 THEN (c - 1) * ln ELSE 0 END)
                       AS dup_chars,
                   sum(CASE WHEN line LIKE '%...' OR line LIKE '%…'
                            THEN c ELSE 0 END) AS ell,
                   sum(CASE WHEN line LIKE '- %' OR line LIKE '* %'
                            OR line LIKE '•%' THEN c ELSE 0 END) AS bul
            FROM q_linecount GROUP BY doc_id
        ),
        q_words AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               w -> w <> '') AS ws,
                   length(text) AS denom, text
            FROM {src}
        ),
        q_wstart AS (
            -- char start offset of word i in the space-normalized text
            SELECT doc_id, i,
                   sum(length(ws[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i)
                       - length(ws[i]) - 1 AS s0
            FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
                  FROM q_words)
        ),
        q_norm AS (
            SELECT doc_id, sum(length(ws[i]) + 1) - 1 AS norm_len
            FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
                  FROM q_words)
            GROUP BY doc_id
        ),{grams},
        q_sym AS (
            SELECT doc_id,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor((
                       (length(text) - length(replace(text, '#', '')))
                       + {sym_ell}) / len(ws) * 1e6) / 1e6
                       END AS symbol_word_ratio,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(
                       len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                       / len(ws) * 1e6) / 1e6 END AS alpha_word_fraction
            FROM q_words
        ),
        qsig AS (
            SELECT w.doc_id,
                   coalesce(floor(l.dup_instances / l.n_lines * 1e6) / 1e6, 0.0)
                       AS dup_line_fraction,
                   coalesce(CASE WHEN l.line_chars = 0 THEN 0.0
                            ELSE floor(l.dup_chars / l.line_chars * 1e6) / 1e6 END, 0.0)
                       AS dup_line_char_fraction,
                   coalesce(t2.frac, 0.0) AS top2gram_char_fraction,
                   coalesce(t3.frac, 0.0) AS top3gram_char_fraction,
                   coalesce(t4.frac, 0.0) AS top4gram_char_fraction,
                   coalesce(d5.frac, 0.0) AS dup5gram_char_fraction,
                   coalesce(d10.frac, 0.0) AS dup10gram_char_fraction,
                   s.symbol_word_ratio,
                   coalesce(floor(l.ell / l.n_lines * 1e6) / 1e6, 0.0)
                       AS ellipsis_line_fraction,
                   coalesce(floor(l.bul / l.n_lines * 1e6) / 1e6, 0.0)
                       AS bullet_line_fraction,
                   s.alpha_word_fraction
            FROM q_words w
            LEFT JOIN q_lstat l USING (doc_id)
            LEFT JOIN q_top2 t2 USING (doc_id)
            LEFT JOIN q_top3 t3 USING (doc_id)
            LEFT JOIN q_top4 t4 USING (doc_id)
            LEFT JOIN q_dng5 d5 USING (doc_id)
            LEFT JOIN q_dng10 d10 USING (doc_id)
            LEFT JOIN q_sym s USING (doc_id)
        )
    """


def _sql_quality_gate_cond(prefix: str = "q.") -> str:
    """The Gopher gate predicate over a qsig row — literal mirror of
    operators/quality.DEFAULT_GATES (same dict, same caps)."""
    from .operators.quality import DEFAULT_GATES

    return " AND ".join(
        f"{prefix}{name} <= {cap}" for name, cap in DEFAULT_GATES.items()
    )


def _sql_doc_quality() -> str:
    return f"""
        WITH lined AS ({_SQL_LINED_DOCS}),
        {_sql_quality_ctes("lined")}
        SELECT * FROM qsig
    """


# ---------------------------------------------------------------------------
# web-corpus cleanup (operators/webfilters.py): C4 lines, PII, URL dedup
# ---------------------------------------------------------------------------

def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic planted PII: %5 docs get an email,
    %7 an IPv4, %11 both inline. Mirrored by _SQL_PII_DOCS."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 5 == 0,
               F.concat(t, F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@mail.example.org now"))).otherwise(t)
    t = F.when(F.col("doc_id") % 7 == 0,
               F.concat(t, F.lit(" served from 192.168.1."),
                        (F.col("doc_id") % 250).cast("string"))).otherwise(t)
    t = F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit("10.0.0.1 wrote to a.b+c@x.io: "), t)
               ).otherwise(t)
    return d.select("doc_id", t.alias("text"))


_SQL_PII_DOCS = """
    SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN '10.0.0.1 wrote to a.b+c@x.io: '
             ELSE '' END
        || text
        || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || doc_id || '@mail.example.org now'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' served from 192.168.1.' || CAST(doc_id % 250 AS VARCHAR)
                ELSE '' END AS text
    FROM documents
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webfilters import pii_stats

    return pii_stats(_pii_docs(spark, sf_dir))


def _sql_pii_redaction() -> str:
    from .operators.webfilters import EMAIL_RE, IPV4_RE, IPV4_REPL_RE2

    email = EMAIL_RE.replace("'", "''")
    ip = IPV4_RE
    # two-pass IP replace, exactly like webfilters.redact_pii (the
    # consumed-boundary pattern needs a second pass for single-char-
    # separated IP chains)
    return f"""
        WITH src AS ({_SQL_PII_DOCS})
        SELECT doc_id,
               regexp_replace(regexp_replace(
                   regexp_replace(text, '{email}', '<EMAIL>', 'g'),
                   '{ip}', '{IPV4_REPL_RE2}', 'g'),
                   '{ip}', '{IPV4_REPL_RE2}', 'g') AS redacted,
               len(regexp_extract_all(text, '{email}')) AS n_emails,
               len(regexp_extract_all(
                   regexp_replace(text, '{email}', '<EMAIL>', 'g'), '{ip}'))
                   AS n_ips
        FROM src
    """


def q_c4_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 document cleanup over the line-structured corpus: keep lines
    ending in terminal punctuation with >= 5 words; drop docs carrying
    code braces / 'lorem ipsum' or with no surviving lines."""
    from .operators.webfilters import c4_clean

    docs = _lined_docs(spark, sf_dir)
    # plant C4-trigger material deterministically: %9 docs gain a code
    # brace, %13 a lorem-ipsum line, %4 already carry planted short lines
    t = F.col("text")
    t = F.when(F.col("doc_id") % 9 == 0, F.concat(t, F.lit("\nif (x) { y }"))
               ).otherwise(t)
    t = F.when(F.col("doc_id") % 13 == 0,
               F.concat(t, F.lit("\nLorem Ipsum dolor sit amet."))).otherwise(t)
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(t, F.lit("\nthis line keeps five words exactly."))
               ).otherwise(t)
    return c4_clean(docs.select("doc_id", t.alias("text")))


def _sql_c4_filtered() -> str:
    terminal = " OR ".join(
        f"line LIKE '%{t}'" for t in (".", "!", "?", '"')
    ) + " OR line LIKE '%' || chr(39)"
    return f"""
        WITH lined AS ({_SQL_LINED_DOCS}),
        planted AS (
            SELECT doc_id, text
                || CASE WHEN doc_id % 9 = 0
                        THEN chr(10) || 'if (x) {{ y }}' ELSE '' END
                || CASE WHEN doc_id % 13 = 0
                        THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
                        ELSE '' END
                || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'this line keeps five words exactly.'
                        ELSE '' END AS text
            FROM lined
        ),
        lines AS (
            -- positional unnest (list index i) so line order is exact
            SELECT doc_id, i, trim(ls[i], ' ' || chr(9) || chr(13)) AS line
            FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
                  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                        FROM planted))
        ),
        kept AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
                   count(*) AS n_kept
            FROM lines
            WHERE line <> '' AND ({terminal})
              AND len(list_filter(string_split_regex(line, '\\s+'),
                                  w -> w <> '')) >= 5
            GROUP BY doc_id
        ),
        flags AS (
            SELECT doc_id,
                   (lower(text) LIKE '%lorem ipsum%'
                    OR lower(text) LIKE '%{{%') AS doc_drop
            FROM planted
        )
        SELECT p.doc_id,
               CASE WHEN f.doc_drop OR coalesce(k.n_kept, 0) < 1 THEN NULL
                    ELSE k.clean_text END AS clean_text,
               CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept_lines,
               (f.doc_drop OR coalesce(k.n_kept, 0) < 1) AS dropped_doc
        FROM planted p
        JOIN flags f USING (doc_id)
        LEFT JOIN kept k USING (doc_id)
    """


def _urls_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL corpus with canonicalization-relevant variants:
    mixed-case hosts, tracking params, fragments, trailing slashes —
    several doc_ids collapse to one canonical URL. Mirrored by
    _SQL_URLS."""
    d = _docs(spark, sf_dir).select("doc_id")
    base = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("HTTPS://WWW."))
         .otherwise(F.lit("https://www.")),
        F.lit("site"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".Example.com/Page/"), (F.col("doc_id") % 20).cast("string"),
    )
    u = F.concat(
        base,
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("?utm_source=feed&utm_campaign=x"),
                        (F.col("doc_id") % 7).cast("string"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("#sec"), (F.col("doc_id") % 9).cast("string"))
               ).otherwise(F.lit("")),
    )
    return d.select("doc_id", u.alias("url"))


_SQL_URLS = """
    SELECT doc_id,
        (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END
         || 'site' || CAST(doc_id % 50 AS VARCHAR)
         || '.Example.com/Page/' || CAST(doc_id % 20 AS VARCHAR))
        || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN '?utm_source=feed&utm_campaign=x'
                     || CAST(doc_id % 7 AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 6 = 0
                THEN '#sec' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END AS url
    FROM documents
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webfilters import url_dedup

    return url_dedup(_urls_df(spark, sf_dir))


def _sql_url_dedup() -> str:
    from .operators.webfilters import TRACKING_REPL_RE2, _TRACKING_PARAM

    # the EXACT canonicalization pipeline of webfilters.canonical_url,
    # step for step (separator-anchored tracking pattern shared verbatim)
    canon = """
        CASE WHEN head = '' THEN u4 ELSE lower(head) ||
             regexp_replace(u4, '^[a-zA-Z]+://[^/]*', '') END
    """
    return f"""
        WITH src AS ({_SQL_URLS}),
        steps AS (
            SELECT url, regexp_replace(
                regexp_replace(
                    regexp_replace(
                        regexp_replace(url, '#.*$', ''),
                        '{_TRACKING_PARAM}',
                        '{TRACKING_REPL_RE2}', 'g'),
                    '[?&]$', ''),
                '/$', '') AS u4
            FROM src
        ),
        with_head AS (
            SELECT url, u4,
                   regexp_extract(u4, '^([a-zA-Z]+://[^/]*)', 1) AS head
            FROM steps
        ),
        canon AS (SELECT url, {canon} AS canonical_url FROM with_head)
        SELECT url, canonical_url,
               url <> min(url) OVER (PARTITION BY canonical_url)
                   AS is_duplicate
        FROM canon
    """
_CURATE_LANGS = ("en",)
_CURATE_MIN_QUALITY = 0.40
_CURATE_MIN_TOKENS, _CURATE_MAX_TOKENS = 15, 90


def q_corpus_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation funnel as one oracled query:
    quality/lang/token gates -> exact dedup (keep canonical) -> near-dup
    grouping (keep canonical). Identical staging to jobs/curate.py; the
    near-dup pair generator here is the SQL-expressible ngram-Jaccard
    (the job's MinHash-LSH generator is hash-randomized, so the driver
    oracle pins the funnel logic with the deterministic generator — the
    LSH family has its own truth-set tests). Round 4: the Gopher
    repetition gate (operators/quality.quality_gate_ids) runs between
    the cheap stats gate and the dedup stages, as a production curation
    pipeline orders it."""
    kept = _curated_kept(spark, sf_dir)
    return kept.select("doc_id", F.md5("text").alias("content_hash"))


def _curated_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel through near-dup canonical keep -> (doc_id, text);
    shared by corpus_curated and corpus_curated_sampled."""
    from .operators.dedup import duplicate_groups
    from .operators.quality import quality_gate_ids

    docs = _docs_with_dups(spark, sf_dir)
    stats = ts.document_stats(docs)
    gate_ids = stats.where(
        F.col("lang_guess").isin(*_CURATE_LANGS)
        & (F.col("quality") >= _CURATE_MIN_QUALITY)
        & F.col("n_tokens").between(_CURATE_MIN_TOKENS, _CURATE_MAX_TOKENS)
    ).select("doc_id")
    gated = docs.join(gate_ids, "doc_id")
    gated = gated.join(quality_gate_ids(gated), "doc_id")
    exact_keep = exact_dedup(gated).where(~F.col("is_duplicate")).select("doc_id")
    survivors = gated.join(exact_keep, "doc_id")
    pairs = ngram_jaccard_pairs(survivors, threshold=0.8, k=3, max_df=1000)
    groups = duplicate_groups(survivors, pairs)
    return survivors.join(
        groups.where(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    ).select("doc_id", "text")


def _sql_corpus_curated() -> str:
    return f"""
        {_sql_curated_ctes()},
        kept AS (
            SELECT k.doc_id, k.text
            FROM exact_keep k JOIN comp USING (doc_id)
            WHERE comp.group_id = k.doc_id
        )
        SELECT doc_id, md5(text) AS content_hash FROM kept
    """


def _sql_curated_ctes() -> str:
    """The funnel's WITH-body through the connected-components `comp`
    CTE — shared by corpus_curated and corpus_curated_sampled."""
    langs = ", ".join(f"'{lg}'" for lg in _CURATE_LANGS)
    return f"""
        WITH RECURSIVE corpus AS ({_SQL_DOCS_WITH_DUPS}),
        stats AS ({_sql_doc_stats(src="corpus")}),
        pre_gated AS (
            SELECT c.doc_id, c.text FROM corpus c JOIN stats s USING (doc_id)
            WHERE s.lang_guess IN ({langs})
              AND s.quality >= {_CURATE_MIN_QUALITY}
              AND s.n_tokens BETWEEN {_CURATE_MIN_TOKENS} AND {_CURATE_MAX_TOKENS}
        ),
        {_sql_quality_ctes("pre_gated")},
        gated AS (
            SELECT g.doc_id, g.text FROM pre_gated g JOIN qsig q USING (doc_id)
            WHERE {_sql_quality_gate_cond()}
        ),
        exact_keep AS MATERIALIZED (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       min(doc_id) OVER (PARTITION BY md5(text)) AS canon
                FROM gated
            ) WHERE doc_id = canon
        ),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM exact_keep
        ),
        eligible AS (SELECT * FROM toks WHERE len(t) >= 3),
        sh_all AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM eligible, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
        ),
        kept_sh AS (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 1000
        ),
        sh AS (SELECT sh_all.* FROM sh_all JOIN kept_sh USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_id_a, doc_id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = inter.doc_id_a
            JOIN sizes sb ON sb.doc_id = inter.doc_id_b
            WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.8
        ),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
        ),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM exact_keep
            UNION
            SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS MATERIALIZED (SELECT node AS doc_id, min(label) AS group_id
                 FROM walk GROUP BY node)
    """


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard. FULL oracle:
    because the verify stage recomputes exact Jaccard on every candidate,
    the output equals the exact-Jaccard pair set whenever banded recall
    is 1 — on this corpus the planted near-dups sit at J~0.97 where the
    per-pair miss probability is (1-0.97^4)^8 ~ 2e-8, and hashing is
    seeded/deterministic, so equality with the ngram-Jaccard SQL is
    stable and IS the oracle (a genuine end-to-end recall gate: a missed
    pair or a bucket-cap misfire fails the hash compare).

    Threshold guard band (documented, r5): an INCIDENTAL pair sitting
    exactly at J=0.80 has per-pair candidate probability
    1-(1-0.8^4)^8 ~ 0.985 — inherent banded-LSH semantics, so at larger
    corpora an exact-boundary pair can miss (observed once at sf0.1: one
    J=0.800000 word-soup coincidence among 1594 true pairs). The
    oracle-compared output therefore excludes the quantized boundary
    value itself on BOTH sides: jaccard > 0.8000005 post-6dp-rounding,
    i.e. J=0.800000 pairs are outside the compare. The planted near-dup
    family this query exists to find sits at J~0.97 at every SF, far
    inside the band, so the end-to-end recall gate is unchanged; the
    operator's own >= threshold semantics are untouched (this filter is
    the oracle harness's, mirrored in _sql oracle via the same
    condition). With the band, the sweep is green at all three committed
    scales (sf0.001/0.01/0.1)."""
    return minhash_lsh_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.8
    ).where(F.col("jaccard") > 0.8000005)


# little-endian uint64 from an md5 hex string h (kernel stable_hash64 twin)
_SQL_MD5_LE64 = (
    "('0x' || substr({h},15,2) || substr({h},13,2) || substr({h},11,2) || "
    "substr({h},9,2) || substr({h},7,2) || substr({h},5,2) || "
    "substr({h},3,2) || substr({h},1,2))::UBIGINT"
)


def _sql_dedup_simhash() -> str:
    """Full independent DuckDB re-implementation of 64-bit SimHash
    (frequency-weighted token bit voting over md5 hashes) + brute-force
    O(n^2) Hamming pairs. The Spark side's 4x16-bit pigeonhole blocking
    is guaranteed exhaustive for hamming <= 3 (any such pair shares an
    intact chunk), so blocked candidates == the brute-force truth; the
    driver's hash compare verifies both the simhash values and that
    recall guarantee end-to-end."""
    le = _SQL_MD5_LE64.format(h="h")
    return f"""
        WITH corpus AS ({_SQL_DOCS_WITH_DUPS}),
        tok AS (
            SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM corpus
        ),
        cnt AS (SELECT doc_id, t, count(*) AS w FROM tok WHERE t <> '' GROUP BY 1, 2),
        hv AS (SELECT doc_id, w, {le} AS v
               FROM (SELECT doc_id, w, md5(t) AS h FROM cnt)),
        bitw AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (v >> bit) & 1 = 1 THEN w ELSE -w END) AS weight
            FROM hv CROSS JOIN (SELECT unnest(range(64)) AS bit)
            GROUP BY 1, 2
        ),
        shv AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN weight > 0 THEN (1::UBIGINT << bit)
                            ELSE 0::UBIGINT END) AS UBIGINT) AS s
            FROM bitw GROUP BY doc_id
        ),
        sh AS (
            SELECT c.doc_id, coalesce(shv.s, 0::UBIGINT) AS s
            FROM corpus c LEFT JOIN shv ON c.doc_id = shv.doc_id
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    """


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs_with_dups(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _queries_df(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Explicit (query_id, q_vec) query set for the production ANN API —
    here drawn from the corpus so the DuckDB oracle can mirror it, with
    exclude_self=True preserving the self-neighbor exclusion."""
    return _emb(spark, sf_dir).where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(
        _emb(spark, sf_dir), queries=_queries_df(spark, sf_dir, 10), k=5,
        exclude_self=True,
    )


_SQL_COSINE = """
    list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(c.embedding, x -> CAST(x AS DOUBLE)))
    / (sqrt(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(q.embedding, x -> CAST(x AS DOUBLE))))
     * sqrt(list_dot_product(list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(c.embedding, x -> CAST(x AS DOUBLE)))))
"""


def _sql_ann_brute_topk() -> str:
    return f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({_SQL_COSINE}, 6) AS cos_sim
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 10
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rank <= 5
    """


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_pairs(_emb(spark, sf_dir), threshold=0.4, max_id=500) \
        .select("id_a", "id_b", "cos_sim")


def _sql_embedding_neardup() -> str:
    return f"""
        SELECT q.vec_id AS id_a, c.vec_id AS id_b,
               round({_SQL_COSINE}, 6) AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
        WHERE q.vec_id < 500 AND c.vec_id < 500
          AND round({_SQL_COSINE}, 6) >= 0.4
    """


# the testdata embeddings tables carry 64-dim vectors at every SF
# (TESTDATA.md); a constant beats probing the data with a driver-side
# .first() in the query path, which would cost a Spark job per call —
# pinned by tests/test_entry_contract.py against the parquet itself
EMBED_DIM = 64


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hyperplane LSH, 3-probe: full DuckDB oracle recomputes the same
    # deterministic buckets/probes in SQL (see _sql_ann_lsh_topk)
    return lsh_topk(_emb(spark, sf_dir), dim=EMBED_DIM,
                    queries=_queries_df(spark, sf_dir, 10),
                    k=5, n_bits=6, n_probes=3, exclude_self=True)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF cells + probe re-rank: full DuckDB oracle re-derives the same
    # centroids from the same deterministic sample (_sql_ann_ivf_topk)
    from .operators.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), queries=_queries_df(spark, sf_dir, 10),
                    k=5, n_centroids=16, n_probe=6, exclude_self=True)


def _sql_double_list(vals) -> str:
    # repr() round-trips float64 exactly; DuckDB parses decimal text to
    # the nearest double = the same bit pattern
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


_SQL_ANN_RERANK = f"""
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round({_SQL_COSINE}, 6) AS cos_sim
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rank <= 5
"""


def _sql_ann_lsh_topk() -> str:
    """Full-fidelity oracle for the 3-probe hyperplane-LSH query: the
    hyperplanes are deterministic given (dim, n_bits, seed) and data-free,
    so they embed as literals and DuckDB re-derives every bucket, the
    multi-probe bit flips (two lowest-|projection| bits), the candidate
    join, and the exact cosine re-rank — independently of Spark."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(EMBED_DIM, 6, seed=42)
    rows = ",\n            ".join(
        f"({i}, {1 << i}, {_sql_double_list(planes[i])}::DOUBLE[])"
        for i in range(planes.shape[0])
    )
    return f"""
        WITH planes(bit, w, plane) AS (VALUES
            {rows}
        ),
        vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        proj AS (
            SELECT e.vec_id, p.bit, p.w, list_dot_product(e.v, p.plane) AS d
            FROM vecs e CROSS JOIN planes p
        ),
        bucket AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN d > 0 THEN w ELSE 0 END) AS INT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        qflip AS (
            SELECT vec_id, w,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY abs(d) ASC, bit ASC) AS rn
            FROM proj WHERE vec_id < 10
        ),
        qprobe AS (
            SELECT vec_id AS query_id, bucket AS q_bucket
            FROM bucket WHERE vec_id < 10
            UNION ALL
            SELECT f.vec_id, CAST(xor(b.bucket, f.w) AS INT)
            FROM qflip f JOIN bucket b ON b.vec_id = f.vec_id
            WHERE f.rn <= 2
        ),
        cand AS (
            SELECT p.query_id, cb.vec_id AS neighbor_id
            FROM qprobe p JOIN bucket cb ON cb.bucket = p.q_bucket
            WHERE cb.vec_id <> p.query_id
        ),
        {_SQL_ANN_RERANK}
    """


def _ivf_oracle_centroids() -> "object":
    """Oracle-side twin of build_ivf_centroids: the same deterministic
    sample (first 2048 vec_ids) read via pyarrow instead of Spark, pushed
    through the SAME kmeans_centroids kernel — bit-identical centroids.
    The directory defaults to the driver's correctness-gate scale
    (sf0.01); scripts/check_oracles.py pins SPARK_GRAFT_ORACLE_SF_DIR to
    whatever --sf-dir it runs."""
    import numpy as np
    import pyarrow.parquet as pq

    from .operators.similarity import kmeans_centroids

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    pdf = t.to_pandas().sort_values("vec_id").head(2048)
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    return kmeans_centroids(X, n_centroids=16, n_iters=5, seed=42)


def _sql_ann_ivf_topk() -> str:
    """Full-fidelity IVF oracle: centroids re-derived by the pure kernel
    from the same deterministic sample (no Spark in the loop), embedded as
    literals; DuckDB then independently assigns every corpus vector to its
    nearest cell, picks each query's 6 probe cells, and re-ranks
    candidates by exact cosine. Normalization is skipped on the DuckDB
    side: argmax/argsort of dot products is invariant under the positive
    per-row scaling the Spark kernels apply."""
    C = _ivf_oracle_centroids()
    rows = ",\n            ".join(
        f"({i}, {_sql_double_list(C[i])}::DOUBLE[])" for i in range(len(C))
    )
    return f"""
        WITH cents(cid, cvec) AS (VALUES
            {rows}
        ),
        vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        cdist AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid ASC)
                       AS rn
            FROM vecs e CROSS JOIN cents c
        ),
        assign AS (SELECT vec_id, cid FROM cdist WHERE rn = 1),
        qprobe AS (
            SELECT vec_id AS query_id, cid
            FROM cdist WHERE vec_id < 10 AND rn <= 6
        ),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM qprobe p JOIN assign a ON a.cid = p.cid
            WHERE a.vec_id <> p.query_id
        ),
        {_SQL_ANN_RERANK}
    """


def _sql_fp_log2x3(x: str) -> str:
    """DuckDB twin of operators.dsir._fp_log2x3: floor(3*log2(n)) via the
    bit length of n^3, saturated at SAT so the cube stays in int64."""
    sat = f"least(({x})::BIGINT, 2000000)"
    return f"(length(bin(({sat} * {sat} * {sat})::BIGINT)) - 1)"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23): bigram bag-of-
    words LM over the lang='en' target slice vs the raw pool, exact
    fixed-point integer log-ratio scores (units of 1/3 log2), top-100
    selection by (score DESC, doc_id ASC) via a distributed TakeOrdered
    threshold — fully order-free, so the DuckDB oracle hash-matches."""
    from .operators.dsir import dsir_weights

    return dsir_weights(
        _docs(spark, sf_dir), target_cond=F.col("lang") == "en", top_k=100
    )


def _sql_dsir_weights() -> str:
    l3 = _sql_fp_log2x3
    return f"""
        WITH toks AS (
            SELECT doc_id, (lang = 'en') AS is_target,
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                     '\\s+'),
                               w -> w <> '') AS ws
            FROM documents
        ),
        grams AS (
            SELECT doc_id, is_target, ws[i] || ' ' || ws[i + 1] AS feat
            FROM toks, UNNEST(range(1, len(ws))) u(i)
        ),
        dcounts AS (
            SELECT doc_id, is_target, feat, count(*)::BIGINT AS c
            FROM grams GROUP BY doc_id, is_target, feat
        ),
        fcounts AS (
            SELECT feat, sum(c)::BIGINT AS cr,
                   sum(CASE WHEN is_target THEN c ELSE 0 END)::BIGINT AS ct
            FROM dcounts GROUP BY feat
        ),
        fscore AS (
            SELECT feat, ({l3("ct + 1")} - {l3("cr + 1")})::BIGINT AS s
            FROM fcounts
        ),
        tot AS (
            SELECT ({l3("sum(ct) + 1")} - {l3("sum(cr) + 1")})::BIGINT AS norm
            FROM fcounts
        ),
        agg AS (
            SELECT d.doc_id, sum(d.c)::BIGINT AS n_grams,
                   sum(d.c * f.s)::BIGINT AS raw
            FROM dcounts d JOIN fscore f USING (feat)
            GROUP BY d.doc_id
        ),
        alld AS (
            SELECT doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
                   (coalesce(a.raw, 0)
                    - coalesce(a.n_grams, 0) * (SELECT norm FROM tot))::BIGINT
                       AS dsir_score
            FROM documents LEFT JOIN agg a USING (doc_id)
        ),
        thr AS (
            SELECT dsir_score AS ts, doc_id AS td FROM alld
            ORDER BY dsir_score DESC, doc_id ASC LIMIT 1 OFFSET 99
        )
        SELECT doc_id, n_grams, dsir_score,
               (dsir_score > thr.ts
                OR (dsir_score = thr.ts AND doc_id <= thr.td)) AS selected
        FROM alld, thr
    """


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-clustered semantic dedup —
    rows dropped because a lower-id cluster member has cosine >= 0.35.
    Same centroid recipe as the IVF index (16 cells, 5 iters, seed 42),
    so the DuckDB oracle re-derives the identical clustering via the
    shared pure kmeans kernel and then re-computes every within-cluster
    pair independently."""
    from .operators.semdedup import semdedup

    return semdedup(_emb(spark, sf_dir), threshold=0.35, n_centroids=16)


def _sql_semdedup() -> str:
    """Full-fidelity SemDeDup oracle: centroids from the shared kernel
    (the ann_ivf pattern), assignment + within-cluster pairs + the
    min-witness reduction all re-derived in SQL."""
    C = _ivf_oracle_centroids()
    rows = ",\n            ".join(
        f"({i}, {_sql_double_list(C[i])}::DOUBLE[])" for i in range(len(C))
    )
    return f"""
        WITH cents(cid, cvec) AS (VALUES
            {rows}
        ),
        vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        cdist AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid ASC)
                       AS rn
            FROM vecs e CROSS JOIN cents c
        ),
        assign AS (SELECT vec_id, cid FROM cdist WHERE rn = 1),
        pairs AS (
            SELECT b.vec_id AS vec_id, CAST(b.cid AS INT) AS centroid,
                   a.vec_id AS dup_of,
                   round({_SQL_COSINE}, 6) AS cos_sim
            FROM assign a
            JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN embeddings q ON q.vec_id = a.vec_id
            JOIN embeddings c ON c.vec_id = b.vec_id
        )
        SELECT vec_id, centroid, min(dup_of) AS dup_of,
               arg_min(cos_sim, dup_of) AS cos_sim
        FROM pairs WHERE cos_sim >= 0.35
        GROUP BY vec_id, centroid
    """


# ---------------------------------------------------------------------------
# reporting-table analytics (§2.11 SQL query surface)
# ---------------------------------------------------------------------------

def q_events_metering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metering-style additive rollup (utils/__init__.py:76-113 analog)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # sum in DECIMAL: double accumulation is association-order-dependent
    # (observed 3e-6 drift vs DuckDB on 20k-row groups at sf0.1); decimal
    # addition is exact, so the rollup is bit-stable at ANY scale
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # exact decimal sum, then one double cast (identical bits on both
        # engines because the decimal is identical)
        F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("total_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _sql_events_metering() -> str:
    return """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """


_PRICING = (  # deterministic pricing dim; 'error' intentionally unpriced
    ("click", 0.0002), ("purchase", 0.012), ("signup", 0.005), ("view", 0.0001),
)


def q_metering_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metering merge + pricing-dim broadcast join + cost computation
    (reference metering/cost reporting: utils merge_metering_data + unit
    pricing). 'error' events have no pricing row -> unit_cost 0 fallback."""
    from .operators.metering import merge_metering, with_costs

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.col("user_id").alias("document_id"),
        F.col("event_type").alias("service_api"),
        F.lit("units").alias("unit"),
        # decimal sum: exact/associative -> scale-independent oracle match
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    pricing = spark.createDataFrame(
        [(t, "units", c) for t, c in _PRICING],
        "service_api string, unit string, unit_cost double",
    )
    return with_costs(merge_metering(ev), pricing).select(
        "service_api", "unit", F.col("value").cast("double").alias("value"),
        F.col("n_documents").cast("long").alias("n_documents"),
        "unit_cost", "estimated_cost",
    )


def _sql_metering_costs() -> str:
    cost_case = ("CASE service_api "
                 + " ".join(f"WHEN '{t}' THEN {c}" for t, c in _PRICING)
                 + " ELSE 0.0 END")
    return f"""
        WITH mrows AS (
            SELECT user_id AS document_id, event_type AS service_api,
                   'units' AS unit, CAST(value AS DECIMAL(18,6)) AS value
            FROM events
        ),
        merged AS (
            SELECT service_api, unit, sum(value) AS value,
                   CAST(count(DISTINCT document_id) AS BIGINT) AS n_documents
            FROM mrows GROUP BY 1, 2
        )
        SELECT service_api, unit, CAST(value AS DOUBLE) AS value,
               n_documents,
               {cost_case} AS unit_cost,
               CAST(value AS DOUBLE) * {cost_case} AS estimated_cost
        FROM merged
    """


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (streaming-shaped aggregation;
    batch expression is identical to the streaming one modulo watermark)."""
    from .streaming.windowed import windowed_event_rollup

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return windowed_event_rollup(ev, "1 hour").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


def _sql_events_windowed() -> str:
    return """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(value) AS total_value
        FROM events GROUP BY 1, 2
    """


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-column extraction (get_json_object / json_tuple surface):
    props = {"k": int} -> bucket stats per event_type."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count_distinct("k").alias("distinct_k"),
    )


def _sql_events_props() -> str:
    return """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
               CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS distinct_k
        FROM events GROUP BY event_type
    """


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join rollup (TPC-H Q5 shape): lineitem x orders x customer x
    nation — exercises join reordering + AQE broadcast of small dims."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _sql_revenue_by_nation() -> str:
    return """
        SELECT n_name,
               sum(l_extendedprice * (1 - l_discount)) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """


def q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped join-aggregate: lineitem x broadcast(part) ->
    revenue by part type prefix. Exercises the broadcast-dim join shape on
    the generic SQL surface (part is the small side at every SF)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.split(F.col("p_type"), " ").getItem(0).alias("type_prefix"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )


def _sql_part_type_revenue() -> str:
    return """
        SELECT string_split(p_type, ' ')[1] AS type_prefix,
               sum(l_extendedprice * (1 - l_discount)) AS revenue,
               sum(l_quantity) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate over lineitem — the generic spark.sql
    analytics surface (§2.11)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _sql_pricing_summary() -> str:
    return """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """


# ---------------------------------------------------------------------------
# extraction / sectioning / attributes / evaluation (fixture-backed)
# ---------------------------------------------------------------------------

def q_extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("t2_pages.parquet"))
    return extract_pages(pages, salt_partitions=32).select(
        "url", "extracted_text", "spans_json", "lang", "confidence", "content_type"
    )


def _sql_extract_main_content() -> str:
    return (
        "SELECT url, extracted_text, spans_json, lang, confidence, content_type "
        f"FROM read_parquet('{_fx('t2_golden.parquet')}')"
    )


def q_extract_office(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX/XLSX decode branch (stdlib zip+XML) through the same Arrow-
    batched kernel dispatch — payload binary in, reference-format
    markdown/text out, keyed by doc_id for the golden compare."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p in pdf["payload"]:
                ct, res, _err = extract_page_safe(bytes(p))
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds, "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("office_docs.parquet")).select("doc_id", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_office() -> str:
    return (
        "SELECT doc_id, kind, extracted_text "
        f"FROM read_parquet('{_fx('office_golden.parquet')}')"
    )


def q_extract_xls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy binary .xls (BIFF8-in-CFB) decode branch: from-scratch
    compound-file + BIFF record parsing (kernels/xls_biff) through the
    standard dispatch, producing the same per-sheet markdown as the xlsx
    path. Parity: document_converter.py:164-221 (pandas/xlrd)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("xls_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_xls() -> str:
    return (
        "SELECT doc_id, 'xls' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('xls_golden.parquet')}')"
    )


def q_extract_rtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF decode branch (kernels/rtf — beyond reference: GenAIIDP's
    converter matrix has no RTF branch): from-scratch group-stack walk,
    cp1252 hex + signed \\uN + surrogate-pair escapes, skip-destination
    handling, through the standard dispatch. Corrupt payloads (truncated,
    unbalanced, bad hex) must land on the error path with empty text.
    Oracle: the generator's construction-derived golden (never the
    kernel)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("rtf_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_rtf() -> str:
    return (
        "SELECT doc_id, kind, extracted_text "
        f"FROM read_parquet('{_fx('rtf_golden.parquet')}')"
    )


def q_charset_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + transcode (kernels/charset — beyond reference,
    whose decode fallback is strict-UTF-8-only, ocr/service.py:1632-1678):
    the WHATWG/CCNet chain — BOM (UTF-32 before UTF-16), declared
    <meta>/<?xml?> label through the alias registry (latin-1 ->
    windows-1252), BOM-less UTF-16 NUL-parity, strict UTF-8, total
    windows-1252 fallback. Arrow-batched map over raw binary; zero
    shuffles. Oracle: the generator's composition facts (original string
    + the family's specified chain outcome), never the kernel."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.charset import sniff_decode

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("encoding", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            encs, srcs, lens, texts = [], [], [], []
            for raw in pdf["raw"]:
                r = sniff_decode(bytes(raw))
                encs.append(r.encoding)
                srcs.append(r.source)
                lens.append(len(r.text))
                texts.append(r.text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "encoding": encs, "source": srcs,
                 "n_chars": lens, "text": texts}
            )

    src = spark.read.parquet(_fx("charset_docs.parquet")).select("doc_id", "raw")
    return src.mapInPandas(run, schema)


def _sql_charset_transcode() -> str:
    return (
        "SELECT doc_id, encoding, source, n_chars, text "
        f"FROM read_parquet('{_fx('charset_golden.parquet')}')"
    )


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (kernels/html_meta — beyond reference,
    which ingests uploads rather than crawled pages): title, meta
    description, rel=canonical, html@lang, meta robots, og:* — the
    crawl-side metadata stage feeding canonical-URL dedup and
    declared-language priors. Tokenizer parse bounded at </head>/<body>
    (per-doc work ~= head size, not page size); map-only Arrow pass,
    zero shuffles. Oracle: the generator's composition facts."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.html_meta import extract_head_meta

    fields = ("title", "description", "canonical", "lang", "robots_meta",
              "og_title", "og_description", "og_url", "og_image", "og_type")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f, T.StringType()) for f in fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [extract_head_meta(h) for h in pdf["html"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 **{f: [getattr(m, f) for m in metas] for f in fields}}
            )

    src = spark.read.parquet(_fx("html_meta_docs.parquet")).select("doc_id", "html")
    return src.mapInPandas(run, schema)


def _sql_html_meta() -> str:
    return (
        "SELECT doc_id, title, description, canonical, lang, robots_meta, "
        "og_title, og_description, og_url, og_image, og_type "
        f"FROM read_parquet('{_fx('html_meta_golden.parquet')}')"
    )


def q_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentence segmentation (kernels/sentences — beyond
    reference, which paginates on page boundaries only,
    docs_service/pagination semantics): paragraph breaks always split;
    terminator runs split unless suppressed by abbreviation /
    single-letter-initial rules; decimals never split. One map-only
    Arrow pass per document, zero shuffles — the linguistic boundary
    layer under sentence-aware chunking. Oracle: the generator's
    composition facts (docs are built FROM sentence lists)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.sentences import split_sentences

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sent_id", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("sentence", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sids, toks, txts = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for j, s in enumerate(split_sentences(text or "")):
                    ids.append(doc_id)
                    sids.append(j)
                    toks.append(len(s.split()))
                    txts.append(s)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "sent_id": pd.Series(sids, dtype="int64"),
                 "n_tokens": pd.Series(toks, dtype="int64"),
                 "sentence": pd.Series(txts, dtype="object")}
            )

    src = spark.read.parquet(_fx("sentences_docs.parquet")).select("doc_id", "text")
    return src.mapInPandas(run, schema)


def _sql_sentence_segments() -> str:
    return (
        "SELECT doc_id, sent_id, n_tokens, sentence "
        f"FROM read_parquet('{_fx('sentences_golden.parquet')}')"
    )


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware greedy chunking (kernels/sentences.pack_chunks):
    segment, then pack sentences in order into CHUNK_TOKENS-token
    windows without ever cutting mid-sentence — the
    training-context-window shape (segment-then-pack). Same map-only
    Arrow plan as segmentation; chunking is per-document, so zero
    shuffles at any corpus size. Oracle: the spec re-encoded over the
    generator's fact sentences (fixtures/sentences_gen.pack_facts)."""
    from .fixtures.sentences_gen import CHUNK_TOKENS
    from .operators.packing import sentence_chunk_docs

    src = spark.read.parquet(_fx("sentences_docs.parquet")).select("doc_id", "text")
    return sentence_chunk_docs(src, max_tokens=CHUNK_TOKENS)


def _sql_sentence_chunks() -> str:
    return (
        "SELECT doc_id, chunk_id, n_sentences, n_tokens, text "
        f"FROM read_parquet('{_fx('sentence_chunks_golden.parquet')}')"
    )


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sitemap parsing (kernels/sitemap — beyond reference, which
    has no crawl frontier; pairs with robots.txt's surfaced Sitemap
    lines): urlset + sitemapindex, gzip payloads, namespace prefixes,
    entities, W3C lastmod normalization to epoch seconds, out-of-range
    field nulling, loc-less block skipping, wrong-root error rows.
    Map-only Arrow pass over raw binary, zero shuffles. Oracle: the
    generator's composition facts (lastmod epochs computed from the
    datetime objects the generator drew, never by the kernel)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.sitemap import parse_sitemap

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("entry_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("loc", T.StringType()),
            T.StructField("lastmod_epoch", T.LongType()),
            T.StructField("changefreq", T.StringType()),
            T.StructField("priority", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["raw"]):
                r = parse_sitemap(bytes(raw))
                if r.kind == "error":
                    rows.append((doc_id, None, "error", None, None, None,
                                 None))
                    continue
                for j, e in enumerate(r.entries):
                    rows.append((doc_id, j, r.kind, e.loc, e.lastmod_epoch,
                                 e.changefreq, e.priority))
            yield pd.DataFrame(
                rows, columns=["doc_id", "entry_id", "kind", "loc",
                               "lastmod_epoch", "changefreq", "priority"]
            )

    src = spark.read.parquet(_fx("sitemap_docs.parquet")).select("doc_id", "raw")
    return src.mapInPandas(run, schema)


def _sql_sitemap_entries() -> str:
    return (
        "SELECT doc_id, entry_id, kind, loc, lastmod_epoch, changefreq, "
        f"priority FROM read_parquet('{_fx('sitemap_golden.parquet')}')"
    )


def q_sitemap_fetchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The polite-recrawl frontier (operators/cdx.frontier_fetchlist):
    sitemap-declared URLs joined against the latest capture per url —
    never-captured locs fetch as 'new', declared-lastmod-postdates-
    capture locs fetch as 'stale', captured locs without a declared
    lastmod are trusted fresh. Both sides reduce map-side (one row per
    distinct url crosses the wire, not one per capture). The capture
    index is synthesized from `documents` by formula in the same URL
    space the sitemap generator draws locs from, so new/stale/fresh
    populations are all genuinely exercised; the Spark side parses the
    sitemap XML for real (kernels/sitemap) while the oracle reads the
    generator facts."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.sitemap import parse_sitemap
    from .operators.cdx import frontier_fetchlist

    e_schema = T.StructType(
        [
            T.StructField("loc", T.StringType()),
            T.StructField("lastmod_epoch", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            locs, lms = [], []
            for raw in pdf["raw"]:
                r = parse_sitemap(bytes(raw))
                for e in r.entries:
                    locs.append(e.loc)
                    lms.append(e.lastmod_epoch)
            yield pd.DataFrame({"loc": pd.Series(locs, dtype="object"),
                                "lastmod_epoch": pd.Series(lms)})

    entries = (
        spark.read.parquet(_fx("sitemap_docs.parquet"))
        .select("raw").mapInPandas(run, e_schema)
    )
    did = F.col("doc_id")
    captures = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://site"), (did % 10).cast("string"),
                 F.lit(".example.com/p/"), (did % 1000).cast("string"))
        .alias("url"),
        (F.lit(1704067200).cast("long")
         + (did * 5023) % 24000000).alias("capture_ts"),
    )
    return frontier_fetchlist(entries, captures)


def _sql_sitemap_fetchlist() -> str:
    return f"""
WITH e AS (
  SELECT loc, max(lastmod_epoch) AS lastmod_epoch
  FROM read_parquet('{_fx('sitemap_golden.parquet')}')
  WHERE loc IS NOT NULL GROUP BY loc
), c AS (
  SELECT 'https://site' || CAST(doc_id % 10 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id % 1000 AS VARCHAR) AS url,
         max(1704067200 + (doc_id * 5023) % 24000000) AS capture_ts
  FROM documents GROUP BY 1
)
SELECT e.loc, e.lastmod_epoch, c.capture_ts,
       CASE WHEN c.capture_ts IS NULL THEN 'new' ELSE 'stale' END AS reason
FROM e LEFT JOIN c ON e.loc = c.url
WHERE c.capture_ts IS NULL OR e.lastmod_epoch > c.capture_ts
"""


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 2.0 / Atom feed parsing (kernels/feeds — beyond reference,
    which has no crawl-discovery surface; the change-feed companion to
    kernels/sitemap): RFC 822 vs ISO-8601 dates, CDATA titles,
    rel=alternate link preference over self/enclosure noise,
    link-less item skipping, wrong-root error rows; gzip + the shared
    WHATWG decode chain. Map-only Arrow pass, zero shuffles. Oracle:
    the generator's composition facts (pub epochs computed from the
    datetime objects the generator drew, never by the kernel)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.feeds import parse_feed

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("entry_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("feed_title", T.StringType()),
            T.StructField("link", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("guid", T.StringType()),
            T.StructField("pub_epoch", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["raw"]):
                r = parse_feed(bytes(raw))
                if r.kind == "error":
                    rows.append((doc_id, None, "error", None, None, None,
                                 None, None))
                    continue
                for j, e in enumerate(r.entries):
                    rows.append((doc_id, j, r.kind, r.feed_title, e.link,
                                 e.title, e.guid, e.pub_epoch))
            yield pd.DataFrame(
                rows, columns=["doc_id", "entry_id", "kind", "feed_title",
                               "link", "title", "guid", "pub_epoch"]
            )

    src = spark.read.parquet(_fx("feed_docs.parquet")).select("doc_id", "raw")
    return src.mapInPandas(run, schema)


def _sql_feed_entries() -> str:
    return (
        "SELECT doc_id, entry_id, kind, feed_title, link, title, guid, "
        f"pub_epoch FROM read_parquet('{_fx('feed_golden.parquet')}')"
    )


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduling (operators/cdx.politeness_schedule):
    every URL gets its in-host slot (deterministic loc order) and its
    earliest polite fetch time eta = start + (seq-1) x host crawl-delay;
    a max_per_host=50 budget caps giant hosts (the rank-limit spelling
    plans WindowGroupLimit, so oversized hosts prune map-side before
    the shuffle). Inputs are deterministic: distinct urlset locs from
    the sitemap golden; per-host delays by formula (1 + len(host)%5,
    broadcast-joined). Oracle: the identical host filter, window and
    formula chain in DuckDB."""
    from .operators.cdx import politeness_schedule

    locs = (
        spark.read.parquet(_fx("sitemap_golden.parquet"))
        .where((F.col("kind") == "urlset") & F.col("loc").isNotNull())
        .select("loc").distinct()
    )
    delays = (
        locs.select(
            F.regexp_extract("loc", r"^https?://([^/]+)", 1).alias("host"))
        .distinct()
        .select("host", (F.lit(1) + F.length("host") % 5)
                .cast("long").alias("crawl_delay"))
    )
    return politeness_schedule(locs, delays=delays,
                               start_epoch=1717200000, max_per_host=50)


def _sql_fetch_schedule() -> str:
    return f"""
WITH locs AS (
  SELECT DISTINCT loc FROM read_parquet('{_fx('sitemap_golden.parquet')}')
  WHERE kind = 'urlset' AND loc IS NOT NULL
), x AS (
  SELECT loc, regexp_extract(loc, '^https?://([^/]+)', 1) AS host FROM locs
), seq AS (
  SELECT loc, host,
         row_number() OVER (PARTITION BY host ORDER BY loc) AS fetch_seq
  FROM x WHERE host <> ''
)
SELECT loc, host, fetch_seq,
       1717200000 + (fetch_seq - 1) * (1 + length(host) % 5) AS eta_epoch
FROM seq WHERE fetch_seq <= 50
"""


def q_page_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-date extraction (kernels/pagedate — beyond reference,
    which has no crawl-side recency surface): the precedence ladder
    over redundant declarations — head-bounded article:published_time /
    modified_time / name=date metas, first <time datetime> in the body,
    /YYYY/MM/DD/ or /YYYY-MM-DD URL path segments (sanity-ranged,
    calendar-validated) — emitting epoch + which surface won (the
    confidence tier a recency-aware mix weighs). Map-only Arrow pass,
    zero shuffles. Oracle: the generator's composition facts (dates
    drawn as values first, pages rendered from them)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.pagedate import extract_page_date

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("date_epoch", T.LongType()),
            T.StructField("date_source", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            es, ss = [], []
            for url, html_text in zip(pdf["url"], pdf["html"]):
                r = extract_page_date(url, html_text)
                es.append(r.epoch)
                ss.append(r.source)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 "date_epoch": pd.Series(es),
                 "date_source": pd.Series(ss, dtype="object")}
            )

    src = spark.read.parquet(_fx("pagedate_docs.parquet")).select(
        "doc_id", "url", "html")
    return src.mapInPandas(run, schema)


def _sql_page_dates() -> str:
    return (
        "SELECT doc_id, date_epoch, date_source "
        f"FROM read_parquet('{_fx('pagedate_golden.parquet')}')"
    )


_RECENCY_NOW = 1_767_225_600          # 2026-01-01T00:00:00Z
_RECENCY_HALF_LIFE_DAYS = 180


def q_recency_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted corpus downsample
    (operators/sampling.recency_downsample): survival probability
    halves every half-life of document age — the freshness-biased mix
    whose date axis kernels/pagedate extracts. The decay is an EXACT
    integer (floor(1e6 / 2^halvings), halvings quantized to whole
    half-lives) and the keep-bit is the stable md5-le64 hash-Bernoulli
    convention, so the realized sample is bit-stable across engines,
    reruns, and partitionings. date_epoch is synthesized from doc_id by
    formula (documents carry no date column); the oracle re-derives the
    identical chain in DuckDB. Map-only weighting + one tiny per-source
    rollup."""
    from .operators.sampling import recency_downsample

    d = _docs(spark, sf_dir).select("doc_id", "source").withColumn(
        "date_epoch",
        (F.lit(1_704_067_200).cast("long")
         + (F.col("doc_id") * 7919) % 63_072_000),
    )
    kept = recency_downsample(d, now_epoch=_RECENCY_NOW,
                              half_life_days=_RECENCY_HALF_LIFE_DAYS)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("weight_ppm").alias("weight_sum"),
    )


def _sql_recency_mix() -> str:
    h = "md5('recency-42:' || CAST(doc_id AS VARCHAR))"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    return f"""
WITH d AS (
  SELECT doc_id, source,
         1704067200 + (doc_id * 7919) % 63072000 AS date_epoch
  FROM documents
), w AS (
  SELECT doc_id, source,
         CAST(FLOOR(1000000 / POWER(2,
           LEAST(FLOOR(GREATEST(0,
             FLOOR(({_RECENCY_NOW} - date_epoch) / 86400.0))
             / {_RECENCY_HALF_LIFE_DAYS}.0), 20)
         )) AS BIGINT) AS weight_ppm
  FROM d
)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(weight_ppm) AS BIGINT) AS weight_sum
FROM w WHERE {bucket} < weight_ppm
GROUP BY source
"""


def q_extract_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary Word 97 (.doc) decode branch: from-scratch FIB + piece-table
    parsing over the shared CFB machinery (kernels/doc_word), routed by
    directory stream names. BEYOND the reference, whose .doc path goes to
    python-docx and errors (ocr/service.py:1653-1654)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("doc_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_doc() -> str:
    return (
        "SELECT doc_id, 'doc' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('doc_golden.parquet')}')"
    )


def q_ocr_table_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textract-style block tree -> page markdown with tables as pipe grids
    (reference _parse_textract_response / textractor to_markdown analog,
    ocr/service.py:1560-1610): cell grids with spans, pipe escaping,
    table-row LINE dedup, geometric reading order. Arrow-batched
    mapInPandas over the blocks JSON — row-parallel, no shuffle."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.textract_blocks import blocks_to_markdown

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("page_md", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "page_md": [
                        blocks_to_markdown(_json.loads(b))
                        for b in pdf["blocks_json"]
                    ],
                }
            )

    src = spark.read.parquet(_fx("ocrblocks_docs.parquet"))
    return src.mapInPandas(run, schema)


def _sql_ocr_table_markdown() -> str:
    return (
        "SELECT doc_id, page_md "
        f"FROM read_parquet('{_fx('ocrblocks_golden.parquet')}')"
    )


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata probing: deterministic PNG/JPEG/GIF/BMP/TIFF/
    WEBP payloads (real headers, both TIFF byte orders, all three WEBP
    container shapes) built on executors; probe_image_meta must recover
    the constructed dimensions. Oracle recomputes them from the SAME
    integer formulas without parsing any bytes."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import (
        bmp_bytes,
        gif_bytes,
        jpeg_bytes,
        png_bytes,
        tiff_bytes,
        webp_bytes,
    )
    from .operators.multimodal import probe_image_meta

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("modality", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType([
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]),
            ),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        builders = (png_bytes, jpeg_bytes, gif_bytes,
                    bmp_bytes, tiff_bytes, webp_bytes)
        for pdf in batches:
            rows = {"item_id": [], "modality": [], "payload": [], "meta": []}
            for i in pdf["id"]:
                i = int(i)
                w, h = i * 7 % 500 + 1, i * 13 % 400 + 1
                rows["item_id"].append(i)
                rows["modality"].append("image")
                rows["payload"].append(builders[i % 6](w, h))
                rows["meta"].append(None)
            yield pd.DataFrame(rows)

    items = spark.range(0, 200, numPartitions=8).mapInPandas(gen, schema)
    probed = probe_image_meta(items)
    return probed.select(
        "item_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def _sql_image_meta() -> str:
    return """
        SELECT CAST(id AS BIGINT) AS item_id,
               CAST(id * 7 % 500 + 1 AS INT) AS width,
               CAST(id * 13 % 400 + 1 AS INT) AS height
        FROM range(200) t(id)
    """


_IMAGE_RESIZE_N = 64


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-backed image preprocessing END-TO-END: deterministic
    real-pixel PNGs (gradient content, gray/RGB/RGBA, every scanline
    filter, some payloads truncated) are encoded on executors, then
    decode_resize_images runs the from-scratch stdlib PNG decoder
    (kernels/png_codec.py) + the reference's fit-within bilinear resize
    (image_ops.resize_array; reference image/__init__.py:54-66, 951x1268
    default) and hashes the resized pixels. The oracle re-derives the
    expected pixel hashes from the SAME closed-form pixel formulas
    WITHOUT touching PNG bytes — so the decoder's inflate/defilter path
    is inside the verified loop: any decode defect flips the hash."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import gradient_png
    from .operators.multimodal import decode_resize_images

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids, "payload": [gradient_png(i) for i in ids]}
            )

    items = spark.range(0, _IMAGE_RESIZE_N, numPartitions=8).mapInPandas(
        gen, schema)
    return decode_resize_images(items)


def _sql_image_resize() -> str:
    """Expected rows re-derived driver-side from the pure pixel formula +
    shared resize kernel (the IVF-centroid oracle pattern): pixels come
    straight from gradient_image — the PNG encode/decode roundtrip on the
    Spark side is the thing under test. Error rows for truncated payloads
    reproduce the operator's loud-degrade formatting via the same shared
    kernel."""
    import hashlib as _hl

    import numpy as _np

    from .fixtures.media_gen import gradient_image, gradient_png
    from .kernels.image_ops import resize_array
    from .kernels.png_codec import PngError, decode_png

    rows = []
    for i in range(_IMAGE_RESIZE_N):
        if i % 16 == 5:
            try:
                decode_png(gradient_png(i))
                raise AssertionError("fixture should be malformed")
            except PngError as e:
                err = f"PngError: {e}"[:200].replace("'", "''")
            rows.append(
                f"({i}, NULL, NULL, NULL, NULL, NULL, '{err}')")
            continue
        img = gradient_image(i)
        if img.ndim == 2:
            img = _np.dstack([img, img, img])
        img = img[:, :, :3]
        h, w = img.shape[:2]
        out = resize_array(img, 951, 1268)
        oh, ow = out.shape[:2]
        sha = _hl.sha1(out.tobytes()).hexdigest()
        rows.append(f"({i}, {w}, {h}, {ow}, {oh}, '{sha}', NULL)")
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(item_id AS BIGINT) AS item_id,
               CAST(in_width AS INT) AS in_width,
               CAST(in_height AS INT) AS in_height,
               CAST(out_width AS INT) AS out_width,
               CAST(out_height AS INT) AS out_height,
               resized_sha1, error
        FROM (VALUES {values})
             t(item_id, in_width, in_height, out_width, out_height,
               resized_sha1, error)
    """


_IMAGE_RESIZE_JPEG_N = 32


def q_image_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode -> resize, end-to-end on executors: the
    from-scratch SOF0 huffman decoder (kernels/jpeg_codec.py) feeds the
    same fit-within resize as the PNG path. Fixtures rotate quality,
    4:2:0 subsampling and restart markers; every 16th payload is
    truncated (error row). Oracle note: JPEG is lossy, so expected pixels
    cannot be re-derived from the source formula the way the PNG oracle
    does — the oracle re-runs the SHARED pure decode kernel driver-side
    (the IVF-centroid shared-kernel pattern); pixel-level decoder
    correctness is pinned separately by the roundtrip-error-bound and
    solid-block-exact tests in tests/test_jpeg_codec.py."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import gradient_jpeg
    from .operators.multimodal import decode_resize_images

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids, "payload": [gradient_jpeg(i) for i in ids]}
            )

    items = spark.range(0, _IMAGE_RESIZE_JPEG_N, numPartitions=8).mapInPandas(
        gen, schema)
    # target below every fixture's dims so ALL good rows downscale (the
    # PNG query covers the leave-unchanged branch)
    return decode_resize_images(items, target_w=60, target_h=45)


def _sql_image_resize_jpeg() -> str:
    import hashlib as _hl

    import numpy as _np

    from .fixtures.media_gen import gradient_jpeg
    from .kernels.image_ops import resize_array
    from .kernels.jpeg_codec import JpegError, decode_jpeg

    rows = []
    for i in range(_IMAGE_RESIZE_JPEG_N):
        try:
            img = decode_jpeg(gradient_jpeg(i))
        except JpegError as e:
            err = f"JpegError: {e}"[:200].replace("'", "''")
            rows.append(f"({i}, NULL, NULL, NULL, NULL, NULL, '{err}')")
            continue
        if img.ndim == 2:
            img = _np.dstack([img, img, img])
        img = img[:, :, :3]
        h, w = img.shape[:2]
        out = resize_array(img, 60, 45)
        oh, ow = out.shape[:2]
        sha = _hl.sha1(out.tobytes()).hexdigest()
        rows.append(f"({i}, {w}, {h}, {ow}, {oh}, '{sha}', NULL)")
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(item_id AS BIGINT) AS item_id,
               CAST(in_width AS INT) AS in_width,
               CAST(in_height AS INT) AS in_height,
               CAST(out_width AS INT) AS out_width,
               CAST(out_height AS INT) AS out_height,
               resized_sha1, error
        FROM (VALUES {values})
             t(item_id, in_width, in_height, out_width, out_height,
               resized_sha1, error)
    """


_IMAGE_RESIZE_MULTI_N = 48


def q_image_resize_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF / BMP / baseline-TIFF decode -> resize, end-to-end on
    executors with the remaining from-scratch stdlib codecs
    (kernels/gif_codec.py LZW + interlace + transparency, bmp_codec.py
    palette/24/32-BITFIELDS/row orders, tiff_codec.py both endians +
    strips + PackBits). Format rotates by item_id % 3; every 16th payload
    truncated (one error row lands in each format). All three formats
    are LOSSLESS, so the oracle re-derives expected pixels from the same
    closed-form fixture formulas WITHOUT parsing any container bytes —
    each encoder+decoder pair sits inside the verified loop."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import gradient_bmp, gradient_gif, gradient_tiff
    from .operators.multimodal import decode_resize_images

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    makers = (gradient_bmp, gradient_tiff, gradient_gif)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids,
                 "payload": [makers[i % 3](i) for i in ids]}
            )

    items = spark.range(0, _IMAGE_RESIZE_MULTI_N, numPartitions=8).mapInPandas(
        gen, schema)
    # target below most fixture dims so the downscale path dominates (the
    # PNG query covers leave-unchanged)
    return decode_resize_images(items, target_w=200, target_h=150)


def _sql_image_resize_multi() -> str:
    """Expected rows from the pure pixel formulas + shared resize kernel
    (the PNG-oracle pattern): GIF transparency drops to the palette's
    zero RGB under the operator's alpha-drop rule, mirrored here from the
    fixture's alpha mask — no container parsing on the oracle side.
    Error rows reproduce the loud-degrade formatting via each decoder
    (decoder-in-the-loop for the error path only, like the PNG oracle)."""
    import hashlib as _hl

    import numpy as _np

    from .fixtures.media_gen import (
        gif_gradient_image,
        gradient_bmp,
        gradient_gif,
        gradient_image,
        gradient_tiff,
    )
    from .kernels.bmp_codec import BmpError, decode_bmp
    from .kernels.gif_codec import GifError, decode_gif
    from .kernels.image_ops import resize_array
    from .kernels.tiff_codec import TiffError, decode_tiff

    decoders = (
        (gradient_bmp, decode_bmp, BmpError),
        (gradient_tiff, decode_tiff, TiffError),
        (gradient_gif, decode_gif, GifError),
    )
    rows = []
    for i in range(_IMAGE_RESIZE_MULTI_N):
        maker, decoder, err_cls = decoders[i % 3]
        if i % 16 == 5:
            try:
                decoder(maker(i))
                raise AssertionError("fixture should be malformed")
            except err_cls as e:
                err = f"{type(e).__name__}: {e}"[:200].replace("'", "''")
            rows.append(f"({i}, NULL, NULL, NULL, NULL, NULL, '{err}')")
            continue
        if i % 3 == 2:                              # GIF family
            img = gif_gradient_image(i)
            if img.ndim == 3 and img.shape[2] == 4:
                # operator drops alpha; transparent pixels carry the
                # palette's zeroed RGB slot (encoder contract)
                mask = img[:, :, 3] == 0
                img = img[:, :, :3].copy()
                img[mask] = 0
        else:
            img = gradient_image(i)
        if img.ndim == 2:
            img = _np.dstack([img, img, img])
        img = img[:, :, :3]
        h, w = img.shape[:2]
        out = resize_array(img, 200, 150)
        oh, ow = out.shape[:2]
        sha = _hl.sha1(out.tobytes()).hexdigest()
        rows.append(f"({i}, {w}, {h}, {ow}, {oh}, '{sha}', NULL)")
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(item_id AS BIGINT) AS item_id,
               CAST(in_width AS INT) AS in_width,
               CAST(in_height AS INT) AS in_height,
               CAST(out_width AS INT) AS out_width,
               CAST(out_height AS INT) AS out_height,
               resized_sha1, error
        FROM (VALUES {values})
             t(item_id, in_width, in_height, out_width, out_height,
               resized_sha1, error)
    """


_IMAGE_RESIZE_WEBP_N = 40


def q_image_resize_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-WebP decode -> resize, end-to-end on executors with the
    from-scratch VP8L codec (kernels/webp_codec.py: prefix codes, LZ77
    distance map, color cache, all four transforms). Fixture rotation
    covers none / subtract-green / left- and top-predictor transforms
    and gray/RGB/RGBA shapes; every 16th payload truncated. VP8L is
    LOSSLESS, so the oracle re-derives the expected pixels from the same
    closed-form formulas WITHOUT parsing container bytes — the
    encoder+decoder pair sits inside the verified loop."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import gradient_webp
    from .operators.multimodal import decode_resize_images

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids, "payload": [gradient_webp(i) for i in ids]}
            )

    items = spark.range(0, _IMAGE_RESIZE_WEBP_N, numPartitions=8).mapInPandas(
        gen, schema)
    return decode_resize_images(items, target_w=120, target_h=90)


def _sql_image_resize_webp() -> str:
    """Expected rows from the pure pixel formulas + shared resize kernel
    (the PNG-oracle pattern; decoder-in-the-loop for error rows only)."""
    import hashlib as _hl

    import numpy as _np

    from .fixtures.media_gen import gradient_webp, webp_gradient_image
    from .kernels.image_ops import resize_array
    from .kernels.webp_codec import WebpError, decode_webp

    rows = []
    for i in range(_IMAGE_RESIZE_WEBP_N):
        if i % 16 == 5:
            try:
                decode_webp(gradient_webp(i))
                raise AssertionError("fixture should be malformed")
            except WebpError as e:
                err = f"WebpError: {e}"[:200].replace("'", "''")
            rows.append(f"({i}, NULL, NULL, NULL, NULL, NULL, '{err}')")
            continue
        img = webp_gradient_image(i)
        if img.ndim == 2:
            img = _np.dstack([img, img, img])
        img = img[:, :, :3]
        h, w = img.shape[:2]
        out = resize_array(img, 120, 90)
        oh, ow = out.shape[:2]
        sha = _hl.sha1(out.tobytes()).hexdigest()
        rows.append(f"({i}, {w}, {h}, {ow}, {oh}, '{sha}', NULL)")
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(item_id AS BIGINT) AS item_id,
               CAST(in_width AS INT) AS in_width,
               CAST(in_height AS INT) AS in_height,
               CAST(out_width AS INT) AS out_width,
               CAST(out_height AS INT) AS out_height,
               resized_sha1, error
        FROM (VALUES {values})
             t(item_id, in_width, in_height, out_width, out_height,
               resized_sha1, error)
    """


_AUDIO_FEATURES_N = 160


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV PCM decode -> integer-exact signal stats, END-TO-END: the
    from-scratch RIFF/WAVE decoder (kernels/audio_codec.py) runs on
    deterministic executor-built payloads (8- and 16-bit PCM, mono and
    stereo, six sample rates, an extra LIST chunk before fmt so real
    chunk-walking is exercised; every 16th item truncated and every
    16th+13 claiming an MP3 format tag -> loud error rows). The oracle
    re-derives every statistic in PURE SQL from the closed-form sample
    formula (fixtures/media_gen.wav_sample) — the codec roundtrip is the
    thing under test, and all stats are integer sums so there is no
    float drift at any scale."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import wav_fixture_bytes
    from .operators.multimodal import audio_signal_stats

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids,
                 "payload": [wav_fixture_bytes(i) for i in ids]}
            )

    items = spark.range(0, _AUDIO_FEATURES_N, numPartitions=8).mapInPandas(
        gen, schema)
    return audio_signal_stats(items)


def _sql_audio_features() -> str:
    """Good rows re-derived in PURE SQL from the closed-form interleaved
    sample formula (no byte parsing anywhere): per-item params, a
    range-join sample expansion, a LAG window for sign changes, then
    integer aggregation. Error rows (truncated container / non-PCM
    format tag) come from the shared kernel driver-side, reproducing the
    loud-degrade strings exactly — the same hybrid the image-resize
    oracles use."""
    from .fixtures.media_gen import wav_fixture_bytes
    from .kernels.audio_codec import AudioError, decode_wav

    err_rows = []
    for i in range(_AUDIO_FEATURES_N):
        if i % 16 not in (9, 13):
            continue
        try:
            decode_wav(wav_fixture_bytes(i))
            raise AssertionError("fixture should be malformed")
        except AudioError as e:
            err = f"AudioError: {e}"[:200].replace("'", "''")
        err_rows.append(f"({i}, '{err}')")
    err_values = ",\n                   ".join(err_rows)
    return f"""
        WITH params AS (
            SELECT i,
                   CASE WHEN i % 3 = 1 THEN 8 ELSE 16 END AS bits,
                   1 + (i % 2) AS channels,
                   CASE i % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                              WHEN 2 THEN 16000 WHEN 3 THEN 22050
                              WHEN 4 THEN 32000 ELSE 44100 END AS sample_rate,
                   300 + (i * 37) % 700 AS n_frames
            FROM range({_AUDIO_FEATURES_N}) t(i)
            WHERE i % 16 NOT IN (9, 13)
        ),
        samples AS (
            SELECT p.i, p.bits, p.channels, p.sample_rate, p.n_frames, r.k,
                   CASE WHEN p.bits = 16
                        THEN ((p.i * 2654435761 + r.k * 40503) % 65536) - 32768
                        ELSE ((p.i * 97 + r.k * 31) % 256) - 128
                   END AS s
            FROM params p JOIN range(2000) r(k)
              ON r.k < p.n_frames * p.channels
        ),
        lagged AS (
            SELECT *, LAG(s) OVER (PARTITION BY i ORDER BY k) AS prev
            FROM samples
        ),
        good AS (
            SELECT i AS item_id,
                   CAST(ANY_VALUE(sample_rate) AS INT) AS sample_rate,
                   CAST(ANY_VALUE(channels) AS INT) AS channels,
                   CAST(ANY_VALUE(bits) AS INT) AS bits,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(MAX(ABS(s)) AS INT) AS peak_abs,
                   CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
                   CAST(SUM(s * s) AS BIGINT) AS sum_sq,
                   CAST(SUM(CASE WHEN prev IS NOT NULL
                                  AND ((prev < 0) <> (s < 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                   CAST(ANY_VALUE(n_frames) * 1000
                        // ANY_VALUE(sample_rate) AS BIGINT) AS duration_ms,
                   CAST(NULL AS VARCHAR) AS error
            FROM lagged
            GROUP BY i
        )
        SELECT * FROM good
        UNION ALL
        SELECT CAST(item_id AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS INT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), error
        FROM (VALUES {err_values}) e(item_id, error)
    """


_MEDIA_META_AV_N = 120


def q_media_meta_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed audio/video container probe: WAV / MP3 / AVI payloads (by
    item_id mod 3) built on executors from closed-form parameters;
    probe_av_meta dispatches on magic bytes and must recover sample
    rate, frame counts, video dimensions, MP3 bitrate and exact integer
    durations from the containers alone. MP3 streams carry i%5 leading
    junk bytes so the sync-scan is inside the verified loop. Oracle is
    PURE SQL over the same parameter formulas — no byte parsing."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import (
        avi_fixture_bytes,
        mp3_fixture_bytes,
        wav_fixture_bytes,
    )
    from .operators.multimodal import probe_av_meta

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        builders = (wav_fixture_bytes, mp3_fixture_bytes, avi_fixture_bytes)
        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["id"]:
                i = int(i)
                ids.append(i)
                if i % 3 == 0:
                    # malformed=False: this probe is all-good rows; the
                    # loud-degrade variants are audio_features' job
                    payloads.append(wav_fixture_bytes(i, malformed=False))
                else:
                    payloads.append(builders[i % 3](i))
            yield pd.DataFrame({"item_id": ids, "payload": payloads})

    items = spark.range(0, _MEDIA_META_AV_N, numPartitions=8).mapInPandas(
        gen, schema)
    return probe_av_meta(items)


def _sql_media_meta_av() -> str:
    return f"""
        WITH ids AS (SELECT i FROM range({_MEDIA_META_AV_N}) t(i)),
        wav AS (
            SELECT i, i AS j FROM ids WHERE i % 3 = 0
        ),
        wav_rows AS (
            SELECT i AS item_id, 'audio' AS modality, 'wav' AS container,
                   CASE j % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                              WHEN 2 THEN 16000 WHEN 3 THEN 22050
                              WHEN 4 THEN 32000 ELSE 44100 END AS sample_rate,
                   300 + (j * 37) % 700 AS n_frames,
                   NULL AS bitrate_kbps, NULL AS width, NULL AS height,
                   (300 + (j * 37) % 700) * 1000 //
                   CASE j % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                              WHEN 2 THEN 16000 WHEN 3 THEN 22050
                              WHEN 4 THEN 32000 ELSE 44100 END AS duration_ms
            FROM wav
        ),
        mp3_rows AS (
            SELECT i AS item_id, 'audio' AS modality, 'mp3' AS container,
                   CASE (i // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                     ELSE 32000 END AS sample_rate,
                   40 + (i * 7) % 160 AS n_frames,
                   CASE 1 + (i // 3) % 14
                        WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
                        WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
                        WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                        WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
                        WHEN 13 THEN 256 ELSE 320 END AS bitrate_kbps,
                   NULL AS width, NULL AS height,
                   (40 + (i * 7) % 160) * 1152 * 1000 //
                   CASE (i // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                     ELSE 32000 END AS duration_ms
            FROM ids WHERE i % 3 = 1
        ),
        avi_rows AS (
            SELECT i AS item_id, 'video' AS modality, 'avi' AS container,
                   NULL AS sample_rate,
                   24 + (i * 3) % 240 AS n_frames,
                   NULL AS bitrate_kbps,
                   160 + (i * 11) % 480 AS width,
                   120 + (i * 13) % 360 AS height,
                   (24 + (i * 3) % 240) *
                   (1000000 // CASE i % 5 WHEN 0 THEN 10 WHEN 1 THEN 15
                                          WHEN 2 THEN 24 WHEN 3 THEN 25
                                          ELSE 30 END) // 1000 AS duration_ms
            FROM ids WHERE i % 3 = 2
        ),
        unioned AS (
            SELECT * FROM wav_rows
            UNION ALL SELECT * FROM mp3_rows
            UNION ALL SELECT * FROM avi_rows
        )
        SELECT CAST(item_id AS BIGINT) AS item_id, modality, container,
               CAST(sample_rate AS INT) AS sample_rate,
               CAST(n_frames AS INT) AS n_frames,
               CAST(bitrate_kbps AS INT) AS bitrate_kbps,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               CAST(duration_ms AS BIGINT) AS duration_ms,
               CAST(NULL AS VARCHAR) AS error
        FROM unioned
    """


def q_extract_real_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine %PDF byte streams (xref/objects/FlateDecode/text operators,
    written byte-level by the fixture generator) through the standard
    extraction stage; golden computed from the template line data before
    rendering. Parity target: the reference's PDF OCR ingestion
    (lib/idp_common_pkg/idp_common/ocr/service.py:1144-1252)."""
    pages = spark.read.parquet(_fx("realpdf_pages.parquet"))
    return extract_pages(pages, salt_partitions=32).select(
        "url", "extracted_text", "spans_json", "lang", "confidence", "content_type"
    )


def _sql_extract_real_pdf() -> str:
    return (
        "SELECT url, extracted_text, spans_json, lang, confidence, content_type "
        f"FROM read_parquet('{_fx('realpdf_golden.parquet')}')"
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style WARC ingestion end-to-end: committed
    `.warc.gz` fixtures (per-record gzip members; chunked / gzip /
    deflate wire forms; utf-8 / declared-cp1252 / meta-sniffed-cp1252
    charsets; 404s; one corrupted record per 13) through the
    from-scratch reader (kernels/warc.py via sources/warc.read_warc).
    The oracle is the writer's closed-form golden
    (fixtures/warc_gen.golden_rows — derived from the record plan, never
    from the reading kernel), so gzip-member walking, WARC header parse,
    HTTP envelope, de-chunk, content-decode and charset resolution are
    all inside the verified loop."""
    from .sources.warc import read_warc

    recs = read_warc(spark, _fx("warc"))
    return recs.select(
        "warc_file", "record_id", "url", "warc_date",
        F.col("status").cast("int").alias("status"),
        "content_type", "charset",
        F.when(F.col("text").isNotNull(),
               F.sha1(F.encode("text", "utf-8"))).alias("text_sha1"),
        F.when(F.col("text").isNotNull(),
               F.length("text")).cast("int").alias("n_chars"),
        "error",
    )


def _sql_warc_extract() -> str:
    return (
        "SELECT warc_file, record_id, url, warc_date, status, "
        "content_type, charset, text_sha1, n_chars, error "
        f"FROM read_parquet('{_fx('warc_golden.parquet')}')"
    )


_REVISIT_DIR = "/tmp/idp_fixture_revisit_warc"
_N_REVISIT_FILES = 2


def _ensure_revisit_fixture() -> str:
    """Write the later-crawl revisit supplement (byte-deterministic,
    idempotent) next to nothing — it is derived, not committed."""
    import os

    from .fixtures.warc_gen import gen_revisit_warc_file

    os.makedirs(_REVISIT_DIR, exist_ok=True)
    for fi in range(_N_REVISIT_FILES):
        p = os.path.join(_REVISIT_DIR, f"revisit-{fi:05d}.warc.gz")
        data = gen_revisit_warc_file(fi)
        if not (os.path.exists(p) and os.path.getsize(p) == len(data)):
            with open(p, "wb") as fh:
                fh.write(data)
    return _REVISIT_DIR


def q_warc_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl revisit resolution end-to-end: a later crawl's
    revisit records (cross-crawl dedup pointers, WARC 1.0 §6.7
    identical-payload-digest) resolved against the cc-index built from
    the committed base-crawl fixtures — revisit -> (digest, url) index
    lookup -> fetchable capture span, earliest-ts min-witness; dangling
    digests and digest-less server-not-modified revisits come back
    unresolved. The oracle is the writer's closed-form golden
    (fixtures/warc_gen.revisit_golden_rows — derived from the record
    plans, never from the reader or the join)."""
    from .sources.warc import build_cdx, read_warc_revisits, resolve_revisits

    rdir = _ensure_revisit_fixture()
    cdx = build_cdx(spark, _fx("warc"))
    revs = read_warc_revisits(spark, rdir)
    out = resolve_revisits(revs, cdx)
    return out.select(
        "record_id",
        "url",
        "warc_date",
        "payload_digest",
        "resolved",
        "capture_ts",
        F.element_at(F.split("capture_file", "/"), -1).alias("capture_file"),
    )


def _sql_warc_revisits() -> str:
    from .fixtures.warc_gen import revisit_golden_rows

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return "'" + str(v).replace("'", "''") + "'"

    cols = ("record_id", "url", "warc_date", "payload_digest",
            "resolved", "capture_ts", "capture_file")
    vals = ",\n".join(
        "(" + ", ".join(lit(r[c]) for c in cols) + ")"
        for r in revisit_golden_rows(_N_REVISIT_FILES)
    )
    return (f"SELECT * FROM (VALUES {vals}) "
            f"AS t({', '.join(cols)})")


def q_extract_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV decode branch: extension-hint routing (even doc_ids carry a
    .csv name; odd rely on the content sniff) -> csv_to_markdown with the
    reference numeric formats (document_converter.py:113-162,920-968)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, name in zip(pdf["payload"], pdf["name"]):
                ct, res, _err = extract_page_safe(bytes(p), name)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds, "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("csv_docs.parquet")).select("doc_id", "name", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_csv() -> str:
    return (
        "SELECT doc_id, 'csv' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('csv_golden.parquet')}')"
    )


def q_sectioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    return classify_and_section(pages).select(
        "doc_id", "section_id", "classification",
        F.to_json("page_nums").alias("page_nums_json"), "section_text",
    )


def _sql_sectioning() -> str:
    return (
        "SELECT doc_id, section_id, classification, page_nums_json, section_text "
        f"FROM read_parquet('{_fx('golden_sections.parquet')}')"
    )


def q_sectioning_holistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic packet segmentation: segment ranges -> sections
    (classification/service.py:2070-2150 semantics: invalid segments
    skipped but id-consuming, nonexistent pages dropped). The oracle is an
    INDEPENDENT SQL range-explode over the same fixture inputs, not a
    golden table."""
    from .operators.classify import holistic_sections

    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    segments = spark.read.parquet(_fx("packet_segments.parquet"))
    return holistic_sections(pages, segments).select(
        "doc_id", "section_id", "classification",
        F.to_json("page_nums").alias("page_nums_json"), "section_text",
    )


def _sql_sectioning_holistic() -> str:
    from .operators.classify import MAX_SEGMENT_PAGES  # single definition

    return f"""
        WITH segs AS (
            SELECT * FROM read_parquet('{_fx('packet_segments.parquet')}')
            WHERE type IS NOT NULL
              AND ordinal_start_page IS NOT NULL
              AND ordinal_end_page IS NOT NULL
              AND ordinal_start_page <= ordinal_end_page
        ),
        exploded AS (
            SELECT s.doc_id, s.seg_idx, s.type, gs.page_num
            FROM segs s, LATERAL (
                SELECT unnest(generate_series(
                    s.ordinal_start_page,
                    greatest(least(s.ordinal_end_page,
                                   s.ordinal_start_page + {MAX_SEGMENT_PAGES - 1}),
                             s.ordinal_start_page))) AS page_num
            ) gs
        ),
        joined AS (
            SELECT e.doc_id, e.seg_idx, e.type, e.page_num, p.text
            FROM exploded e
            JOIN read_parquet('{_fx('packet_pages.parquet')}') p
              ON p.doc_id = e.doc_id AND p.page_num = e.page_num
        )
        SELECT doc_id,
               CAST(seg_idx + 1 AS VARCHAR) AS section_id,
               type AS classification,
               '[' || string_agg(page_num, ',' ORDER BY page_num) || ']'
                   AS page_nums_json,
               string_agg(text, chr(10) ORDER BY page_num) AS section_text
        FROM joined
        GROUP BY doc_id, seg_idx, type
    """


def q_section_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    return extract_section_attributes(classify_and_section(pages))


def _sql_section_attributes() -> str:
    return (
        "SELECT doc_id, section_id, classification, attributes_json "
        f"FROM read_parquet('{_fx('golden_attributes.parquet')}')"
    )


def q_classify_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    return majority_vote_class(classify_pages(pages)).select(
        "doc_id", "voted_class", F.col("n_pages").cast("long").alias("n_pages")
    )


def _sql_classify_majority_vote() -> str:
    # independent SQL re-implementation of the classify + majority-vote chain
    return f"""
        WITH pages AS (
            SELECT doc_id,
                   CASE WHEN regexp_matches(url, 'taxform') THEN 'tax_form'
                        WHEN regexp_matches(text, 'ACCOUNT NO:') THEN 'bank_statement'
                        WHEN regexp_matches(text, 'INVOICE NO:') THEN 'invoice'
                        ELSE 'webpage' END AS classification
            FROM read_parquet('{_fx('packet_pages.parquet')}')
        ),
        counts AS (
            SELECT doc_id, classification, count(*) AS n_pages
            FROM pages GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id, classification AS voted_class, n_pages,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY n_pages DESC, classification ASC) AS rk
            FROM counts
        )
        SELECT doc_id, voted_class, CAST(n_pages AS BIGINT) AS n_pages
        FROM ranked WHERE rk = 1
    """


def _flat(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(_fx(f"{name}.parquet"))


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"), cfg
    )
    return metrics_rollup(counted, "classification").select(
        "classification", "tp", "fp", "fn", "tn", "fp1", "fp2",
        "precision", "recall", "f1_score", "accuracy",
        "false_alarm_rate", "false_discovery_rate",
    )


def _sql_eval_metrics() -> str:
    """Full independent DuckDB re-implementation of align + compare + count
    + metrics over the flattened golden parquet files."""
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', '{r['method']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    ne, na = norm.format(v="expected"), norm.format(v="actual")
    nne = "TRY_CAST(replace(replace(replace(replace(expected,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    nna = "TRY_CAST(replace(replace(replace(replace(actual,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    sim = (f"CASE WHEN {ne} = {na} THEN 1.0 "
           f"WHEN length({ne}) = 0 OR length({na}) = 0 THEN 0.0 "
           f"ELSE 1.0 - levenshtein({ne}, {na}) / greatest(length({ne}), length({na})) END")
    exact_eq = f"({ne} = {na})"
    numeric_eq = (f"CASE WHEN {nne} IS NOT NULL AND {nna} IS NOT NULL "
                  f"THEN {nne} = {nna} ELSE {exact_eq} END")
    matched = (f"CASE WHEN method = 'NUMERIC_EXACT' THEN {numeric_eq} "
               f"WHEN method = 'FUZZY' THEN {sim} >= threshold "
               f"ELSE {exact_eq} END")
    e_empty = "(expected IS NULL OR trim(expected) = '')"
    a_empty = "(actual IS NULL OR trim(actual) = '')"
    return f"""
        WITH e AS (SELECT doc_id, section_id, classification, attr_path,
                          value AS expected
                   FROM read_parquet('{_fx('flat_expected.parquet')}')),
        a AS (SELECT doc_id, section_id, classification, attr_path,
                     value AS actual
              FROM read_parquet('{_fx('flat_actual.parquet')}')),
        cfg(classification, norm_path, method, threshold) AS (VALUES {cfg_values}),
        aligned AS (
            SELECT COALESCE(e.doc_id, a.doc_id) AS doc_id,
                   COALESCE(e.section_id, a.section_id) AS section_id,
                   COALESCE(e.classification, a.classification) AS classification,
                   COALESCE(e.attr_path, a.attr_path) AS attr_path,
                   e.expected, a.actual
            FROM e FULL OUTER JOIN a
              ON e.doc_id = a.doc_id AND e.section_id = a.section_id
             AND e.attr_path = a.attr_path
        ),
        with_cfg AS (
            SELECT aligned.*,
                   COALESCE(cfg.method, 'EXACT') AS method,
                   COALESCE(cfg.threshold, 0.8) AS threshold
            FROM aligned LEFT JOIN cfg
              ON cfg.classification = aligned.classification
             AND cfg.norm_path = regexp_replace(aligned.attr_path, '\\[\\d+\\]', '[]', 'g')
        ),
        counted AS (
            SELECT classification,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS tn,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1
                        WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1
                        ELSE 0 END AS fp,
                   CASE WHEN NOT {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS fn,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND ({matched}) THEN 1 ELSE 0 END AS tp,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1 ELSE 0 END AS fp1,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1 ELSE 0 END AS fp2
            FROM with_cfg
        ),
        sums AS (
            SELECT classification,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn,
                   CAST(sum(fp1) AS BIGINT) AS fp1, CAST(sum(fp2) AS BIGINT) AS fp2
            FROM counted GROUP BY classification
        ),
        pr AS (
            SELECT *,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS precision,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS recall
            FROM sums
        )
        SELECT classification, tp, fp, fn, tn, fp1, fp2, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN 2 * precision * recall / (precision + recall)
                    ELSE 0.0 END AS f1_score,
               CASE WHEN tp + fp + fn + tn > 0
                    THEN (tp + tn) / (tp + fp + fn + tn) ELSE 0.0 END AS accuracy,
               CASE WHEN fp1 + tn > 0 THEN fp1 / (fp1 + tn) ELSE 0.0 END AS false_alarm_rate,
               CASE WHEN fp2 + tp > 0 THEN fp2 / (fp2 + tp) ELSE 0.0 END AS false_discovery_rate
        FROM pr
    """


def q_flatten_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream explainability_info -> per-path confidence rows
    (evaluation/service.py:232-321 parity); golden computed by the fixture
    generator from its own construction, never via the kernel."""
    from .operators.evaluation import flatten_confidence_payloads

    return flatten_confidence_payloads(
        spark.read.parquet(_fx("extraction_payloads.parquet"))
    )


def _sql_flatten_confidence() -> str:
    return (
        "SELECT doc_id, section_id, attr_path, confidence, confidence_threshold "
        f"FROM read_parquet('{_fx('golden_flat_confidence.parquet')}')"
    )


def q_assessment_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox -> geometry conversion (granular_service.py:1238-1270): 0-1000
    [x1,y1,x2,y2] reordered + scaled to 0-1 boundingBox structs. Input
    bboxes are synthesized deterministically from flat_actual (integer
    arithmetic mirrored exactly in the oracle); coordinates are fed
    deliberately unordered to exercise the min/max reordering."""
    from .operators.assessment import bbox_geometry

    flat = _flat(spark, "flat_actual")
    x1 = (F.col("doc_id") * 37 + F.length("attr_path") * 11) % 900
    y1 = (F.col("doc_id") * 17 + F.length("attr_path") * 23) % 900
    w = F.length("attr_path") % 90 + 10
    h = F.col("doc_id") % 80 + 12
    bbox = F.array(x1 + w, y1 + h, x1, y1)  # x2,y2 first: must be reordered
    g = bbox_geometry(bbox, F.col("doc_id") % 5 + 1)
    return flat.select(
        "doc_id", "section_id", "attr_path",
        g["page"].alias("page"),
        g["boundingBox"]["top"].alias("top"),
        g["boundingBox"]["left"].alias("left"),
        g["boundingBox"]["width"].alias("width"),
        g["boundingBox"]["height"].alias("height"),
    )


def _sql_assessment_geometry() -> str:
    return f"""
        WITH src AS (
            SELECT doc_id, section_id, attr_path,
                   (doc_id * 37 + length(attr_path) * 11) % 900 AS x1,
                   (doc_id * 17 + length(attr_path) * 23) % 900 AS y1,
                   length(attr_path) % 90 + 10 AS w,
                   doc_id % 80 + 12 AS h
            FROM read_parquet('{_fx('flat_actual.parquet')}')
        )
        SELECT doc_id, section_id, attr_path,
               CAST(doc_id % 5 + 1 AS BIGINT) AS page,
               y1 / 1000.0 AS top,
               x1 / 1000.0 AS "left",
               ((x1 + w) - x1) / 1000.0 AS width,
               ((y1 + h) - y1) / 1000.0 AS height
        FROM src
    """


def q_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document evaluation markdown report (reference
    evaluation/models.py:117-330 to_markdown analog); the oracle is a full
    independent DuckDB re-implementation: align + compare + score + emoji
    status + string_agg assembly of the identical markdown."""
    from .operators.evaluation import evaluation_report

    from .operators.evaluation import flatten_confidence_payloads

    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"), cfg
    )
    confidences = flatten_confidence_payloads(
        spark.read.parquet(_fx("extraction_payloads.parquet"))
    )
    return evaluation_report(counted, confidences)


def _sql_eval_report() -> str:
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', '{r['method']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    ne, na = norm.format(v="expected"), norm.format(v="actual")
    nne = "TRY_CAST(replace(replace(replace(replace(expected,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    nna = "TRY_CAST(replace(replace(replace(replace(actual,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    sim = (f"CASE WHEN {ne} = {na} THEN 1.0 "
           f"WHEN length({ne}) = 0 OR length({na}) = 0 THEN 0.0 "
           f"ELSE 1.0 - levenshtein({ne}, {na}) / greatest(length({ne}), length({na})) END")
    exact_eq = f"({ne} = {na})"
    numeric_eq = (f"CASE WHEN {nne} IS NOT NULL AND {nna} IS NOT NULL "
                  f"THEN {nne} = {nna} ELSE {exact_eq} END")
    matched = (f"CASE WHEN method = 'NUMERIC_EXACT' THEN {numeric_eq} "
               f"WHEN method = 'FUZZY' THEN {sim} >= threshold "
               f"ELSE {exact_eq} END")
    e_empty = "(expected IS NULL OR trim(expected) = '')"
    a_empty = "(actual IS NULL OR trim(actual) = '')"
    pct = "(CAST(round({v} * 100, 0) AS INT) || '%')"
    return f"""
        WITH e AS (SELECT doc_id, section_id, classification, attr_path,
                          value AS expected
                   FROM read_parquet('{_fx('flat_expected.parquet')}')),
        a AS (SELECT doc_id, section_id, classification, attr_path,
                     value AS actual
              FROM read_parquet('{_fx('flat_actual.parquet')}')),
        cfg(classification, norm_path, method, threshold) AS (VALUES {cfg_values}),
        aligned AS (
            SELECT COALESCE(e.doc_id, a.doc_id) AS doc_id,
                   COALESCE(e.section_id, a.section_id) AS section_id,
                   COALESCE(e.classification, a.classification) AS classification,
                   COALESCE(e.attr_path, a.attr_path) AS attr_path,
                   e.expected, a.actual
            FROM e FULL OUTER JOIN a
              ON e.doc_id = a.doc_id AND e.section_id = a.section_id
             AND e.attr_path = a.attr_path
        ),
        with_cfg AS (
            SELECT aligned.*,
                   COALESCE(cfg.method, 'EXACT') AS method,
                   COALESCE(cfg.threshold, 0.8) AS threshold
            FROM aligned LEFT JOIN cfg
              ON cfg.classification = aligned.classification
             AND cfg.norm_path = regexp_replace(aligned.attr_path, '\\[\\d+\\]', '[]', 'g')
        ),
        scored AS (
            SELECT doc_id, section_id, classification, attr_path,
                   expected, actual, method, threshold,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS tn,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1
                        WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1
                        ELSE 0 END AS fp,
                   CASE WHEN NOT {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS fn,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND ({matched}) THEN 1 ELSE 0 END AS tp,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1 ELSE 0 END AS fp1,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1 ELSE 0 END AS fp2,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1.0
                        WHEN {e_empty} OR {a_empty} THEN 0.0
                        WHEN method = 'FUZZY' THEN {sim}
                        WHEN ({matched}) THEN 1.0 ELSE 0.0 END AS score
            FROM with_cfg
        ),
        conf AS (
            SELECT doc_id, section_id, attr_path, confidence,
                   confidence_threshold
            FROM read_parquet('{_fx('golden_flat_confidence.parquet')}')
        ),
        rows_md AS (
            SELECT s.doc_id, s.section_id, s.classification, s.attr_path,
                   tp, fp, fn, tn, fp1, fp2,
                   '| ' || CASE WHEN tp + tn = 1 THEN '✅' ELSE '❌' END
                   || ' | ' || s.attr_path
                   || ' | ' || COALESCE(replace(expected, chr(10), ' '), 'None')
                   || ' | ' || COALESCE(replace(actual, chr(10), ' '), 'None')
                   || ' | ' || COALESCE({pct.format(v='c.confidence')}, 'N/A')
                   || ' | ' || COALESCE({pct.format(v='c.confidence_threshold')}, 'N/A')
                   || ' | ' || {pct.format(v='score')}
                   || ' | ' || CASE WHEN method = 'FUZZY'
                                    THEN method || ' (threshold: ' || {pct.format(v='threshold')} || ')'
                                    ELSE method END
                   || ' |' AS row_md
            FROM scored s
            LEFT JOIN conf c
              ON c.doc_id = s.doc_id AND c.section_id = s.section_id
             AND c.attr_path = s.attr_path
        ),
        sec AS (
            SELECT doc_id, section_id, any_value(classification) AS cls,
                   string_agg(row_md, chr(10) ORDER BY attr_path) AS attr_rows,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn,
                   CAST(sum(fp1) AS BIGINT) AS fp1, CAST(sum(fp2) AS BIGINT) AS fp2
            FROM rows_md GROUP BY doc_id, section_id
        ),
        sec_md AS (
            SELECT doc_id, section_id, tp, fp, fn, tn, fp1, fp2,
                   '## Section: ' || section_id || ' (' || cls || ')'
                   || chr(10) || chr(10)
                   || '- counts: tp=' || tp || ' fp=' || fp || ' fn=' || fn
                   || ' tn=' || tn || ' fp1=' || fp1 || ' fp2=' || fp2
                   || chr(10) || chr(10)
                   || '| Status | Attribute | Expected | Actual | Confidence | Confidence Threshold | Score | Method |'
                   || chr(10)
                   || '| :----: | --------- | -------- | ------ | :--------: | :------------------: | ----- | ------ |'
                   || chr(10) || attr_rows AS sec_md
            FROM sec
        ),
        doc AS (
            SELECT doc_id,
                   string_agg(sec_md, chr(10) || chr(10) ORDER BY section_id)
                       AS sections_md,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn
            FROM sec_md GROUP BY doc_id
        ),
        rates AS (
            SELECT *,
                   tp + tn AS matched_n, tp + fp + fn + tn AS total,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS prec,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS rec
            FROM doc
        ),
        final AS (
            SELECT *,
                   CAST(round(CASE WHEN total > 0 THEN matched_n / total ELSE 0.0 END * 100, 0) AS INT) AS rate_pct,
                   CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
            FROM rates
        )
        SELECT doc_id,
               '# Document Evaluation: ' || doc_id
               || chr(10) || chr(10) || '## Summary' || chr(10)
               || '- **Match Rate**: '
               || CASE WHEN rate_pct >= 90 THEN '🟢' WHEN rate_pct >= 70 THEN '🟡'
                       WHEN rate_pct >= 50 THEN '🟠' ELSE '🔴' END
               || ' ' || matched_n || '/' || total || ' attributes matched ['
               || repeat('█', CAST(floor(rate_pct / 5) AS INT))
               || repeat('░', 20 - CAST(floor(rate_pct / 5) AS INT))
               || '] ' || rate_pct || '%' || chr(10)
               || '- **Precision**: ' || {pct.format(v='prec')}
               || ' | **Recall**: ' || {pct.format(v='rec')}
               || ' | **F1 Score**: '
               || CASE WHEN CAST(round(f1 * 100, 0) AS INT) >= 90 THEN '🟢'
                       WHEN CAST(round(f1 * 100, 0) AS INT) >= 70 THEN '🟡'
                       WHEN CAST(round(f1 * 100, 0) AS INT) >= 50 THEN '🟠'
                       ELSE '🔴' END
               || ' ' || {pct.format(v='f1')}
               || chr(10) || chr(10) || sections_md AS report_md
        FROM final
    """


def q_assessment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.assessment import assess_attributes

    cfg = spark.createDataFrame(eval_config_rows())
    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return assess_attributes(_flat(spark, "flat_actual"), secs, cfg).select(
        "doc_id", "section_id", "classification", "attr_path",
        "confidence", "confidence_threshold", "alert",
    )


def _sql_scored_confidences_cte(extra_scored_cols: str = "") -> str:
    """Shared CTE scaffolding (flat/secs/cfg -> `scored` with confidence +
    threshold) used by BOTH assessment oracles — one rubric definition, no
    drift between the plain and granular oracle bodies."""
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    conf = (
        f"CASE WHEN value IS NULL OR trim(value) = '' THEN 0.0 "
        f"WHEN section_text IS NOT NULL AND strpos(section_text, value) > 0 THEN 0.99 "
        f"WHEN section_text IS NOT NULL AND strpos({norm.format(v='section_text')}, {norm.format(v='value')}) > 0 THEN 0.7 "
        f"ELSE 0.1 END"
    )
    return f"""
        WITH flat AS (SELECT * FROM read_parquet('{_fx('flat_actual.parquet')}')),
        secs AS (SELECT doc_id, section_id, section_text
                 FROM read_parquet('{_fx('golden_sections.parquet')}')),
        cfg(classification, norm_path, threshold) AS (VALUES {cfg_values}),
        joined AS (
            SELECT flat.doc_id, flat.section_id, flat.classification,
                   flat.attr_path, flat.value, secs.section_text
            FROM flat LEFT JOIN secs
              ON flat.doc_id = secs.doc_id AND flat.section_id = secs.section_id
        ),
        scored AS (
            SELECT joined.doc_id, joined.section_id,
                   joined.classification AS classification, joined.attr_path,
                   {conf} AS confidence,
                   COALESCE(cfg.threshold, 0.8) AS confidence_threshold{extra_scored_cols}
            FROM joined LEFT JOIN cfg
              ON cfg.classification = joined.classification
             AND cfg.norm_path = regexp_replace(joined.attr_path, '\\[\\d+\\]', '[]', 'g')
        )
    """


def _sql_assessment() -> str:
    return (
        _sql_scored_confidences_cte()
        + "SELECT *, confidence < confidence_threshold AS alert FROM scored"
    )


def q_assessment_granular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granular assessment (reference assessment/granular_service.py:525-664
    task decomposition + :1077-1199 aggregation): per-attribute confidences
    tagged with the simple_batch_N / group_N / list_{attr}_item_{j} task each
    attribute is graded under."""
    from .operators.assessment import granular_assess, granular_task_dim

    cfg = spark.createDataFrame(eval_config_rows())
    dim = spark.createDataFrame(granular_task_dim(DOC_CLASSES))
    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return granular_assess(_flat(spark, "flat_actual"), secs, cfg, dim).select(
        "doc_id", "section_id", "classification", "attr_path",
        "confidence", "confidence_threshold", "alert", "task_id", "task_type",
    )


def _sql_assessment_granular() -> str:
    # Independent re-derivation of the batching arithmetic (the operator's
    # dim builder is not reused): walk each class config positionally,
    # chunk simples by 3, continue the counter into groups.
    dim_rows = []
    for cls, cfg in DOC_CLASSES.items():
        simples = [a["name"] for a in cfg.get("attributes", []) if a["type"] == "simple"]
        group_names = [a["name"] for a in cfg.get("attributes", []) if a["type"] == "group"]
        n_batches = (len(simples) + 2) // 3
        for pos, name in enumerate(simples):
            dim_rows.append((cls, name, f"simple_batch_{pos // 3}", "simple_batch"))
        for g_ord, name in enumerate(group_names):
            dim_rows.append((cls, name, f"group_{n_batches + g_ord}", "group"))
    dim_values = ", ".join(
        f"('{c}', '{a}', '{t}', '{ty}')" for c, a, t, ty in dim_rows
    )
    extra = (
        ",\n                   regexp_extract(joined.attr_path, '^([^.\\[]+)', 1) AS attr_name"
        ",\n                   regexp_extract(joined.attr_path, '^[^.\\[]+\\[(\\d+)\\]', 1) AS item_idx"
    )
    return _sql_scored_confidences_cte(extra) + f"""
        , dim(classification, attr_name, task_id, task_type) AS (VALUES {dim_values})
        SELECT scored.doc_id, scored.section_id, scored.classification,
               scored.attr_path, confidence, confidence_threshold,
               confidence < confidence_threshold AS alert,
               CASE WHEN item_idx <> ''
                    THEN 'list_' || scored.attr_name || '_item_' || item_idx
                    ELSE dim.task_id END AS task_id,
               CASE WHEN item_idx <> '' THEN 'list_item'
                    ELSE dim.task_type END AS task_type
        FROM scored LEFT JOIN dim
          ON dim.classification = scored.classification
         AND dim.attr_name = scored.attr_name
    """


def q_section_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.summarize import summarize_sections

    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return summarize_sections(secs)


def _sql_section_summaries() -> str:
    return f"""
        SELECT doc_id, section_id, classification,
               array_to_string(string_split_regex(trim(section_text), '\\s+')[1:25], ' ') AS summary
        FROM read_parquet('{_fx('golden_sections.parquet')}')
    """


def q_document_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.summarize import assemble_document_markdown, summarize_sections

    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return assemble_document_markdown(summarize_sections(secs))


def _sql_document_markdown() -> str:
    return f"""
        WITH summ AS (
            SELECT doc_id, CAST(section_id AS INT) AS sid, classification AS cls,
                   array_to_string(string_split_regex(trim(section_text), '\\s+')[1:25], ' ') AS s
            FROM read_parquet('{_fx('golden_sections.parquet')}')
        )
        SELECT doc_id,
               '# Document ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
               || '## Table of Contents' || chr(10)
               || string_agg('- [Section ' || CAST(sid AS VARCHAR) || ': ' || cls
                             || '](#section-' || CAST(sid AS VARCHAR) || ')',
                             chr(10) ORDER BY sid)
               || chr(10) || chr(10)
               || string_agg('## Section ' || CAST(sid AS VARCHAR) || ': ' || cls
                             || chr(10) || chr(10) || s,
                             chr(10) || chr(10) ORDER BY sid)
               AS document_markdown,
               CAST(count(*) AS INT) AS n_sections
        FROM summ GROUP BY doc_id
    """


def q_summary_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity combined document summary
    (markdown_formatter.py:15-418): duplicate-title removal, citation
    prefixing, TOC/anchors/navigation. Golden composed by the fixture
    generator from clean template parts."""
    from .operators.summarize import format_document_summaries

    secs = spark.read.parquet(_fx("summary_sections.parquet"))
    return format_document_summaries(secs, content_col="content")


def _sql_summary_markdown() -> str:
    return (
        "SELECT doc_id, summary_markdown "
        f"FROM read_parquet('{_fx('golden_summary_markdown.parquet')}')"
    )


def q_eval_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC evaluation method over supplied embedding vectors
    (comparator.py:406-476 with the remote Bedrock embedding call replaced
    by the value_embeddings lookup table): native zip_with/aggregate
    cosine, trim-to-shorter-vector, zero-magnitude -> 0.0, FUZZY fallback
    for values absent from the table. Golden computed by the pure kernel
    (compare_semantic) — exact 1/64-quantized components make scores
    bit-identical across engines."""
    from .fixtures.semantic_gen import SEM_THRESHOLD, SEMANTIC_PATHS

    cfg = spark.createDataFrame(
        [{"classification": c, "norm_path": p, "method": "SEMANTIC",
          "threshold": SEM_THRESHOLD} for c, p in SEMANTIC_PATHS]
    )
    emb = spark.read.parquet(_fx("value_embeddings.parquet"))
    counted = evaluate_attributes(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"), cfg,
        embeddings=emb,
    )
    return counted.where(F.col("method") == "SEMANTIC").select(
        "doc_id", "section_id", "attr_path", "expected", "actual",
        "score", "tn", "fp", "fn", "tp", "fp1", "fp2",
    )


def _sql_eval_semantic() -> str:
    return (
        "SELECT doc_id, section_id, attr_path, expected, actual, score, "
        "CAST(tn AS INT) AS tn, CAST(fp AS INT) AS fp, "
        "CAST(fn AS INT) AS fn, CAST(tp AS INT) AS tp, "
        "CAST(fp1 AS INT) AS fp1, CAST(fp2 AS INT) AS fp2 "
        f"FROM read_parquet('{_fx('golden_semantic.parquet')}')"
    )


def q_eval_hungarian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuhn-Munkres wholesale list matching (comparator.py:226-287).
    Oracle: golden_hungarian.parquet, built by EXHAUSTIVE assignment
    enumeration in the fixture generator (packets_gen._brute_force_hungarian)
    — the O(n^3) solver is validated against brute-force optimality."""
    return evaluate_lists_hungarian(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"),
        "Transactions", "Description", "FUZZY", 0.8,
    )


def _sql_eval_hungarian() -> str:
    return (
        "SELECT doc_id, section_id, classification, attr_path, "
        "CAST(tp AS INTEGER) AS tp, CAST(fp AS INTEGER) AS fp, avg_score "
        f"FROM read_parquet('{_fx('golden_hungarian.parquet')}')"
    )


# ---------------------------------------------------------------------------
# domain-level curation + Gopher word gates + C4 badword filter (r5)
# ---------------------------------------------------------------------------


def q_doc_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 word-level gates (Rae et al. 2021): word count,
    mean word length, required-stopword hits, combined pass flag — one
    codegen'd projection, zero Python, zero shuffles."""
    from .operators.quality import doc_word_stats

    return doc_word_stats(_docs(spark, sf_dir))


def _sql_doc_word_stats() -> str:
    from .operators.quality import (
        GOPHER_WORD_BOUNDS as B,
        REQUIRED_STOPWORDS,
        _EDGE_PUNCT,
    )

    punct = _EDGE_PUNCT.replace("'", "''")
    hits = " + ".join(
        f"CAST(list_contains(bare, '{w}') AS INTEGER)"
        for w in REQUIRED_STOPWORDS
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                  '\\s+'),
                            w -> w <> '') AS ws
            FROM documents
        ),
        bare_t AS (
            SELECT doc_id, ws,
                   list_transform(ws, w -> trim(w, '{punct}')) AS bare
            FROM toks
        ),
        stats AS (
            SELECT doc_id,
                len(ws) AS n_words,
                CASE WHEN len(ws) = 0 THEN 0.0
                     ELSE floor(1e6 * list_sum(list_transform(ws,
                              w -> length(w))) / len(ws)) / 1e6
                END AS mean_word_len,
                ({hits}) AS stopword_hits
            FROM bare_t
        )
        SELECT doc_id, n_words, mean_word_len, stopword_hits,
            (n_words >= {B["min_words"]} AND n_words <= {B["max_words"]}
             AND mean_word_len >= {B["min_mean_word_len"]}
             AND mean_word_len <= {B["max_mean_word_len"]}
             AND stopword_hits >= {B["min_stopword_hits"]})
            AS word_gates_pass
        FROM stats
    """


def _badword_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic blocklist-word plantings: %23 gets a
    punctuation-adjacent casino/jackpot sentence, %29 gets spam-pharma
    tokens, %31 a benign near-miss ('casinos' must NOT hit — whole-word
    rule). Mirrored by _SQL_BADWORD_DOCS."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 23 == 0,
               F.concat(t, F.lit(" Win big at the CASINO, jackpot!")))\
         .otherwise(t)
    t = F.when(F.col("doc_id") % 29 == 0,
               F.concat(t, F.lit(" cheap viagra; cialis."))).otherwise(t)
    t = F.when(F.col("doc_id") % 31 == 0,
               F.concat(t, F.lit(" visiting casinos legally"))).otherwise(t)
    return d.select("doc_id", t.alias("text"))


_SQL_BADWORD_DOCS = """
    SELECT doc_id,
        (CASE WHEN doc_id % 23 = 0
              THEN text || ' Win big at the CASINO, jackpot!' ELSE text END)
        || CASE WHEN doc_id % 29 = 0 THEN ' cheap viagra; cialis.'
                ELSE '' END
        || CASE WHEN doc_id % 31 = 0 THEN ' visiting casinos legally'
                ELSE '' END AS text
    FROM documents
"""


def q_badword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-level blocklist-word rule (Raffel et al. 2020 §2.2):
    distinct whole-word blocklist hits per document + the kept flag.
    Map-only codegen'd higher-order array expressions."""
    from .operators.webfilters import badword_hits

    d = _badword_docs_df(spark, sf_dir)
    hits = badword_hits(F.col("text")).alias("badword_hits")
    out = d.select("doc_id", hits)
    return out.withColumn("kept", F.col("badword_hits") == 0)


def _sql_badword_filter() -> str:
    from .operators.webfilters import _BW_EDGE_PUNCT, DEFAULT_BADWORDS

    punct = _BW_EDGE_PUNCT.replace("'", "''")
    hits = " + ".join(
        f"CAST(list_contains(bare, '{w}') AS INTEGER)"
        for w in DEFAULT_BADWORDS
    )
    return f"""
        WITH src AS ({_SQL_BADWORD_DOCS}),
        toks AS (
            SELECT doc_id,
                list_transform(
                    list_filter(regexp_split_to_array(
                                    lower(coalesce(text, '')), '\\s+'),
                                w -> w <> ''),
                    w -> trim(w, '{punct}')) AS bare
            FROM src
        )
        SELECT doc_id, ({hits}) AS badword_hits,
               ({hits}) = 0 AS kept
        FROM toks
    """


def _domain_urls_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL corpus exercising every host-parsing branch:
    mixed-case hosts, userinfo, ports, subdomains, multi-suffix eTLDs
    (co.uk / ac.jp), a shared flat suffix (.example.com collapses many
    sites to ONE registrable domain = the volume-cap target), and raw
    IPv4 hosts. Mirrored 1:1 by _SQL_DOMAIN_URLS."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    i = F.col("doc_id")
    scheme = F.when(i % 5 == 0, F.lit("HTTP://")).otherwise(F.lit("https://"))
    userinfo = F.when(i % 17 == 0, F.lit("user:pw@")).otherwise(F.lit(""))
    sub = (
        F.when(i % 4 == 0, F.lit("www."))
        .when(i % 4 == 1, F.lit("blog."))
        .when(i % 4 == 2, F.lit(""))
        .otherwise(F.lit("cdn.news."))
    )
    site = F.concat(
        F.when(i % 9 == 0, F.lit("Site")).otherwise(F.lit("site")),
        (i % 13).cast("string"),
    )
    suffix = (
        F.when(i % 6 == 0, F.lit(".co.uk"))
        .when(i % 6 == 1, F.lit(".com"))
        .when(i % 6 == 2, F.lit(".org"))
        .when(i % 6 == 3, F.lit(".ac.jp"))
        .when(i % 6 == 4, F.lit(".net"))
        .otherwise(F.lit(".example.com"))
    )
    host = F.when(
        i % 31 == 0,
        F.concat(F.lit("10.1."), (i % 3).cast("string"), F.lit(".5")),
    ).otherwise(F.concat(sub, site, suffix))
    port = F.when(i % 19 == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = F.concat(scheme, userinfo, host, port, F.lit("/p/"),
                   (i % 7).cast("string"))
    return d.select("doc_id", url.alias("url"), "n_chars")


_SQL_DOMAIN_URLS = """
    SELECT doc_id, n_chars,
        (CASE WHEN doc_id % 5 = 0 THEN 'HTTP://' ELSE 'https://' END)
        || (CASE WHEN doc_id % 17 = 0 THEN 'user:pw@' ELSE '' END)
        || (CASE WHEN doc_id % 31 = 0
                 THEN '10.1.' || CAST(doc_id % 3 AS VARCHAR) || '.5'
                 ELSE (CASE WHEN doc_id % 4 = 0 THEN 'www.'
                            WHEN doc_id % 4 = 1 THEN 'blog.'
                            WHEN doc_id % 4 = 2 THEN ''
                            ELSE 'cdn.news.' END)
                   || (CASE WHEN doc_id % 9 = 0 THEN 'Site'
                            ELSE 'site' END)
                   || CAST(doc_id % 13 AS VARCHAR)
                   || (CASE WHEN doc_id % 6 = 0 THEN '.co.uk'
                            WHEN doc_id % 6 = 1 THEN '.com'
                            WHEN doc_id % 6 = 2 THEN '.org'
                            WHEN doc_id % 6 = 3 THEN '.ac.jp'
                            WHEN doc_id % 6 = 4 THEN '.net'
                            ELSE '.example.com' END) END)
        || (CASE WHEN doc_id % 19 = 0 THEN ':8080' ELSE '' END)
        || '/p/' || CAST(doc_id % 7 AS VARCHAR) AS url
    FROM documents
"""


def _sql_domain_expr() -> str:
    """DuckDB mirror of domains.url_host + domains.registrable_domain,
    step for step (host extract, userinfo/port strip, lowercase; then
    IP passthrough / multi-suffix eTLD+1 / last-two-labels)."""
    from .operators.domains import _HOST_RE, MULTI_SUFFIX_2LD

    alts = "|".join(MULTI_SUFFIX_2LD)
    return f"""
        , hosts AS (
            SELECT *, lower(regexp_replace(regexp_replace(
                       regexp_extract(url, '{_HOST_RE}', 1),
                       '^[^@]*@', ''), ':[0-9]*$', '')) AS host
            FROM src
        ),
        doms AS (
            SELECT *,
                CASE
                  WHEN regexp_matches(host,
                       '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$') THEN host
                  WHEN regexp_extract(host,
                       '([^.]+\\.({alts})\\.[a-z][a-z])$', 1) <> ''
                  THEN regexp_extract(host,
                       '([^.]+\\.({alts})\\.[a-z][a-z])$', 1)
                  WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
                  THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                  ELSE host
                END AS domain
            FROM hosts
        )
    """


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain rollup (CCNet/RefinedWeb URL-level stage):
    ONE hash aggregate on the domain key; mean quantized trunc6 so the
    value hash is engine-invariant."""
    from .operators.domains import domain_stats

    out = domain_stats(_domain_urls_df(spark, sf_dir))
    return out.select(
        "domain", "n_docs", "total_chars",
        (F.floor(F.lit(1e6) * F.col("total_chars") / F.col("n_docs"))
         / 1e6).alias("mean_chars"),
    )


def _sql_domain_stats() -> str:
    return f"""
        WITH src AS ({_SQL_DOMAIN_URLS})
        {_sql_domain_expr()}
        SELECT domain, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               floor(1e6 * sum(n_chars) / count(*)) / 1e6 AS mean_chars
        FROM doms GROUP BY domain
    """


_DOMAIN_BLOCKLIST = ("site7.co.uk", "site4.org", "10.1.2.5")
_DOMAIN_MAX_DOCS = 20


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist + volume-cap domain gate: blocklisted registrable
    domains dropped via broadcast anti-join; domains with more than
    _DOMAIN_MAX_DOCS documents (spam farms / crawler traps — here the
    shared .example.com suffix) dropped wholesale."""
    from .operators.domains import domain_filter

    pages = _domain_urls_df(spark, sf_dir)
    bl = spark.createDataFrame(
        [(d,) for d in _DOMAIN_BLOCKLIST], "domain string"
    )
    out = domain_filter(pages, bl, max_docs_per_domain=_DOMAIN_MAX_DOCS)
    return out.select("doc_id", "url")


def _sql_domain_filter() -> str:
    bl = ", ".join(f"('{d}')" for d in _DOMAIN_BLOCKLIST)
    return f"""
        WITH src AS ({_SQL_DOMAIN_URLS})
        {_sql_domain_expr()},
        blocked(domain) AS (VALUES {bl}),
        heavy AS (
            SELECT domain FROM doms GROUP BY domain
            HAVING count(*) > {_DOMAIN_MAX_DOCS}
        )
        SELECT doc_id, url FROM doms
        WHERE domain NOT IN (SELECT domain FROM blocked)
          AND domain NOT IN (SELECT domain FROM heavy)
    """


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental batch-vs-corpus dedup (Dolma-style,
    operators/incremental.py): corpus = documents with even doc_id, new
    batch = documents with doc_id %% 3 == 0 re-keyed (+5000000) — docs
    whose text already exists in the corpus (doc_id %% 6 == 0, plus any
    natural text collisions) are dropped. Result is EXACT (broadcast
    semi/anti joins confirm candidates), so the oracle is a plain
    ANTI JOIN; the Bloom bitmap + treeReduce is the no-shuffle scale
    path for both big inputs."""
    from .operators.incremental import incremental_exact_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    new_b = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    return incremental_exact_dedup(new_b, corpus).select("doc_id", "text")


def _sql_incremental_dedup() -> str:
    return """
        WITH corpus AS (
            SELECT text FROM documents WHERE doc_id % 2 = 0
        ),
        newb AS (
            SELECT doc_id + 5000000 AS doc_id, text
            FROM documents WHERE doc_id % 3 = 0
        )
        SELECT n.doc_id, n.text
        FROM newb n ANTI JOIN corpus c ON n.text = c.text
    """


def _as_mojibake(s: str) -> str:
    """The CP1252 mis-decoding of s's UTF-8 bytes (raises if s contains
    a char whose UTF-8 bytes are undefined in CP1252 — keep plants to
    the decodable set)."""
    return s.encode("utf-8").decode("cp1252")


# planted defect strings (mojibake forms computed from the codecs, not
# hand-typed): curly apostrophe/dash/ellipsis and quote/currency/legal
_MOJI_PLANT_A = _as_mojibake("don’t stop — it’s café…")
_MOJI_PLANT_B = _as_mojibake("“quoted‘ – €99 ©")


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CP1252 mojibake repair (ftfy's dominant case): documents with
    deterministic planted defects (%13, %17) run through the frozen
    literal-replace chain — map-only, pure codegen, no regex."""
    from .operators.webfilters import mojibake_stats

    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 13 == 0,
               F.concat(t, F.lit(" " + _MOJI_PLANT_A))).otherwise(t)
    t = F.when(F.col("doc_id") % 17 == 0,
               F.concat(t, F.lit(" " + _MOJI_PLANT_B))).otherwise(t)
    return mojibake_stats(d.select("doc_id", t.alias("text")))


def _sql_mojibake_repair() -> str:
    from .operators.webfilters import MOJIBAKE_TABLE

    fixed = "text"
    for moji, ch in MOJIBAKE_TABLE:
        fixed = f"replace({fixed}, '{moji}', '{ch}')"
    return f"""
        WITH planted AS (
            SELECT doc_id,
                (CASE WHEN doc_id % 13 = 0
                      THEN text || ' {_MOJI_PLANT_A}' ELSE text END)
                || (CASE WHEN doc_id % 17 = 0
                         THEN ' {_MOJI_PLANT_B}' ELSE '' END) AS text
            FROM documents
        )
        SELECT doc_id, {fixed} AS fixed_text,
               ({fixed} IS DISTINCT FROM text) AS was_mojibake
        FROM planted
    """


_SPAN_K = 8
_SPAN_SHARED_A = "the quick brown fox jumps over the lazy dog today"
_SPAN_SHARED_B = "all work and no play makes jack a dull boy indeed"


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup at k-token windows (Lee et al. 2022 /
    RefinedWeb span removal): %11 docs share a planted 10-token
    sentence, %13 docs another — the canonical (smallest doc_id, pos)
    occurrence keeps its span, every other occurrence loses exactly the
    covered tokens. Natural k-gram collisions in the synthetic text
    dedup identically on both sides. Spark shuffles hashed window keys
    (default hash_windows=True); the oracle re-derives with literal
    string keys — identical results absent an xxhash64 collision
    between distinct windows (~2^-64/pair, the documented boundary)."""
    from .operators.dedup import substring_span_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 11 == 0,
               F.concat(t, F.lit(" " + _SPAN_SHARED_A))).otherwise(t)
    t = F.when(F.col("doc_id") % 13 == 0,
               F.concat(t, F.lit(" " + _SPAN_SHARED_B))).otherwise(t)
    return substring_span_dedup(
        d.select("doc_id", t.alias("text")), k=_SPAN_K
    )


def _sql_substring_dedup() -> str:
    k = _SPAN_K
    return f"""
        WITH src AS (
            SELECT doc_id,
                (CASE WHEN doc_id % 11 = 0
                      THEN text || ' {_SPAN_SHARED_A}' ELSE text END)
                || (CASE WHEN doc_id % 13 = 0
                         THEN ' {_SPAN_SHARED_B}' ELSE '' END) AS text
            FROM documents
        ),
        base AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(coalesce(text, ''),
                                                  '\\s+'),
                            t -> t <> '') AS ts
            FROM src
        ),
        wins AS (
            SELECT doc_id, g.pos,
                   array_to_string(ts[g.pos + 1 : g.pos + {k}], ' ')
                       AS wkey
            FROM base, UNNEST(generate_series(0, len(ts) - {k})) AS g(pos)
            WHERE len(ts) >= {k}
        ),
        occ AS (
            SELECT doc_id, pos, wkey,
                   row_number() OVER (PARTITION BY wkey
                                      ORDER BY doc_id, pos) AS rn
            FROM wins
        ),
        dup AS (
            SELECT wkey FROM (SELECT DISTINCT wkey, doc_id FROM wins)
            GROUP BY wkey HAVING count(*) >= 2
        ),
        removed AS (
            SELECT DISTINCT o.doc_id, r.tpos
            FROM occ o JOIN dup USING (wkey),
                 UNNEST(generate_series(o.pos, o.pos + {k} - 1))
                     AS r(tpos)
            WHERE o.rn > 1
        ),
        rm_agg AS (
            SELECT doc_id, count(*) AS n_removed FROM removed
            GROUP BY doc_id
        ),
        pos_tok AS (
            SELECT doc_id, g.tpos, ts[g.tpos + 1] AS tok
            FROM base, UNNEST(generate_series(0, len(ts) - 1)) AS g(tpos)
            WHERE len(ts) > 0
        ),
        kept AS (
            SELECT p.doc_id,
                   string_agg(p.tok, ' ' ORDER BY p.tpos)
                       AS text_deduped
            FROM pos_tok p ANTI JOIN removed r
                 ON p.doc_id = r.doc_id AND p.tpos = r.tpos
            GROUP BY p.doc_id
        )
        SELECT b.doc_id,
               coalesce(k.text_deduped, '') AS text_deduped,
               len(b.ts) AS n_tokens,
               coalesce(r.n_removed, 0) AS n_removed
        FROM base b
        LEFT JOIN kept k USING (doc_id)
        LEFT JOIN rm_agg r USING (doc_id)
    """


_BM25_QUERY = ("table", "window", "spark")
_BM25_K = 25


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k keyword search (Lucene formula) — map-side query-term
    pruning, term-sorted deterministic score folding, ties on doc_id."""
    from .operators.search import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), list(_BM25_QUERY), k=_BM25_K
    )


def _sql_bm25_search() -> str:
    from .operators.search import _EDGE_PUNCT, BM25_B, BM25_K1

    punct = _EDGE_PUNCT.replace("'", "''")
    terms = ", ".join(f"'{t}'" for t in sorted(set(_BM25_QUERY)))
    return f"""
        WITH base AS (
            SELECT doc_id,
                list_filter(
                    list_transform(
                        list_filter(
                            regexp_split_to_array(lower(coalesce(text,'')),
                                                  '\\s+'),
                            x -> x <> ''),
                        x -> trim(x, '{punct}')),
                    x -> x <> '') AS ts
            FROM documents
        ),
        b2 AS (SELECT doc_id, ts, len(ts) AS dl FROM base),
        scal AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM b2),
        hits0 AS (
            SELECT doc_id, dl, q.term,
                   len(list_filter(ts, x -> x = q.term)) AS tf
            FROM b2, (SELECT unnest([{terms}]) AS term) q
        ),
        hits AS (SELECT * FROM hits0 WHERE tf > 0),
        dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
        scored AS (
            SELECT h.doc_id, h.term,
                ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                * (h.tf * ({BM25_K1} + 1))
                / (h.tf + {BM25_K1}
                   * (1 - {BM25_B} + {BM25_B} * h.dl / s.avgdl))
                AS tscore
            FROM hits h
            JOIN dfs d USING (term)
            CROSS JOIN scal s
        ),
        agg AS (
            SELECT doc_id,
                   list_sum(list(tscore ORDER BY term)) AS score,
                   CAST(count(*) AS INTEGER) AS n_hits
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, score, n_hits FROM agg
        ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    """


# multilingual plantings for the script-profile query (docs are ASCII
# word salad -> latin-dominant unless planted otherwise)
_SCRIPT_PLANT_CYR = "привет мир как дела сегодня"
_SCRIPT_PLANT_CJK = "你好世界今天天气很好 こんにちは"
_SCRIPT_PLANT_AR = "مرحبا بالعالم اليوم"


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script mix per document (CCNet's pre-lang-ID routing):
    %7 docs get a Cyrillic sentence, %19 CJK, %29 Arabic — fractions of
    profiled letters per block + dominant script, pure codegen."""
    from .operators.webfilters import script_profile

    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 7 == 0,
               F.concat(t, F.lit(" " + _SCRIPT_PLANT_CYR))).otherwise(t)
    t = F.when(F.col("doc_id") % 19 == 0,
               F.concat(t, F.lit(" " + _SCRIPT_PLANT_CJK))).otherwise(t)
    t = F.when(F.col("doc_id") % 29 == 0,
               F.concat(t, F.lit(" " + _SCRIPT_PLANT_AR))).otherwise(t)
    return script_profile(d.select("doc_id", t.alias("text")))


def _sql_script_profile() -> str:
    from .operators.webfilters import SCRIPT_RANGES

    plants = f"""
        SELECT doc_id,
            (CASE WHEN doc_id % 7 = 0
                  THEN text || ' {_SCRIPT_PLANT_CYR}' ELSE text END)
            || (CASE WHEN doc_id % 19 = 0
                     THEN ' {_SCRIPT_PLANT_CJK}' ELSE '' END)
            || (CASE WHEN doc_id % 29 = 0
                     THEN ' {_SCRIPT_PLANT_AR}' ELSE '' END) AS text
        FROM documents
    """
    counts = ", ".join(
        f"length(text) - length(regexp_replace(text, '[{rng}]', '', 'g'))"
        f" AS c_{name}"
        for name, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"c_{name}" for name, _ in SCRIPT_RANGES)
    fracs = ", ".join(
        f"CASE WHEN total = 0 THEN 0.0 "
        f"ELSE floor(c_{name} * 1e6 / total) / 1e6 END AS {name}_frac"
        for name, _ in SCRIPT_RANGES
    )
    # dominant = first block (SCRIPT_RANGES order) with the max count
    dom = "CASE WHEN total = 0 THEN 'none' " + " ".join(
        f"WHEN c_{name} = greatest("
        + ", ".join(f"c_{n}" for n, _ in SCRIPT_RANGES)
        + f") THEN '{name}'"
        for name, _ in SCRIPT_RANGES
    ) + " END AS dominant_script"
    return f"""
        WITH src AS ({plants}),
        cnt AS (SELECT doc_id, {counts} FROM src),
        tot AS (SELECT *, ({total}) AS total FROM cnt)
        SELECT doc_id, {fracs}, {dom} FROM tot
    """


_PCTS = (0.25, 0.5, 0.75, 0.9)


def q_doc_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (corpus profiling
    for curation threshold tuning). Spark's exact `percentile` and
    DuckDB's `quantile_cont` share the p*(n-1) linear-interpolation
    definition; outputs trunc6-quantized. One shuffle on the
    low-cardinality lang key."""
    d = _docs(spark, sf_dir)
    pcts = F.percentile("n_chars", F.array(*[F.lit(p) for p in _PCTS]))
    out = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), pcts.alias("__p")
    )
    cols = [F.col("lang"), F.col("n_docs")]
    for i, p in enumerate(_PCTS):
        name = f"p{int(p * 100)}"
        cols.append(
            (F.floor(F.col("__p")[i] * F.lit(1e6)) / 1e6).alias(name)
        )
    return out.select(*cols)


def _sql_doc_percentiles() -> str:
    pct_cols = ", ".join(
        f"floor(quantile_cont(n_chars, {p}) * 1e6) / 1e6"
        f" AS p{int(p * 100)}"
        for p in _PCTS
    )
    return f"""
        SELECT lang, count(*) AS n_docs, {pct_cols}
        FROM documents GROUP BY lang
    """


_CONTAM_N = 13
_CONTAM_SLICE = 20
# 17 lowercase tokens -> 5 distinct 13-gram windows
_CONTAM_PLANT = (
    "the quick onboarding checklist requires every new analyst to "
    "confirm data retention policies before access is granted"
)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report (GPT-3 Appendix C 13-gram rule):
    %17 docs carry a planted benchmark sentence; the eval set is that
    sentence plus the first-20-token slices of %37 docs (so those docs
    self-contaminate through their own prefix, the classic
    test-set-in-the-crawl case). Spark joins on xxhash64 gram keys, the
    oracle on literal gram strings — identical absent a 2^-64 collision
    (the substring_dedup convention)."""
    from .operators.contamination import _token_array, contamination_report

    d = _docs(spark, sf_dir)
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(F.col("text"), F.lit(" " + _CONTAM_PLANT)),
        ).otherwise(F.col("text")).alias("text"),
    )
    plant = spark.range(1).select(
        F.lit(1).alias("eval_id"), F.lit(_CONTAM_PLANT).alias("text")
    )
    slices = d.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1000).alias("eval_id"),
        F.array_join(
            F.slice(_token_array(F.col("text")), 1, _CONTAM_SLICE), " "
        ).alias("text"),
    )
    return contamination_report(
        corpus, plant.unionAll(slices), n=_CONTAM_N
    )


def _sql_decontamination() -> str:
    n = _CONTAM_N
    toks = ("list_filter(regexp_split_to_array(lower(coalesce({t}, '')),"
            " '\\s+'), t -> t <> '')")
    return f"""
        WITH src AS (
            SELECT doc_id,
                CASE WHEN doc_id % 17 = 0
                     THEN text || ' {_CONTAM_PLANT}' ELSE text END AS text
            FROM documents
        ),
        cbase AS (SELECT doc_id, {toks.format(t='text')} AS ts FROM src),
        cwins AS (
            SELECT DISTINCT doc_id,
                   array_to_string(ts[g.p + 1 : g.p + {n}], ' ') AS gram
            FROM cbase, UNNEST(generate_series(0, len(ts) - {n})) AS g(p)
            WHERE len(ts) >= {n}
        ),
        ebase0 AS (
            SELECT 1 AS eval_id, '{_CONTAM_PLANT}' AS text
            UNION ALL
            SELECT doc_id + 1000 AS eval_id,
                   array_to_string(
                       ({toks.format(t='text')})[1:{_CONTAM_SLICE}], ' ')
                       AS text
            FROM documents WHERE doc_id % 37 = 0
        ),
        ebase AS (
            SELECT eval_id, {toks.format(t='text')} AS ts FROM ebase0
        ),
        egrams AS (
            SELECT DISTINCT eval_id,
                   array_to_string(ts[g.p + 1 : g.p + {n}], ' ') AS gram
            FROM ebase, UNNEST(generate_series(0, len(ts) - {n})) AS g(p)
            WHERE len(ts) >= {n}
        ),
        hits AS (
            SELECT c.doc_id,
                   count(DISTINCT c.gram) AS n_hit_grams,
                   count(DISTINCT e.eval_id) AS n_eval_ids
            FROM cwins c JOIN egrams e USING (gram)
            GROUP BY c.doc_id
        ),
        base AS (
            SELECT doc_id, greatest(len(ts) - {n - 1}, 0) AS n_windows
            FROM cbase
        )
        SELECT b.doc_id, b.n_windows,
               coalesce(h.n_hit_grams, 0) AS n_hit_grams,
               coalesce(h.n_eval_ids, 0) AS n_eval_ids,
               coalesce(h.n_hit_grams, 0) > 0 AS contaminated
        FROM base b LEFT JOIN hits h USING (doc_id)
    """


_STRAT_SEED = "sample-42"
_STRAT_RATES = {
    "en": 500000, "de": 250000, "fr": 250000, "es": 125000, "zh": 62500,
}
_MIX_SEED = "mix-42"
_MIX_BUDGET = 60_000  # chars; < corpus mass at every committed scale


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language hash Bernoulli sample: keep iff the
    md5-le64(seed:doc_id) ppm bucket falls under the language's literal
    rate. Pure codegen filter — re-runs and repartitions pick the same
    rows, which is what makes 100-TB sampling resumable."""
    from .operators.sampling import hash_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return hash_sample(
        d, _STRAT_RATES, seed=_STRAT_SEED, stratum_col="lang"
    )


def _sql_stratified_sample() -> str:
    h = f"md5('{_STRAT_SEED}:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    arms = " OR ".join(
        f"(lang = '{lang}' AND b < {ppm})"
        for lang, ppm in sorted(_STRAT_RATES.items())
    )
    return f"""
        WITH k AS (SELECT doc_id, lang, {bucket} AS b FROM documents)
        SELECT doc_id, lang FROM k WHERE {arms}
    """


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) training-mix budgeting over per-language
    char mass, plus the realized deterministic sample under the derived
    ppm rates. sqrt is IEEE-correctly-rounded on every engine (general
    pow is not), weights are quantized to integer ppm before the
    order-free integer normalization sum — bit-stable cross-engine."""
    from .operators.sampling import temperature_mix_rates, temperature_sample

    d = _docs(spark, sf_dir)
    rates = temperature_mix_rates(
        d, "lang", _MIX_BUDGET, token_count_col="n_chars"
    )
    sampled = temperature_sample(
        d, "lang", _MIX_BUDGET,
        token_count_col="n_chars", seed=_MIX_SEED,
    )
    counts = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sampled_chars"),
    )
    return (
        rates.join(counts, rates["stratum"] == counts["lang"], "left")
        .select(
            "stratum",
            F.col("t_tokens").alias("t_chars"),
            "w_ppm",
            "rate_ppm",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_chars", F.lit(0)).alias("sampled_chars"),
        )
    )


def _sql_temperature_mix() -> str:
    h = f"md5('{_MIX_SEED}:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    b = float(_MIX_BUDGET)
    return f"""
        WITH per AS (
            SELECT lang AS stratum, sum(n_chars)::BIGINT AS t_chars
            FROM documents GROUP BY lang
        ),
        w AS (
            SELECT *, CAST(floor(sqrt(t_chars::DOUBLE) * 1000000.0)
                           AS BIGINT) AS w_ppm
            FROM per
        ),
        tot AS (SELECT *, sum(w_ppm) OVER () AS total_w FROM w),
        r AS (
            SELECT stratum, t_chars, w_ppm,
                   CAST(floor(least(1.0,
                        ({b} * w_ppm::DOUBLE)
                        / (total_w::DOUBLE * t_chars::DOUBLE))
                        * 1000000.0) AS BIGINT) AS rate_ppm
            FROM tot
        ),
        k AS (
            SELECT doc_id, lang, n_chars, {bucket} AS b FROM documents
        ),
        s AS (
            SELECT k.lang, count(*) AS n_sampled,
                   sum(k.n_chars)::BIGINT AS sampled_chars
            FROM k JOIN r ON k.lang = r.stratum
            WHERE k.b < r.rate_ppm
            GROUP BY k.lang
        )
        SELECT r.stratum, r.t_chars, r.w_ppm, r.rate_ppm,
               coalesce(s.n_sampled, 0) AS n_sampled,
               coalesce(s.sampled_chars, 0) AS sampled_chars
        FROM r LEFT JOIN s ON s.lang = r.stratum
    """


_TIER_MIX_BUDGET = 8_000  # tokens; binding (rates < 1) at sf0.01+


def q_tier_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-Edu-style tier-aware training mix: score the corpus into
    integer-ppm quality tiers (operators/tiers.py), then apply the
    alpha=0.5 temperature token budget ACROSS tiers — flattening the
    fat mid tiers and up-weighting the scarce head — with the realized
    deterministic hash sample per tier. Composition of two proven
    pieces: map-only tier scoring feeds the tiny (<=5-row) rate table,
    the corpus-side filter is the same codegen'd bucket compare, so the
    whole plan is two cheap agg passes + one broadcast-join filter;
    nothing wide shuffles at any scale."""
    from .operators.dedup import _truncate_lineage
    from .operators.sampling import temperature_mix_rates, temperature_sample
    from .operators.tiers import quality_tiers

    t = quality_tiers(_docs(spark, sf_dir))
    # the tier table feeds FOUR plan arms (rate aggregation, the
    # sample's corpus side, the sample's own rate recompute, the
    # realized-counts aggregation); materialize the SKINNY derived
    # table once (~2% of corpus bytes — doc_id/source/counts, no text)
    # so the wide-text scoring scan runs once instead of per arm — the
    # right trade at any scale (one wide scan + narrow re-reads)
    t = _truncate_lineage(t, None, eager=False)
    rates = temperature_mix_rates(t, "tier_label", _TIER_MIX_BUDGET)
    sampled = temperature_sample(
        t, "tier_label", _TIER_MIX_BUDGET, seed=_MIX_SEED
    )
    counts = sampled.groupBy("tier_label").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_tokens").alias("sampled_tokens"),
    )
    return (
        rates.join(counts, rates["stratum"] == counts["tier_label"], "left")
        .select(
            "stratum",
            "t_tokens",
            "w_ppm",
            "rate_ppm",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_tokens", F.lit(0)).alias("sampled_tokens"),
        )
    )


def _sql_tier_mix() -> str:
    h = f"md5('{_MIX_SEED}:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    b = float(_TIER_MIX_BUDGET)
    return f"""
        WITH tiers AS ({_sql_quality_tiers()}),
        per AS (
            SELECT tier_label AS stratum, sum(n_tokens)::BIGINT AS t_tokens
            FROM tiers GROUP BY tier_label
        ),
        w AS (
            SELECT *, CAST(floor(sqrt(t_tokens::DOUBLE) * 1000000.0)
                           AS BIGINT) AS w_ppm
            FROM per
        ),
        tot AS (SELECT *, sum(w_ppm) OVER () AS total_w FROM w),
        r AS (
            SELECT stratum, t_tokens, w_ppm,
                   CAST(floor(least(1.0,
                        ({b} * w_ppm::DOUBLE)
                        / (total_w::DOUBLE * t_tokens::DOUBLE))
                        * 1000000.0) AS BIGINT) AS rate_ppm
            FROM tot
        ),
        k AS (
            SELECT doc_id, tier_label, n_tokens, {bucket} AS b FROM tiers
        ),
        s AS (
            SELECT k.tier_label, count(*) AS n_sampled,
                   sum(k.n_tokens)::BIGINT AS sampled_tokens
            FROM k JOIN r ON k.tier_label = r.stratum
            WHERE k.b < r.rate_ppm
            GROUP BY k.tier_label
        )
        SELECT r.stratum, r.t_tokens, r.w_ppm, r.rate_ppm,
               coalesce(s.n_sampled, 0) AS n_sampled,
               coalesce(s.sampled_tokens, 0) AS sampled_tokens
        FROM r LEFT JOIN s ON s.tier_label = r.stratum
    """


_SPLIT_VAL_PPM = 250_000  # host-level val rate; both splits populated
_SPLIT_SEED = "split-42"


def q_host_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split at HOST granularity (every doc of a
    host lands in one split — site-internal near-dups can never
    straddle train/val, the contamination mode document-level random
    splits suffer from). Assignment is md5-le64(seed:host) % 1e6 <
    val_ppm: a pure integer function of the row — rerun-, partitioning-
    and snapshot-stable. Map-only, zero shuffles, zero Python."""
    from .operators.sampling import host_split

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return host_split(d, val_ppm=_SPLIT_VAL_PPM, seed=_SPLIT_SEED)


def _sql_host_split() -> str:
    h = f"md5('{_SPLIT_SEED}:' || source)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    return f"""
        SELECT doc_id, source,
               CASE WHEN {bucket} < {_SPLIT_VAL_PPM}
                    THEN 'val' ELSE 'train' END AS split
        FROM documents
    """


_BPE_MERGES = 100
_BPE_MAX_WORDS = 50_000


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BPE tokenization (Sennrich et al. 2016): one agg
    pass builds the word-frequency table, the pure kernel learns 100
    merges, and encoding runs over DISTINCT words only (Arrow kernel +
    join-back). The oracle re-trains bit-identically from the same
    frequency table (shared kernel, ann_ivf pattern) and re-encodes via
    a recursive CTE applying the same lowest-rank merge loop."""
    from .operators.tokenizer import bpe_encode, bpe_train

    d = _docs(spark, sf_dir)
    merges = bpe_train(
        d, n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS
    )
    return bpe_encode(d, merges)


def _bpe_oracle_merges() -> list[tuple[str, str]]:
    """Oracle-side twin of bpe_train: word counts via DuckDB (same \\s+
    regex family as the Spark split), the SAME pure training kernel.
    SPARK_GRAFT_ORACLE_SF_DIR pins the scale (ann_ivf convention)."""
    import duckdb as _duck

    from .kernels.bpe import top_words as _top
    from .kernels.bpe import train_merges as _train

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    rows = _duck.sql(
        f"""
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
            x -> x <> '')) AS w
          FROM read_parquet('{path}'))
        GROUP BY w
        """
    ).fetchall()
    counts = _top({w: int(c) for w, c in rows}, _BPE_MAX_WORDS)
    return _train(counts, _BPE_MERGES)


def _sql_bpe_tokenize() -> str:
    merges = _bpe_oracle_merges()

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    pairs = ",\n            ".join(
        f"({lit(l)}, {lit(r)}, {i})" for i, (l, r) in enumerate(merges)
    )
    # adjacent-pair keys use chr(1) as the separator (cannot appear in
    # corpus symbols); the fold walks singleton lists so the accumulator
    # keeps the list type (DuckDB list_reduce has no init value)
    pair_list = ("list_transform(generate_series(1, len(e.ts) - 1), "
                 "i -> e.ts[i] || chr(1) || e.ts[i+1])")
    return f"""
        WITH RECURSIVE
        merges(l, r, rank) AS (VALUES
            {pairs}
        ),
        docs0 AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS ws
            FROM documents
        ),
        words AS (SELECT DISTINCT w AS word FROM docs0, UNNEST(ws) u(w)),
        wbase AS (
            SELECT word,
                   list_transform(generate_series(1, len(word)),
                       i -> substr(word, i, 1) ||
                            CASE WHEN i = len(word)
                                 THEN '</w>' ELSE '' END) AS ts
            FROM words
        ),
        enc AS (
            SELECT word, ts, 0 AS step FROM wbase
            UNION ALL
            SELECT e.word,
                (SELECT list_reduce(
                    list_transform(e.ts, t -> [t]),
                    (acc, x) -> CASE
                        WHEN acc[-1] = b.l AND x[1] = b.r
                        THEN acc[:len(acc) - 1] || [b.l || b.r]
                        ELSE acc || x END)
                 FROM (SELECT m.l, m.r FROM merges m
                       WHERE list_contains({pair_list},
                                           m.l || chr(1) || m.r)
                       ORDER BY m.rank LIMIT 1) b) AS ts,
                e.step + 1
            FROM enc e
            WHERE EXISTS (SELECT 1 FROM merges m
                          WHERE list_contains({pair_list},
                                              m.l || chr(1) || m.r))
        ),
        final AS (
            SELECT word, ts FROM enc
            QUALIFY row_number() OVER (PARTITION BY word
                                       ORDER BY step DESC) = 1
        ),
        pos AS (
            SELECT doc_id, g.p AS pos, ws[g.p + 1] AS word
            FROM docs0, UNNEST(generate_series(0, len(ws) - 1)) g(p)
            WHERE len(ws) > 0
        ),
        rebuilt AS (
            SELECT p.doc_id,
                   flatten(list(f.ts ORDER BY p.pos)) AS bpe
            FROM pos p JOIN final f USING (word)
            GROUP BY p.doc_id
        )
        SELECT d.doc_id, len(d.ws) AS n_words,
               coalesce(len(r.bpe), 0) AS n_bpe,
               coalesce(array_to_string(r.bpe, ' '), '') AS bpe_text
        FROM docs0 d LEFT JOIN rebuilt r USING (doc_id)
    """


def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness as an oracle: Spark trains BPE, encodes
    every document, then DECODES the subword stream back
    (operators/tokenizer.bpe_decode — native replace/rtrim, zero
    Python).  The oracle never runs BPE at all: if and only if the
    encode->decode cycle is lossless, the decoded text equals the
    lowercased single-space-joined word sequence, which DuckDB computes
    directly from `documents`.  Any merge-table, encode-order, rebuild
    or decode bug breaks the hash."""
    from .operators.tokenizer import bpe_decode, bpe_encode, bpe_train

    d = _docs(spark, sf_dir)
    merges = bpe_train(d, n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS)
    enc = bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        "n_words",
        F.md5(bpe_decode(enc)).alias("decoded_hash"),
    )


def _sql_bpe_roundtrip() -> str:
    return """
        WITH norm AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS ws
            FROM documents
        )
        SELECT doc_id, len(ws) AS n_words,
               md5(array_to_string(ws, ' ')) AS decoded_hash
        FROM norm
    """


def q_capture_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-selection policies (operators/cdx.latest_captures +
    canonical_captures): each url is synthesized with three crawls —
    2023 original, 2024 identical re-fetch (same digest: a revisit),
    2025 changed payload for odd docs only. The freshest capture per
    url must be the 2025 one, and it is a stored FULL record iff its
    digest first appeared then (odd docs); even docs' latest capture is
    an identical re-fetch whose full record lives in 2023. The oracle
    states that closed-form."""
    from .operators.cdx import canonical_captures, latest_captures

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    urlkey = F.concat(F.lit("com,example)/"), did.cast("string"))
    dg0 = F.md5(F.concat(did.cast("string"), F.col("text")))
    dg1 = F.md5(F.concat(did.cast("string"), F.col("text"), F.lit("v2")))
    caps = d.select(
        urlkey.alias("urlkey"),
        F.explode(F.array(
            F.struct(F.lit("20230101000000").alias("ts"),
                     dg0.alias("digest")),
            F.struct(F.lit("20240101000000").alias("ts"),
                     dg0.alias("digest")),
            F.struct(F.lit("20250101000000").alias("ts"),
                     F.when(did % 2 == 0, dg0).otherwise(dg1)
                     .alias("digest")),
        )).alias("c"),
    ).select(
        "urlkey", F.col("c.ts").alias("ts"),
        F.col("c.digest").alias("digest"),
        F.concat(F.lit("crawl-"), F.col("c.ts"), F.lit(".warc.gz"))
        .alias("filename"),
    )
    latest = latest_captures(caps)
    full = canonical_captures(caps).select(
        "urlkey", "ts").withColumn("__full", F.lit(True))
    return (
        latest.join(full, ["urlkey", "ts"], "left")
        .select(
            "urlkey", "ts", "digest",
            F.coalesce("__full", F.lit(False))
            .alias("is_stored_full_record"),
        )
    )


def _sql_capture_policy() -> str:
    return """
        SELECT 'com,example)/' || doc_id::VARCHAR AS urlkey,
               '20250101000000' AS ts,
               CASE WHEN doc_id % 2 = 0
                    THEN md5(doc_id::VARCHAR || text)
                    ELSE md5(doc_id::VARCHAR || text || 'v2') END AS digest,
               doc_id % 2 = 1 AS is_stored_full_record
        FROM documents
    """


def q_cdx_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl CDXJ capture-index selection (operators/cdx.py):
    parse ``<urlkey> <ts> <json>`` lines natively (positional head
    split + from_json), drop malformed lines, select status-200
    text/html English captures.  The CDXJ lines are synthesized
    deterministically from `documents` (every doc_id%41 line is
    corrupt-JSON and must be dropped by the parser, not crash it); the
    oracle re-derives the expected selection directly from the same
    formulas, so any split/parse/cast/filter defect mismatches."""
    from .operators.cdx import cdx_select, parse_cdxj

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source",
                                    "n_chars")
    did = F.col("doc_id")
    urlkey = F.concat(
        F.lit("com,site"), (did % 10).cast("string"), F.lit(")/"),
        F.col("source"), F.lit("/"), did.cast("string"))
    ts = F.format_string(
        "2024%02d%02d%02d%02d%02d",
        (did % 12 + 1), (did % 28 + 1), (did % 24), (did % 60),
        (did * 7 % 60))
    rec = F.to_json(F.struct(
        F.concat(F.lit("https://site"), (did % 10).cast("string"),
                 F.lit(".com/"), F.col("source"), F.lit("/"),
                 did.cast("string")).alias("url"),
        F.when(did % 7 == 0, "404").otherwise("200").alias("status"),
        F.when(did % 5 == 0, "application/pdf")
         .otherwise("text/html").alias("mime"),
        F.concat(F.lit("sha1:"), F.md5("text")).alias("digest"),
        F.col("n_chars").cast("string").alias("length"),
        (did * 1024).cast("string").alias("offset"),
        F.concat(F.lit("crawl-0"), (did % 4).cast("string"),
                 F.lit(".warc.gz")).alias("filename"),
        F.concat(F.col("lang"),
                 F.when(did % 3 == 0, ",fr").otherwise("")
                 ).alias("languages"),
    ))
    tail = F.when(did % 41 == 0, F.lit("{corrupt")).otherwise(rec)
    lines = d.select(F.concat_ws(" ", urlkey, ts, tail).alias("line"))
    sel = cdx_select(parse_cdxj(lines), statuses=("200",),
                     mimes=("text/html",), languages=("en",))
    return sel.select("urlkey", "ts", "url", "status", "mime", "digest",
                      "length", "offset", "filename", "languages")


def _sql_cdx_select() -> str:
    return """
        SELECT
            'com,site' || (doc_id % 10)::VARCHAR || ')/' || source ||
                '/' || doc_id::VARCHAR AS urlkey,
            printf('2024%02d%02d%02d%02d%02d',
                   doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24,
                   doc_id % 60, doc_id * 7 % 60) AS ts,
            'https://site' || (doc_id % 10)::VARCHAR || '.com/' ||
                source || '/' || doc_id::VARCHAR AS url,
            '200' AS status,
            'text/html' AS mime,
            'sha1:' || md5(text) AS digest,
            n_chars::BIGINT AS length,
            (doc_id * 1024)::BIGINT AS "offset",
            'crawl-0' || (doc_id % 4)::VARCHAR || '.warc.gz' AS filename,
            lang || CASE WHEN doc_id % 3 = 0 THEN ',fr' ELSE '' END
                AS languages
        FROM documents
        WHERE doc_id % 41 != 0    -- corrupt-JSON lines the parser drops
          AND doc_id % 7 != 0     -- status 404
          AND doc_id % 5 != 0     -- mime application/pdf
          AND list_contains(string_split(
                lang || CASE WHEN doc_id % 3 = 0 THEN ',fr' ELSE '' END,
                ','), 'en')
    """


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (operators/linkgraph.anchor_terms): the
    off-page description signal — top-3 anchor terms per target host
    from real `<a href>text</a>` extraction over synthesized html.
    Pages are synthesized deterministically from `documents` (two
    absolute cross-host anchors built from the doc's own leading
    tokens, plus a relative link the extractor must skip; same-host
    anchors — every doc_id%5==0 — must be dropped by the cross-host
    filter); the oracle re-derives the expected term counts directly
    from the same formulas, so any regex/zip/filter/window defect
    mismatches."""
    from .operators.linkgraph import anchor_terms

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    t2 = F.array_join(F.slice(toks, 1, 2), " ")
    t1x = F.concat(
        F.coalesce(F.element_at(toks, 1), F.lit("")), F.lit(" extra")
    )
    host = lambda e: F.concat(F.lit("site"), (e % 10).cast("string"),  # noqa: E731
                              F.lit(".com"))
    html = F.concat(
        F.lit('<html><body><a href="https://'), host(did * 3),
        F.lit('/p">'), t2,
        F.lit('</a> mid <a href="/rel">rel skip</a><a href="https://'),
        host(did * 7), F.lit('/q">'), t1x,
        F.lit("</a></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://"), host(did), F.lit("/"),
                 did.cast("string")).alias("url"),
        html.alias("html"),
    )
    return anchor_terms(pages, k=3)


def _sql_anchor_text() -> str:
    return """
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS ts,
                   doc_id % 10 AS sh,
                   (doc_id * 3) % 10 AS a1,
                   (doc_id * 7) % 10 AS a2
            FROM documents
        ),
        anchors AS (
            SELECT 'site' || a1::VARCHAR || '.com' AS dst_host,
                   array_to_string(ts[1:2], ' ') AS anchor
            FROM base WHERE a1 != sh
            UNION ALL
            SELECT 'site' || a2::VARCHAR || '.com' AS dst_host,
                   array_to_string(ts[1:1], ' ') || ' extra' AS anchor
            FROM base WHERE a2 != sh
        ),
        terms AS (
            SELECT dst_host, t.term, count(*) AS n_anchors
            FROM anchors,
                 UNNEST(list_filter(regexp_split_to_array(anchor, '\\s+'),
                                    x -> x <> '')) AS t(term)
            GROUP BY dst_host, t.term
        )
        SELECT dst_host, term, n_anchors FROM terms
        QUALIFY row_number() OVER (
            PARTITION BY dst_host
            ORDER BY n_anchors DESC, term ASC) <= 3
    """


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL structural features (webfilters.url_features): the body-free
    inputs of URL-level quality filtering. URLs are synthesized
    deterministically from `documents` (varying path depth, query arity,
    digit-bearing vs clean hosts, a userinfo@ and a :port case); the
    oracle computes every feature closed-form from the SAME formulas —
    never the extraction regexes — so a parse defect mismatches."""
    from .operators.webfilters import url_features

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    host = F.when(
        did % 2 == 0,
        F.concat(F.lit("a"), (did % 10).cast("string"),
                 F.lit(".example.org")),
    ).otherwise(F.lit("cdn.example.org"))
    # every 7th url carries user@ and an explicit port — both stripped
    hostpart = F.when(
        did % 7 == 0, F.concat(F.lit("u:p@"), host, F.lit(":8080"))
    ).otherwise(host)
    path = F.concat(F.lit("/"), F.repeat(F.lit("s/"), (did % 6).cast("int")),
                    F.lit("page"))
    q = F.when(did % 3 == 0, F.lit("?a=1&b=2")).when(
        did % 3 == 1, F.concat(F.lit("?x="), did.cast("string"))
    ).otherwise(F.lit(""))
    pages = d.select(
        F.concat(F.lit("https://"), hostpart, path, q).alias("url"))
    return url_features(pages)


def _sql_url_features() -> str:
    return """
        WITH d AS (
            SELECT doc_id,
                   doc_id % 10 AS h, doc_id % 6 AS sd,
                   doc_id % 3 AS qm, doc_id % 2 AS even,
                   doc_id % 7 AS up
            FROM documents
        ),
        u AS (
            SELECT doc_id, sd, qm, even, up,
                   CASE WHEN even = 0
                        THEN 'a' || h::VARCHAR || '.example.org'
                        ELSE 'cdn.example.org' END AS host,
                   '/' || repeat('s/', sd) || 'page' AS path,
                   CASE WHEN qm = 0 THEN '?a=1&b=2'
                        WHEN qm = 1 THEN '?x=' || doc_id::VARCHAR
                        ELSE '' END AS q
            FROM d
        )
        SELECT 'https://'
                 || CASE WHEN up = 0 THEN 'u:p@' || host || ':8080'
                         ELSE host END
                 || path || q AS url,
               host,
               'org' AS tld,
               CAST(sd + 1 AS BIGINT) AS path_depth,
               CAST(1 + 2 * sd + 4 AS BIGINT) AS path_len,
               CAST(CASE WHEN qm = 0 THEN 2 WHEN qm = 1 THEN 1
                         ELSE 0 END AS BIGINT) AS n_params,
               even = 0 AS host_has_digit,
               CAST(2 AS BIGINT) AS host_n_dots
        FROM u
    """


def q_wat_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata derivation (sources/warc.wat_metadata): the
    link/title envelope content Common Crawl ships as WAT, parsed
    Catalyst-side. Pages are synthesized deterministically from
    `documents` (a <title>, one absolute anchor, one RELATIVE anchor —
    which WAT must keep, unlike the cross-host link graph); output is
    one row per extracted link with the page title and link count, so
    any regex/zip/explode defect mismatches the closed-form oracle."""
    from .sources.warc import wat_metadata

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    t2 = F.array_join(F.slice(toks, 1, 2), " ")
    host = lambda e: F.concat(F.lit("site"), (e % 10).cast("string"),  # noqa: E731
                              F.lit(".com"))
    html = F.concat(
        F.lit("<html><head><title>"), t2,
        F.lit('</title></head><body><a href="https://'), host(did * 3),
        F.lit('/p">'), t2,
        F.lit('</a> mid <a href="/rel">rel skip</a></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://"), host(did), F.lit("/"),
                 did.cast("string")).alias("url"),
        html.alias("html"),
    )
    meta = wat_metadata(pages)
    return meta.select(
        "url",
        "title",
        F.size("links").cast("long").alias("n_links"),
        F.explode("links").alias("l"),
    ).select(
        "url", "title", "n_links",
        F.col("l.url").alias("link_url"),
        F.col("l.text").alias("anchor"),
    )


def _sql_wat_links() -> str:
    return """
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS ts,
                   doc_id % 10 AS sh,
                   (doc_id * 3) % 10 AS a1
            FROM documents
        ),
        d AS (
            SELECT 'https://site' || sh::VARCHAR || '.com/'
                       || doc_id::VARCHAR AS url,
                   array_to_string(ts[1:2], ' ') AS title,
                   a1
            FROM base
        )
        SELECT url, title, CAST(2 AS BIGINT) AS n_links,
               'https://site' || a1::VARCHAR || '.com/p' AS link_url,
               title AS anchor
        FROM d
        UNION ALL
        SELECT url, title, CAST(2 AS BIGINT), '/rel', 'rel skip' FROM d
    """


def q_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (operators/quality.
    compression_ratio): one Arrow map-only pass, all-integer output —
    low compression_ppm flags repetitive/templated junk (CCNet/Gopher
    family).  zlib is not SQL-expressible, so the oracle is
    data-derived (the ann_ivf/bpe pattern): the SAME pure kernel
    computes the expected rows from the same parquet and embeds them
    as literals — the check pins the Spark plumbing (Arrow batching,
    NULL handling, dtypes, row coverage) rather than re-deriving the
    codec."""
    from .operators.quality import compression_ratio

    return compression_ratio(_docs(spark, sf_dir))


def _sql_compression_signal() -> str:
    import duckdb as _duck

    from .kernels.quality import compression_signals

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    rows = _duck.sql(
        f"SELECT doc_id, text FROM read_parquet('{path}')"
    ).fetchall()
    vals = ",\n            ".join(
        "({}, {}, {}, {})".format(d, *compression_signals(t))
        for d, t in rows
    )
    return f"""
        SELECT doc_id, n_bytes, n_zlib, compression_ppm
        FROM (VALUES
            {vals}
        ) v(doc_id, n_bytes, n_zlib, compression_ppm)
        JOIN documents USING (doc_id)
    """


_PR_HOSTS = 40
_PR_ITERS = 3


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic host graph: each doc contributes two
    edges h(doc_id%40) -> h((7*doc_id+3)%40) and -> h((13*doc_id+5)%40).
    Mirrored literally by the oracle; the OPERATOR takes any real
    (src_host, dst_host) DataFrame (see extract_links)."""
    d = _docs(spark, sf_dir).select("doc_id")
    m = _PR_HOSTS

    def h(expr):
        return F.concat(F.lit("h"), (expr % m).cast("string"))

    e1 = d.select(h(F.col("doc_id")).alias("src_host"),
                  h(F.col("doc_id") * 7 + 3).alias("dst_host"))
    e2 = d.select(h(F.col("doc_id")).alias("src_host"),
                  h(F.col("doc_id") * 13 + 5).alias("dst_host"))
    return e1.unionAll(e2)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (damping 17/20, 3 iterations) over
    the deterministic host graph. All arithmetic is bigint DIV/sum —
    order-free, so every partitioning and the DuckDB oracle agree
    bit-for-bit (float PageRank could not be hash-compared)."""
    from .operators.linkgraph import pagerank_hosts

    return pagerank_hosts(_pr_edges(spark, sf_dir), n_iter=_PR_ITERS)


def q_crawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization — the composition a recrawl
    scheduler actually reads: integer fixed-point PageRank over the
    host graph JOINED with each host's dominant quality tier
    (source_tier_profile), priority = rank * (dominant_tier + 1).
    All-integer, so the composed table hash-compares bit-for-bit
    against the oracle's re-derivation of BOTH inputs."""
    from .operators.linkgraph import pagerank_hosts
    from .operators.tiers import source_tier_profile

    ranks = pagerank_hosts(_pr_edges(spark, sf_dir), n_iter=_PR_ITERS)
    d = _docs(spark, sf_dir)
    hosted = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % _PR_HOSTS).cast("string"))
        .alias("source"),
        "text",
    )
    dom = source_tier_profile(hosted).where(F.col("is_dominant")).select(
        F.col("source").alias("host"),
        F.col("tier").alias("dominant_tier"),
    )
    return ranks.join(dom, "host").select(
        "host", "rank", "dominant_tier",
        (F.col("rank") * (F.col("dominant_tier") + 1)).cast("long")
        .alias("priority"),
    )


def _sql_crawl_priority() -> str:
    hosted = (f"(SELECT doc_id, 'h' || (doc_id % {_PR_HOSTS})::VARCHAR "
              f"AS source, text FROM documents)")
    return f"""
        WITH agg AS (
            SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs
            FROM ({_sql_quality_tiers(hosted)})
            GROUP BY source, tier
        ),
        dom AS (
            SELECT source AS host, tier AS dominant_tier
            FROM agg
            QUALIFY row_number() OVER (
                PARTITION BY source ORDER BY n_docs DESC, tier ASC) = 1
        )
        SELECT p.host, p.rank, d.dominant_tier,
               CAST(p.rank * (d.dominant_tier + 1) AS BIGINT) AS priority
        FROM ({_sql_host_pagerank()}) p
        JOIN dom d USING (host)
    """


def _sql_host_pagerank() -> str:
    from .operators.linkgraph import SCALE

    m = _PR_HOSTS
    it = """
        r{k} AS (
            SELECT h.host,
                   (SELECT tp FROM consts) +
                   (17 * coalesce(i.incoming, 0)) // 20 AS rank
            FROM hosts h LEFT JOIN (
                SELECT e.dst_host AS host,
                       sum(r.rank // d.out_degree)::BIGINT AS incoming
                FROM edges e
                JOIN r{p} r ON r.host = e.src_host
                JOIN deg d ON d.src_host = e.src_host
                GROUP BY e.dst_host) i ON i.host = h.host
        )"""
    iters = ",".join(it.format(k=k, p=k - 1) for k in range(1, _PR_ITERS + 1))
    return f"""
        WITH edges0 AS (
            SELECT 'h' || (doc_id % {m})::VARCHAR AS src_host,
                   'h' || ((doc_id * 7 + 3) % {m})::VARCHAR AS dst_host
            FROM documents
            UNION ALL
            SELECT 'h' || (doc_id % {m})::VARCHAR,
                   'h' || ((doc_id * 13 + 5) % {m})::VARCHAR
            FROM documents
        ),
        edges AS (
            SELECT DISTINCT src_host, dst_host FROM edges0
            WHERE src_host <> dst_host
        ),
        hosts AS (
            SELECT DISTINCT src_host AS host FROM edges
            UNION
            SELECT DISTINCT dst_host FROM edges
        ),
        deg AS (
            SELECT src_host, count(*) AS out_degree FROM edges
            GROUP BY src_host
        ),
        consts AS (
            SELECT (({SCALE} * 3) // 20)
                       // (SELECT count(*) FROM hosts) AS tp,
                   {SCALE} // (SELECT count(*) FROM hosts) AS r0
        ),
        r0 AS (SELECT host, (SELECT r0 FROM consts) AS rank FROM hosts),
        {iters}
        SELECT host, rank::BIGINT AS rank FROM r{_PR_ITERS}
    """


_SPAM_SEEDS = [f"h{i}" for i in range(8)]


def q_host_spamrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-TrustRank (Krishnan & Raj 2006): distrust seeded on 8 known
    spam hosts propagates BACKWARD along the deterministic host graph
    (a host linking into spam inherits spam mass).  Same integer
    fixed-point discipline as host_pagerank — bit-stable under any
    partitioning, hence a full value-hash oracle."""
    from .operators.linkgraph import trustrank_hosts

    seeds = spark.createDataFrame([(h,) for h in _SPAM_SEEDS], ["host"])
    return trustrank_hosts(
        _pr_edges(spark, sf_dir), seeds, n_iter=_PR_ITERS, reverse=True
    )


def _sql_host_spamrank() -> str:
    from .operators.linkgraph import SCALE

    m = _PR_HOSTS
    seed_list = ", ".join(f"'{h}'" for h in _SPAM_SEEDS)
    seed = f"h.host IN ({seed_list})"
    it = f"""
        r{{k}} AS (
            SELECT h.host,
                   (CASE WHEN {seed} THEN (SELECT tp FROM consts)
                         ELSE 0 END) +
                   (17 * coalesce(i.incoming, 0)) // 20 AS rank
            FROM hosts h LEFT JOIN (
                SELECT e.dst_host AS host,
                       sum(r.rank // d.out_degree)::BIGINT AS incoming
                FROM edges e
                JOIN r{{p}} r ON r.host = e.src_host
                JOIN deg d ON d.src_host = e.src_host
                GROUP BY e.dst_host) i ON i.host = h.host
        )"""
    iters = ",".join(it.format(k=k, p=k - 1) for k in range(1, _PR_ITERS + 1))
    return f"""
        WITH edges0 AS (
            SELECT 'h' || (doc_id % {m})::VARCHAR AS src_host,
                   'h' || ((doc_id * 7 + 3) % {m})::VARCHAR AS dst_host
            FROM documents
            UNION ALL
            SELECT 'h' || (doc_id % {m})::VARCHAR,
                   'h' || ((doc_id * 13 + 5) % {m})::VARCHAR
            FROM documents
        ),
        edges AS (
            -- Anti-TrustRank propagates along REVERSED links
            SELECT DISTINCT dst_host AS src_host, src_host AS dst_host
            FROM edges0 WHERE src_host <> dst_host
        ),
        hosts AS (
            SELECT DISTINCT src_host AS host FROM edges
            UNION
            SELECT DISTINCT dst_host FROM edges
        ),
        deg AS (
            SELECT src_host, count(*) AS out_degree FROM edges
            GROUP BY src_host
        ),
        consts AS (
            SELECT (({SCALE} * 3) // 20)
                       // (SELECT count(*) FROM hosts h WHERE {seed}) AS tp,
                   {SCALE}
                       // (SELECT count(*) FROM hosts h WHERE {seed}) AS r0
        ),
        r0 AS (
            SELECT host,
                   CASE WHEN {seed.replace("h.host", "host")}
                        THEN (SELECT r0 FROM consts) ELSE 0 END AS rank
            FROM hosts
        ),
        {iters}
        SELECT host, rank::BIGINT AS rank FROM r{_PR_ITERS}
    """


_PACK_SEQ_LEN = 2048
_PACK_BUCKETS = 16
_PACK_SEED = "pack-42"


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence-packing assignment (concatenate-then-chop at
    seq_len) within deterministic hash buckets — integer-only window
    cumsum, bit-stable under any partitioning; n_chars stands in for
    the token count at fixture scale."""
    from .operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), seq_len=_PACK_SEQ_LEN,
        n_buckets=_PACK_BUCKETS, token_count_col="n_chars",
        seed=_PACK_SEED,
    )


def _sql_sequence_packing() -> str:
    h = f"md5('{_PACK_SEED}:' || doc_id::VARCHAR)"
    bucket = f"({_SQL_MD5_LE64.format(h=h)} % {_PACK_BUCKETS})::BIGINT"
    return f"""
        WITH b AS (
            SELECT doc_id, n_chars::BIGINT AS n_tokens,
                   {bucket} AS bucket
            FROM documents
        ),
        c AS (
            SELECT *,
                   sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_offset
            FROM b
        )
        SELECT doc_id, bucket,
               (bucket * {1 << 32} + start_offset // {_PACK_SEQ_LEN})
                   ::BIGINT AS seq_id,
               (start_offset % {_PACK_SEQ_LEN})::BIGINT AS seq_offset,
               n_tokens
        FROM c
    """


_ROBOTS_AGENT = "fetchbot"
_ROBOTS_HOSTS = 12


_SHARD_N = 8
_SHARD_SEED = "shard-42"


def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard manifest: md5-le64 pseudo-
    random order, 8 shards, per-doc position and exclusive token
    offset — the metadata a resumable 100-TB shard writer needs."""
    from .operators.packing import shard_manifest

    return shard_manifest(
        _docs(spark, sf_dir), n_shards=_SHARD_N, seed=_SHARD_SEED
    )


def _sql_corpus_shards() -> str:
    h = f"md5('{_SHARD_SEED}:' || doc_id::VARCHAR)"
    key = _SQL_MD5_LE64.format(h=h)
    return f"""
        WITH base AS (
            SELECT doc_id, {key} AS skey,
                   CAST({key} % {_SHARD_N} AS INT) AS shard,
                   len(list_filter(regexp_split_to_array(
                           coalesce(text, ''), '\\s+'),
                       w -> w <> ''))::BIGINT AS n_tokens
            FROM documents
        )
        SELECT doc_id, shard,
               (row_number() OVER w - 1)::BIGINT AS pos,
               n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY skey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS start_token
        FROM base
        WINDOW w AS (PARTITION BY shard ORDER BY skey, doc_id)
    """


def _robots_txt_for(k: int) -> str:
    """Literal robots.txt body for host h{k}.example — host-dependent
    rules so the gate outcome varies across the synthetic fleet."""
    extra = "Disallow: /x$\n" if k % 4 == 0 else ""
    return (
        f"User-agent: {_ROBOTS_AGENT}\n"
        f"Disallow: /sec{k % 3}\n"
        f"Allow: /sec{k % 3}/pub*\n"
        f"{extra}"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp/*.bak$\n"
    )


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots gating: the REAL Arrow parse kernel parses a
    synthesized per-host robots fleet; matching is native per-row LIKE
    (no Python); precedence is longest-pattern-then-Allow via one
    window. The oracle embeds the SAME kernel's parse of the same
    literal bodies as rule literals (compile-time constants)."""
    from .operators.robots import parse_robots_rules, robots_gate

    d = _docs(spark, sf_dir).select("doc_id")
    m = F.col("doc_id") % _ROBOTS_HOSTS
    host = F.concat(F.lit("h"), m.cast("string"), F.lit(".example"))
    sec = (m % 3).cast("string")
    path = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("/sec"), sec, F.lit("/a")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("/sec"), sec, F.lit("/pubz")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("/sec"), ((m + 1) % 3).cast("string"),
                       F.lit("/a")))
        .when(F.col("doc_id") % 6 == 3, F.lit("/x"))
        .when(F.col("doc_id") % 6 == 4, F.lit("/xy"))
        .otherwise(F.lit(""))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, path,
                 F.lit("?id="), F.col("doc_id").cast("string"))
        .alias("url"),
        host.alias("host"),
    )
    robots = spark.createDataFrame(
        [(f"h{k}.example", _robots_txt_for(k))
         for k in range(_ROBOTS_HOSTS)],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots, agent=_ROBOTS_AGENT)
    return robots_gate(urls, rules)


def _sql_robots_gate() -> str:
    from .kernels.robots import (
        parse_robots,
        pattern_to_like,
        rules_for_agent,
    )

    rows = []
    for k in range(_ROBOTS_HOSTS):
        groups = parse_robots(_robots_txt_for(k))
        for allow, pattern in rules_for_agent(groups, _ROBOTS_AGENT):
            like = pattern_to_like(pattern).replace("'", "''")
            rows.append(
                f"('h{k}.example', {str(bool(allow)).upper()}, "
                f"'{like}', {len(pattern)})"
            )
    values = ",\n            ".join(rows)
    return f"""
        WITH rules(host, allow, like_pattern, pattern_len) AS (VALUES
            {values}
        ),
        urls AS (
            SELECT doc_id,
                'https://h' || (doc_id % {_ROBOTS_HOSTS})::VARCHAR
                 || '.example' ||
                CASE doc_id % 6
                  WHEN 0 THEN '/sec' || ((doc_id % {_ROBOTS_HOSTS}) % 3)
                                            ::VARCHAR || '/a'
                  WHEN 1 THEN '/sec' || ((doc_id % {_ROBOTS_HOSTS}) % 3)
                                            ::VARCHAR || '/pubz'
                  WHEN 2 THEN '/sec' ||
                       (((doc_id % {_ROBOTS_HOSTS}) + 1) % 3)::VARCHAR
                       || '/a'
                  WHEN 3 THEN '/x'
                  WHEN 4 THEN '/xy'
                  ELSE ''
                END || '?id=' || doc_id::VARCHAR AS url,
                'h' || (doc_id % {_ROBOTS_HOSTS})::VARCHAR
                 || '.example' AS host
            FROM documents
        ),
        withp AS (
            SELECT *,
                CASE WHEN regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                     THEN '/'
                     ELSE regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                END AS p
            FROM urls
        ),
        joined AS (
            SELECT w.doc_id, w.url, w.host, r.allow, r.pattern_len,
                   (w.p LIKE r.like_pattern ESCAPE '\\') AS hit
            FROM withp w LEFT JOIN rules r ON r.host = w.host
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY url
                       ORDER BY pattern_len DESC, allow DESC) AS rn
            FROM joined WHERE hit IS NULL OR hit
        ),
        best AS (
            SELECT url,
                   coalesce(allow, TRUE) AS allowed,
                   coalesce(CASE WHEN hit THEN pattern_len END, 0)
                       AS matched_len
            FROM ranked WHERE rn = 1
        )
        SELECT u.doc_id, u.url, u.host,
               coalesce(b.allowed, TRUE) AS allowed,
               coalesce(b.matched_len, 0)::INT AS matched_len
        FROM urls u LEFT JOIN best b ON b.url = u.url
    """


_CURATED_MIX_BUDGET = 4000  # tokens; binding at sf0.01, clamped at sf0.001


def q_corpus_curated_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production path as one oracled query: the curation
    funnel (gates -> exact dedup -> near-dup canonical) composed with
    the r5 tail — GPT-3 13-gram decontamination against eval slices,
    then the deterministic alpha=0.5 temperature sample down to a token
    budget, stratified by detected language."""
    from .operators.contamination import _token_array, decontaminate
    from .operators.sampling import temperature_sample

    kept = _curated_kept(spark, sf_dir)
    slices = _docs(spark, sf_dir).where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1000).alias("eval_id"),
        F.array_join(
            F.slice(_token_array(F.col("text")), 1, _CONTAM_SLICE), " "
        ).alias("text"),
    )
    clean = decontaminate(kept, slices, n=_CONTAM_N)
    stats = ts.document_stats(clean).select(
        "doc_id", F.col("lang_guess").alias("lang"), "n_tokens"
    )
    sampled = temperature_sample(
        clean.join(stats, "doc_id"),
        "lang", _CURATED_MIX_BUDGET,
        token_count_col="n_tokens", seed="curate-mix-42",
    )
    return sampled.select("doc_id", F.md5("text").alias("content_hash"))


def _sql_corpus_curated_sampled() -> str:
    n = _CONTAM_N
    toks = ("list_filter(regexp_split_to_array(lower(coalesce({t}, '')),"
            " '\\s+'), t -> t <> '')")
    h = "md5('curate-mix-42:' || doc_id::VARCHAR)"
    bucket = _SQL_MD5_LE64.format(h=h) + " % 1000000"
    b = float(_CURATED_MIX_BUDGET)
    return f"""
        {_sql_curated_ctes()},
        kept AS MATERIALIZED (
            SELECT k.doc_id, k.text
            FROM exact_keep k JOIN comp USING (doc_id)
            WHERE comp.group_id = k.doc_id
        ),
        kbase AS (SELECT doc_id, {toks.format(t='text')} AS kts FROM kept),
        kwins AS (
            SELECT DISTINCT doc_id,
                   array_to_string(kts[g.p + 1 : g.p + {n}], ' ') AS gram
            FROM kbase, UNNEST(generate_series(0, len(kts) - {n})) AS g(p)
            WHERE len(kts) >= {n}
        ),
        ebase AS (
            SELECT doc_id + 1000 AS eval_id,
                   ({toks.format(t='text')})[1:{_CONTAM_SLICE}] AS ets
            FROM documents WHERE doc_id % 37 = 0
        ),
        egrams AS (
            SELECT DISTINCT
                   array_to_string(ets[g.p + 1 : g.p + {n}], ' ') AS gram
            FROM ebase, UNNEST(generate_series(0, len(ets) - {n})) AS g(p)
            WHERE len(ets) >= {n}
        ),
        dirty AS (
            SELECT DISTINCT k.doc_id FROM kwins k JOIN egrams USING (gram)
        ),
        clean AS MATERIALIZED (
            SELECT kept.* FROM kept ANTI JOIN dirty USING (doc_id)
        ),
        cstats AS MATERIALIZED ({_sql_doc_stats(src="clean")}),
        per AS (
            SELECT lang_guess AS stratum, sum(n_tokens)::BIGINT AS t_tokens
            FROM cstats GROUP BY lang_guess
        ),
        wq AS (
            SELECT *, CAST(floor(sqrt(t_tokens::DOUBLE) * 1000000.0)
                           AS BIGINT) AS w_ppm
            FROM per
        ),
        totq AS (SELECT *, sum(w_ppm) OVER () AS total_w FROM wq),
        rates AS (
            SELECT stratum,
                   CAST(floor(least(1.0,
                        ({b} * w_ppm::DOUBLE)
                        / (total_w::DOUBLE * t_tokens::DOUBLE))
                        * 1000000.0) AS BIGINT) AS rate_ppm
            FROM totq
        ),
        keyed AS (
            SELECT c.doc_id, c.text, s.lang_guess, {bucket} AS bkt
            FROM clean c JOIN cstats s USING (doc_id)
        )
        SELECT k.doc_id, md5(k.text) AS content_hash
        FROM keyed k JOIN rates r ON r.stratum = k.lang_guess
        WHERE k.bkt < r.rate_ppm
    """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_RAW_QUERIES = {
    "doc_stats": q_doc_stats,
    "lm_perplexity": q_lm_perplexity,
    "perplexity_tiers": q_perplexity_tiers,
    "tier_agreement": q_tier_agreement,
    "lang_classifier": q_lang_classifier,
    "quality_classifier": q_quality_classifier,
    "doc_quality": q_doc_quality,
    "c4_filtered": q_c4_filtered,
    "pii_redaction": q_pii_redaction,
    "url_dedup": q_url_dedup,
    "lang_distribution": q_lang_distribution,
    "paragraph_langs": q_paragraph_langs,
    "lang_confusion": q_lang_confusion,
    "crawl_priority": q_crawl_priority,
    "quality_tiers": q_quality_tiers,
    "tier_rollup": q_tier_rollup,
    "source_cap": q_source_cap,
    "source_tier_profile": q_source_tier_profile,
    "tier_drift": q_tier_drift,
    "host_templates": q_host_templates,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "repeated_passages": q_repeated_passages,
    "line_dedup": q_line_dedup,
    "criteria_validation": q_criteria_validation,
    "document_status": q_document_status,
    "dedup_groups": q_dedup_groups,
    "dedup_canonical": q_dedup_canonical,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap": q_winnow_overlap,
    "winnow_pairs": q_winnow_pairs,
    "corpus_curated": q_corpus_curated,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "ann_brute_topk": q_ann_brute_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_neardup": q_embedding_neardup,
    "semdedup": q_semdedup,
    "dsir_weights": q_dsir_weights,
    "events_metering": q_events_metering,
    "metering_costs": q_metering_costs,
    "events_windowed": q_events_windowed,
    "events_props": q_events_props,
    "revenue_by_nation": q_revenue_by_nation,
    "pricing_summary": q_pricing_summary,
    "part_type_revenue": q_part_type_revenue,
    "extract_main_content": q_extract_main_content,
    "extract_office": q_extract_office,
    "extract_xls": q_extract_xls,
    "extract_rtf": q_extract_rtf,
    "extract_doc": q_extract_doc,
    "charset_transcode": q_charset_transcode,
    "html_meta": q_html_meta,
    "sentence_segments": q_sentence_segments,
    "sentence_chunks": q_sentence_chunks,
    "sitemap_entries": q_sitemap_entries,
    "sitemap_fetchlist": q_sitemap_fetchlist,
    "feed_entries": q_feed_entries,
    "fetch_schedule": q_fetch_schedule,
    "page_dates": q_page_dates,
    "recency_mix": q_recency_mix,
    "ocr_table_markdown": q_ocr_table_markdown,
    "extract_real_pdf": q_extract_real_pdf,
    "image_meta": q_image_meta,
    "image_resize": q_image_resize,
    "image_resize_jpeg": q_image_resize_jpeg,
    "image_resize_multi": q_image_resize_multi,
    "image_resize_webp": q_image_resize_webp,
    "audio_features": q_audio_features,
    "media_meta_av": q_media_meta_av,
    "extract_csv": q_extract_csv,
    "warc_extract": q_warc_extract,
    "warc_revisits": q_warc_revisits,
    "sectioning": q_sectioning,
    "sectioning_holistic": q_sectioning_holistic,
    "section_attributes": q_section_attributes,
    "classify_majority_vote": q_classify_majority_vote,
    "eval_metrics": q_eval_metrics,
    "flatten_confidence": q_flatten_confidence,
    "eval_report": q_eval_report,
    "eval_hungarian": q_eval_hungarian,
    "eval_semantic": q_eval_semantic,
    "assessment_alerts": q_assessment,
    "assessment_granular": q_assessment_granular,
    "assessment_geometry": q_assessment_geometry,
    "section_summaries": q_section_summaries,
    "document_markdown": q_document_markdown,
    "summary_markdown": q_summary_markdown,
    "doc_word_stats": q_doc_word_stats,
    "badword_filter": q_badword_filter,
    "domain_stats": q_domain_stats,
    "domain_filter": q_domain_filter,
    "incremental_dedup": q_incremental_dedup,
    "mojibake_repair": q_mojibake_repair,
    "substring_dedup": q_substring_dedup,
    "bm25_search": q_bm25_search,
    "script_profile": q_script_profile,
    "doc_percentiles": q_doc_percentiles,
    "decontamination": q_decontamination,
    "stratified_sample": q_stratified_sample,
    "temperature_mix": q_temperature_mix,
    "tier_mix": q_tier_mix,
    "host_split": q_host_split,
    "bpe_tokenize": q_bpe_tokenize,
    "bpe_roundtrip": q_bpe_roundtrip,
    "cdx_select": q_cdx_select,
    "capture_policy": q_capture_policy,
    "anchor_text": q_anchor_text,
    "wat_links": q_wat_links,
    "url_features": q_url_features,
    "compression_signal": q_compression_signal,
    "host_pagerank": q_host_pagerank,
    "host_spamrank": q_host_spamrank,
    "sequence_packing": q_sequence_packing,
    "corpus_shards": q_corpus_shards,
    "robots_gate": q_robots_gate,
    "corpus_curated_sampled": q_corpus_curated_sampled,
}

QUERIES = {name: _wrap(fn) for name, fn in _RAW_QUERIES.items()}


def oracles() -> dict[str, str]:
    out = {
        "doc_stats": _sql_doc_stats(),
        "lm_perplexity": _sql_lm_perplexity(),
        "perplexity_tiers": _sql_perplexity_tiers(),
        "tier_agreement": _sql_tier_agreement(),
        "lang_classifier": _sql_lang_classifier(),
        "doc_quality": _sql_doc_quality(),
        "c4_filtered": _sql_c4_filtered(),
        "pii_redaction": _sql_pii_redaction(),
        "url_dedup": _sql_url_dedup(),
        "lang_distribution": _sql_lang_distribution(),
        "paragraph_langs": _sql_paragraph_langs(),
        "lang_confusion": _sql_lang_confusion(),
        "crawl_priority": _sql_crawl_priority(),
        "quality_tiers": _sql_quality_tiers(),
        "tier_rollup": _sql_tier_rollup(),
        "source_cap": _sql_source_cap(),
        "source_tier_profile": _sql_source_tier_profile(),
        "tier_drift": _sql_tier_drift(),
        "host_templates": _sql_host_templates(),
        "dedup_exact": _sql_dedup_exact(),
        "dedup_ngram_jaccard": _sql_dedup_ngram_jaccard(),
        "repeated_passages": _sql_repeated_passages(),
        "line_dedup": _sql_line_dedup(),
        "criteria_validation": _sql_criteria_validation(),
        "document_status": _sql_document_status(),
        "dedup_groups": _sql_dedup_groups(),
        "dedup_canonical": _sql_dedup_canonical(),
        "winnow_fingerprints": _sql_winnow_fingerprints(),
        "winnow_overlap": _sql_winnow_overlap(),
        "winnow_pairs": _sql_winnow_pairs(),
        "corpus_curated": _sql_corpus_curated(),
        # same pair-truth SQL with the documented boundary guard band:
        # J=0.800000 (quantized) excluded on both sides — see
        # q_dedup_minhash docstring
        "dedup_minhash_lsh": _sql_dedup_ngram_jaccard("> 0.8000005"),
        "dedup_simhash": _sql_dedup_simhash(),
        "ann_brute_topk": _sql_ann_brute_topk(),
        "embedding_neardup": _sql_embedding_neardup(),
        "dsir_weights": _sql_dsir_weights(),
        "events_metering": _sql_events_metering(),
        "metering_costs": _sql_metering_costs(),
        "events_windowed": _sql_events_windowed(),
        "events_props": _sql_events_props(),
        "revenue_by_nation": _sql_revenue_by_nation(),
        "pricing_summary": _sql_pricing_summary(),
        "part_type_revenue": _sql_part_type_revenue(),
        "extract_main_content": _sql_extract_main_content(),
        "extract_office": _sql_extract_office(),
        "extract_xls": _sql_extract_xls(),
        "extract_rtf": _sql_extract_rtf(),
        "charset_transcode": _sql_charset_transcode(),
        "html_meta": _sql_html_meta(),
        "sentence_segments": _sql_sentence_segments(),
        "sentence_chunks": _sql_sentence_chunks(),
        "sitemap_entries": _sql_sitemap_entries(),
        "sitemap_fetchlist": _sql_sitemap_fetchlist(),
        "feed_entries": _sql_feed_entries(),
        "fetch_schedule": _sql_fetch_schedule(),
        "page_dates": _sql_page_dates(),
        "recency_mix": _sql_recency_mix(),
        "extract_doc": _sql_extract_doc(),
        "ocr_table_markdown": _sql_ocr_table_markdown(),
        "extract_real_pdf": _sql_extract_real_pdf(),
        "image_meta": _sql_image_meta(),
        "image_resize": _sql_image_resize(),
        "image_resize_jpeg": _sql_image_resize_jpeg(),
        "image_resize_multi": _sql_image_resize_multi(),
        "image_resize_webp": _sql_image_resize_webp(),
        "audio_features": _sql_audio_features(),
        "media_meta_av": _sql_media_meta_av(),
        "extract_csv": _sql_extract_csv(),
        "warc_extract": _sql_warc_extract(),
        "warc_revisits": _sql_warc_revisits(),
        "sectioning": _sql_sectioning(),
        "sectioning_holistic": _sql_sectioning_holistic(),
        "section_attributes": _sql_section_attributes(),
        "classify_majority_vote": _sql_classify_majority_vote(),
        "eval_metrics": _sql_eval_metrics(),
        "flatten_confidence": _sql_flatten_confidence(),
        "eval_report": _sql_eval_report(),
        "assessment_alerts": _sql_assessment(),
        "assessment_granular": _sql_assessment_granular(),
        "assessment_geometry": _sql_assessment_geometry(),
        "section_summaries": _sql_section_summaries(),
        "document_markdown": _sql_document_markdown(),
        "summary_markdown": _sql_summary_markdown(),
        "eval_hungarian": _sql_eval_hungarian(),
        "eval_semantic": _sql_eval_semantic(),
        "doc_word_stats": _sql_doc_word_stats(),
        "badword_filter": _sql_badword_filter(),
        "domain_stats": _sql_domain_stats(),
        "domain_filter": _sql_domain_filter(),
        "incremental_dedup": _sql_incremental_dedup(),
        "mojibake_repair": _sql_mojibake_repair(),
        "substring_dedup": _sql_substring_dedup(),
        "bm25_search": _sql_bm25_search(),
        "script_profile": _sql_script_profile(),
        "doc_percentiles": _sql_doc_percentiles(),
        "decontamination": _sql_decontamination(),
        "stratified_sample": _sql_stratified_sample(),
        "temperature_mix": _sql_temperature_mix(),
        "tier_mix": _sql_tier_mix(),
        "host_split": _sql_host_split(),
        "host_pagerank": _sql_host_pagerank(),
        "host_spamrank": _sql_host_spamrank(),
        "sequence_packing": _sql_sequence_packing(),
        "corpus_shards": _sql_corpus_shards(),
        "robots_gate": _sql_robots_gate(),
        "bpe_roundtrip": _sql_bpe_roundtrip(),
        "cdx_select": _sql_cdx_select(),
        "capture_policy": _sql_capture_policy(),
        "anchor_text": _sql_anchor_text(),
        "wat_links": _sql_wat_links(),
        "url_features": _sql_url_features(),
        "corpus_curated_sampled": _sql_corpus_curated_sampled(),
        # ANN oracles: the bucketing/probing is deterministic given the
        # seed, so DuckDB re-derives it in full (hyperplanes embedded as
        # literals; IVF centroids re-derived by the shared pure kernel)
        "ann_lsh_topk": _sql_ann_lsh_topk(),
    }
    try:
        # data-derived oracle: reads the sf0.01 embeddings parquet to
        # re-derive centroids — if that environment-dependent read ever
        # fails, ONLY this entry degrades (to the rows-only check), never
        # the whole oracle registry
        out["ann_ivf_topk"] = _sql_ann_ivf_topk()
    except Exception:  # noqa: BLE001 — registry must survive env gaps
        pass
    try:
        # data-derived like ann_ivf: same shared-kernel centroids
        out["semdedup"] = _sql_semdedup()
    except Exception:  # noqa: BLE001 — registry must survive env gaps
        pass
    try:
        # data-derived: weak labels + softmax weights re-derived by the
        # shared pure kernels from the same parquet sample
        out["quality_classifier"] = _sql_quality_classifier()
    except Exception:  # noqa: BLE001 — registry must survive env gaps
        pass
    try:
        # data-derived like ann_ivf: re-trains the BPE merges from the
        # same word-frequency table via the shared pure kernel
        out["bpe_tokenize"] = _sql_bpe_tokenize()
    except Exception:  # noqa: BLE001 — registry must survive env gaps
        pass
    try:
        # data-derived: zlib is not SQL-expressible; the shared pure
        # kernel embeds the expected integers as literals
        out["compression_signal"] = _sql_compression_signal()
    except Exception:  # noqa: BLE001 — registry must survive env gaps
        pass
    return out
