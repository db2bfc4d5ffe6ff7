"""Unit tests for the corpus-curation operators (operators/corpusops.py):
Gopher repetition metrics, PII scrub, DSIR importance, mixture planning,
and IVF-Flat ANN. The registered queries carry the DuckDB oracle replay;
these tests pin the operator-level semantics on planted fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators import corpusops as C
from thuvienphapluat_crawler_spark.operators import similarity as S
from thuvienphapluat_crawler_spark.operators import textstats as T

SF = "/root/testdata/sf0.001"


def test_repetition_metrics_flags_planted_repeats(spark):
    # the clean doc must be realistic-length: Gopher counts top-n-gram
    # coverage even at cnt=1 (datatrove semantics), so on a ~14-token doc
    # a single 4-gram already exceeds the 16% threshold — the filter is
    # meant for post-min-length docs, so plant one with 64 distinct words
    clean = " ".join(f"w{i:02d}" for i in range(64))
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, "spam ham " * 30),
            (3, "one two three four five six " * 10),  # duplicated 5-grams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in C.repetition_metrics(docs).collect()}
    assert rows[1].keep, rows[1]
    # doc 2: "spam ham" covers nearly every bigram slot -> far over 20%
    assert not rows[2].keep and rows[2].top2_bp > C.TOP_NGRAM_MAX_BP[2], rows[2]
    # doc 3: every 5-gram occurs >= 2x -> dup5 coverage ~100%
    assert rows[3].dup5_bp > C.DUP_5GRAM_MAX_BP, rows[3]


def test_repetition_metrics_short_doc_is_empty_not_crash(spark):
    docs = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    row = C.repetition_metrics(docs).collect()[0]
    assert (row.top2_bp, row.dup5_bp, row.keep) == (0, 0, True)


def test_split_tokens_equals_spark_tokens(spark):
    # Spark's trim strips only U+0020 and Java's \s is [ \t\n\x0B\f\r]:
    # the other whitespace must neither be trimmed nor split on
    texts = [
        "", "   ", "\nlead", "trail\n", "\n both \n", "a\tb", "a\x0bb", "a\fb",
        "a\rb", "a\u00a0b", "\u00a0edge\u00a0", "a\u3000b", "\t x \x0b\f\r y \t",
        "  Điều 1. Phạm vi  điều chỉnh\n\nNghị định số 15/2020/NĐ-CP  ",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = dict(docs.select("i", T.tokens(F.col("text"))).collect())
    for i, text in enumerate(texts):
        assert T.split_tokens(text) == got[i], repr(text)


def test_repetition_metrics_pins_null_ties_and_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, None),
            # "bb a" and "c d" both occur twice: the tie goes to the smaller
            # gram, so 8 characters are covered, not 6
            (2, "bb a bb a c d c d"),
            # overlapping grams count their shared characters again: > 100%
            (3, "aa aa aa aa aa aa"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: tuple(r) for r in C.repetition_metrics(docs).collect()}
    assert rows == {
        1: (1, None, 0, 0, 0, 0, True),
        2: (2, 17, 4705, 3529, 4705, 0, False),
        3: (3, 17, 14705, 18823, 19411, 16470, False),
    }


def test_repetition_metrics_plan_has_no_exchange(spark):
    # the rules only read one document's own grams: nothing to shuffle
    docs = spark.createDataFrame([(1, "a b a b"), (2, "c d c d")], "doc_id long, text string")
    out = C.repetition_metrics(docs)
    out.collect()
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_pii_scrub_counts_and_redacts(spark):
    docs = spark.createDataFrame(
        [
            (1, "write to alice.w@corp.example.org or bob@ex.io please"),
            (2, "call 555-0199 or 555-12345 now"),  # 2nd: 5 digits -> \b fails
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in C.pii_scrub(docs).collect()}
    assert rows[1].n_emails == 2 and "[EMAIL]" in rows[1].cleaned
    assert "alice" not in rows[1].cleaned and "bob@ex.io" not in rows[1].cleaned
    assert rows[2].n_phones == 1 and "[PHONE]" in rows[2].cleaned
    assert "555-0199" not in rows[2].cleaned and "555-12345" in rows[2].cleaned
    assert rows[3].n_emails == 0 and rows[3].cleaned == "nothing sensitive here"


def test_pii_scrub_is_case_insensitive(spark):
    # ADVICE r05: lowercase-only EMAIL_RE let 'Alice.W@Corp.example.org'
    # escape redaction entirely
    docs = spark.createDataFrame(
        [(1, "mail Alice.W@Corp.example.ORG or LEGAL@EX.IO today")],
        "doc_id long, text string",
    )
    row = C.pii_scrub(docs).collect()[0]
    assert row.n_emails == 2
    assert "Alice" not in row.cleaned and "LEGAL@" not in row.cleaned
    assert row.cleaned.count("[EMAIL]") == 2


def test_importance_score_prefers_target_like_docs(spark):
    # target slice speaks (aa bb); off-target speaks (zz yy); probe docs
    # share vocabulary with one side only
    docs = spark.createDataFrame(
        [(i, "aa bb aa bb", "en") for i in range(5)]
        + [(10 + i, "zz yy zz yy", "xx") for i in range(5)]
        + [(100, "aa bb", "xx"), (101, "zz yy", "en")],
        "doc_id long, text string, lang string",
    )
    scored = {
        r.doc_id: r
        for r in C.importance_score(docs, F.col("lang") == "en").collect()
    }
    # doc 100 uses exclusively en-slice vocabulary -> high score;
    # doc 101 uses vocabulary that is mostly off-target -> low score
    assert scored[100].score_ppm > scored[101].score_ppm, (scored[100], scored[101])
    assert scored[100].n_tokens == 2 and scored[100].all_hits > 0


def test_mixture_plan_equalizes_to_floor_domain(spark):
    docs = spark.createDataFrame(
        [(i, "w " * 10, "big") for i in range(10)]
        + [(100 + i, "w " * 10, "small") for i in range(2)],
        "doc_id long, text string, lang string",
    )
    plan = {r.domain: r for r in C.mixture_plan(docs, "lang").collect()}
    assert plan["small"].rate_bp == 10000  # floor domain kept whole
    assert plan["big"].rate_bp == 2000  # 20/100 tokens
    assert plan["big"].planned_tokens == plan["small"].n_tokens
    for r in plan.values():
        assert r.planned_tokens <= r.n_tokens


def test_ivf_with_all_lists_probed_equals_brute_force(spark):
    """nprobe == K means every inverted list is searched -> IVF must
    reproduce the exact brute-force top-k, candidate layout and all."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ids = [0, 5, 9]
    exact = S.brute_force_topk(emb, ids, k=5).orderBy("query_id", "rank").collect()
    ivf = (
        C.ivf_topk(emb, ids, k=5, nprobe=C.IVF_K)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in ivf] == [tuple(r) for r in exact]


def test_ivf_default_nprobe_recall(spark):
    """At nprobe=3 of K=16 lists, IVF scans ~3/16 of the corpus; recall
    against brute force should still clear 0.4 on the test vectors."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ids = list(range(10))
    exact = S.brute_force_topk(emb, ids, k=5).collect()
    approx = C.ivf_topk(emb, ids, k=5).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_lloyd_step_moves_centroids_toward_list_means(spark):
    """r06: one distributed k-means iteration over the first-K seeds.
    The trained centroid of each non-empty list must equal the
    integer-exact mean (sum(round(x*1e6))/(n*1e6)) of its members under
    the SEED assignment — verified independently in numpy."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = C._centroids(emb, "vec_id", "embedding", lloyd_steps=0)
    trained = C._centroids(emb, "vec_id", "embedding", lloyd_steps=1)
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    seed_mat = np.array([ce for _, ce in seeds])

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    members: dict[int, list[np.ndarray]] = {}
    for vid, v in vecs.items():
        sims = [cos(v, c) for c in seed_mat]
        best = max(range(len(sims)), key=lambda i: (sims[i], -i))
        members.setdefault(best, []).append(v)
    for idx, (cid, ce) in enumerate(trained):
        if idx in members:
            m = np.stack(members[idx])
            # HALF_UP rounding to match Spark/DuckDB round()
            q = np.floor(np.abs(m) * 1e6 + 0.5) * np.sign(m)
            want = q.sum(axis=0) / (len(m) * 1e6)
            assert np.array_equal(np.array(ce), want), f"cid {cid}"
        else:
            assert ce == list(seed_mat[idx]), f"empty list {cid} must keep seed"
    assert any(
        t != s for (_, t), (_, s) in zip(trained, seeds)
    ), "training changed nothing — assignment or mean step is dead"
