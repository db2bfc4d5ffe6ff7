"""Training-corpus curation operators beyond the reference's own surface
(the brief's "operations a large-scale training-data pipeline would
need"): Gopher-style repetition filtering, PII scrubbing, DSIR-style
importance scoring, domain-mixture planning, and IVF-Flat ANN.

All metrics that cross the Spark/DuckDB oracle boundary are INTEGER-exact
(basis points / ppm via bigint floor-division) — no float aggregation
parity risk. Cosine similarities follow the established similarity.py
contract: float64 fold in index order, rounded to 6dp before any argmax/
rank, ties broken on ids, so `list_inner_product` replays them
bit-for-bit.

Reference analogue: the crawler has no corpus-curation stage at all —
these operators are the additive half of the brief (dedup/quality/
sampling already landed r03-r04; this module adds repetition rules
[Rae et al., Gopher, arXiv:2112.11446 §A1.1], PII redaction, importance
resampling [Xie et al., DSIR, arXiv:2302.03169], mixture weighting, and
the IVF coarse-quantizer ANN layout [Johnson et al., faiss]).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rowmap import flat_map_rows
from .similarity import _dot, _topk_by_cosine, as_double, doubles_sql
from .textstats import split_tokens, tokens

# ---------------------------------------------------------------------------
# Gopher repetition rules


# Gopher §A1.1 repetition thresholds (basis points of characters):
# top 2-gram <= 0.20, top 3-gram <= 0.18, top 4-gram <= 0.16,
# characters in duplicated 5-grams <= 0.15.
TOP_NGRAM_MAX_BP = {2: 2000, 3: 1800, 4: 1600}
DUP_5GRAM_MAX_BP = 1500


def _repetition_row(doc_id, text):
    """One output row of `repetition_metrics` for one document."""
    if text is None:
        yield doc_id, None, 0, 0, 0, 0, True
        return
    toks = split_tokens(text)
    base_chars = len(" ".join(toks))
    bps = []
    for n in (2, 3, 4, 5):
        counts = Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        if n == 5:
            cov = sum(c * len(g) for g, c in counts.items() if c >= 2)
        elif counts:
            # code-point order of the gram = Spark's binary string order
            c, g = min((-c, g) for g, c in counts.items())
            cov = -c * len(g)
        else:
            cov = 0
        bps.append(cov * 10000 // max(base_chars, 1))
    top2, top3, top4, dup5 = bps
    keep = (
        top2 <= TOP_NGRAM_MAX_BP[2]
        and top3 <= TOP_NGRAM_MAX_BP[3]
        and top4 <= TOP_NGRAM_MAX_BP[4]
        and dup5 <= DUP_5GRAM_MAX_BP
    )
    yield doc_id, base_chars, top2, top3, top4, dup5, keep


def repetition_metrics(docs: DataFrame, order: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc Gopher repetition metrics, integer-exact:

      top{2,3,4}_bp — characters covered by the single most frequent
          word n-gram (count x len(gram), most-frequent ties broken by
          lexicographically smallest gram), in basis points of the
          whitespace-canonical text length;
      dup5_bp — characters covered by ALL 5-grams occurring >= 2 times;
      keep — true iff every metric is within its Gopher threshold.

    Basis points are integer floor division, never float division then
    cast: CAST(double AS BIGINT) truncates in Spark but rounds in DuckDB.

    Scale shape: the rules only ever look at one document's own
    n-grams, so they run as one per-row pass over (doc_id, text) in the
    scan stage: tokenize once (`split_tokens`, the row-side twin of
    `textstats.tokens`), count one gram size at a time, emit one row.
    No shuffle and no checkpoint: at 100 TB it is one scan-side pass,
    and per-task state is one document's counter of one gram size. With
    `order`, the rows come sorted by it (flat_map_rows' `order`: one
    range exchange of the input, then a per-partition sort).
    """
    id_type = docs.schema["doc_id"].dataType.simpleString()
    return flat_map_rows(
        docs.select("doc_id", "text"),
        _repetition_row,
        f"doc_id {id_type}, base_chars bigint, top2_bp bigint, top3_bp bigint, "
        "top4_bp bigint, dup5_bp bigint, keep boolean",
        order,
    )


# ---------------------------------------------------------------------------
# PII scrubbing

# Dialect-portable patterns (no lookarounds — RE2-safe; greedy classes give
# the same leftmost match under Java's leftmost-first and RE2's
# leftmost-longest because the alternatives are disjoint). Explicit
# [A-Za-z…] classes, not (?i): 'Alice.W@Corp.example.ORG' must redact —
# a lowercase-only email scrub is a PII hole (ADVICE r05).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phones from a text column: adds n_emails, n_phones
    and cleaned (matches replaced with [EMAIL]/[PHONE] markers). Pure
    scan-side regexp columns — zero shuffles, codegen-friendly."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint"),
            "n_phones": F.regexp_count(t, F.lit(PHONE_RE)).cast("bigint"),
            "cleaned": F.regexp_replace(
                F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
            ),
        }
    )


# ---------------------------------------------------------------------------
# DSIR-style importance scoring


def importance_score(docs: DataFrame, target: Column) -> DataFrame:
    """Data-selection importance score (DSIR-shaped, integer-exact): how
    much a doc's unigram profile looks like a target slice. The vocab
    table carries, per token, its corpus count and its count within the
    target slice; a doc's score is

        score_ppm = floor(1e6 * sum(tgt_cnt over doc tokens)
                              / sum(all_cnt over doc tokens))

    — exact bigint arithmetic, no log-likelihood floats to disagree on.
    DSIR proper hashes features into 2^20 buckets precisely so this
    vocab side stays small at web scale; here the raw vocab IS small,
    and the hash-bucket swap is a one-line change to the groupBy key.

    Scale shape: vocab = one groupBy(token) with conditional counts
    (map-side combine), then broadcast; doc tokens meet it in a
    broadcast-hash join — the corpus never shuffles pre-aggregation;
    the only corpus shuffle is the per-doc sum on doc_id.
    """
    toks = docs.select(
        "doc_id", target.alias("is_tgt"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("all_cnt"),
        F.count_if(F.col("is_tgt")).alias("tgt_cnt"),
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("tgt_cnt").cast("bigint").alias("tgt_hits"),
            F.sum("all_cnt").cast("bigint").alias("all_hits"),
        )
    )
    return per_doc.withColumn(
        "score_ppm", F.expr("(tgt_hits * 1000000) div all_hits").cast("bigint")
    )


# ---------------------------------------------------------------------------
# Domain-mixture planning


def mixture_plan(docs: DataFrame, group_col: str = "lang") -> DataFrame:
    """Uniform-rebalancing mixture plan over a domain column: every
    domain is downsampled to the token count of the SMALLEST domain
    (rate capped at 1x — never upsample), yielding an equal-weight
    mixture. rate_bp / planned_tokens are integer-exact (bigint div).

    Scale shape: one groupBy(domain) with map-side combine reduces
    100 TB to a k-row table (k = #domains); the global min runs as an
    empty-frame window over those k rows — a single-partition exchange
    of k narrow rows, not of the corpus. Temperature-scaled mixtures
    (rate ∝ count^(α-1), Conneau et al. XLM-R) swap one expression."""
    from pyspark.sql import Window

    by = docs.groupBy(F.col(group_col).alias("domain")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    floor_tok = F.min("n_tokens").over(Window.partitionBy())
    return (
        by.withColumn("floor_tokens", floor_tok)
        .selectExpr(
            "domain",
            "n_docs",
            "n_tokens",
            "(floor_tokens * 10000) div n_tokens AS rate_bp",
            "(n_tokens * ((floor_tokens * 10000) div n_tokens)) div 10000"
            " AS planned_tokens",
        )
    )


# ---------------------------------------------------------------------------
# IVF-Flat ANN

IVF_K = 16  # coarse centroids
IVF_NPROBE = 3  # lists searched per query


def _centroids(
    emb: DataFrame, id_col: str, vec_col: str, lloyd_steps: int = 1
) -> list[tuple[int, list[float]]]:
    """The K coarse centroids: deterministic seeds (the first K vector
    ids) refined by `lloyd_steps` distributed k-means iterations (r06;
    seeds-only through r05). Each step assigns every corpus vector to
    its nearest current centroid (row-wise literal expression, zero
    shuffles) and recomputes per-list means with ONE groupBy — the
    faiss coarse-quantizer training loop, truncated to a replayable
    depth.

    The means are INTEGER-EXACT for oracle parity: per dimension,
    sum(round(x * 1e6)::bigint) / (n * 1e6) — integer sums are
    order-free (float avg() would drift between engines on summation
    order), and BIGINT/BIGINT division is correctly-rounded IEEE in
    both Python and DuckDB, so the trained centroids are bit-identical
    on both sides. Empty lists keep their previous centroid. Driver
    collects are O(K x dim) — 16 x 64 values, the same small-literal
    pattern as similarity.HYPERPLANES; at web scale training runs on a
    fixed-size sample, keeping this loop O(sample), not O(corpus)."""
    rows = (
        emb.filter(F.col(id_col) < IVF_K)
        .select(F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("ce"))
        .collect()
    )
    cents = sorted((r.cid, list(r.ce)) for r in rows)
    for _ in range(lloyd_steps):
        # assign in a generator-free projection: sharing a select with
        # posexplode strips the aliases inside ivf_assign's structs
        # (fields degrade to col1/col2 under ExtractGenerator)
        assigned = emb.select(
            ivf_assign(as_double(F.col(vec_col)), cents).alias("cid"),
            as_double(F.col(vec_col)).alias("ne"),
        )
        comp = (
            assigned.select("cid", F.posexplode("ne").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                F.sum(F.round(F.col("x") * 1000000).cast("bigint")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in comp:
            means.setdefault(int(r.cid), {})[int(r.i)] = int(r.s) / (int(r.n) * 1000000)
        cents = [
            (cid, [means[cid][i] for i in range(len(ce))] if cid in means else ce)
            for cid, ce in cents
        ]
    return cents


def _cents_lit(cents: list[tuple[int, list[float]]]) -> Column:
    """The centroid table as ONE array<struct<cid,ce,nrm>> literal. One
    shared literal + one lambda keeps the Catalyst tree ~K·dim literal
    nodes with a SINGLE similarity subtree evaluated K times at runtime —
    the per-centroid-expression form (K separate cosine trees, r05/r06a)
    made optimizer+codegen the dominant query cost (~10 s of the 19 s
    cold emb_knn_ivf wall; data work on 60k×64 vectors is trivial).

    nrm = the centroid's L2 norm, precomputed DRIVER-side: Python's
    left-to-right sum(x*x) + math.sqrt are the identical IEEE ops (same
    order) as the JVM fold F.sqrt(_dot(ce, ce)) they replace, so sims
    are bit-unchanged while a third of the per-row HOF work (the K
    constant self-dot folds Catalyst cannot fold through a lambda)
    disappears. The table reaches the JVM as one SQL literal in one call
    (doubles as round-trip reprs, similarity.doubles_sql)."""
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('cid', {int(cid)}L, 'ce', {doubles_sql(ce)}, "
            f"'nrm', {math.sqrt(sum(x * x for x in ce))!r}D)"
            for cid, ce in cents
        )
        + ")"
    )


def _cent_sim(vec: Column, c: Column) -> Column:
    """round(cosine(vec, c.ce), 6) with c's constant norm substituted —
    same formula, same op order: dot / (sqrt(dot(v,v)) * nrm)."""
    return F.round(_dot(vec, c["ce"]) / (F.sqrt(_dot(vec, vec)) * c["nrm"]), 6)


def ivf_assign(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id for a vector column, computed ROW-WISE against
    the centroid literal table: argmax over round(cosine, 6) with ties
    to the smaller cid — array_max over struct(sim, -cid). Zero
    shuffles: the whole coarse quantizer runs inside the scan stage."""
    scored = F.transform(
        _cents_lit(cents),
        lambda c: F.struct(
            _cent_sim(vec, c).alias("sim"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    return (-F.array_max(scored)["ncid"]).cast("bigint")


def ivf_probe_lists(vec: Column, cents: list[tuple[int, list[float]]], nprobe: int) -> Column:
    """The nprobe nearest centroid ids for a query vector (row-wise:
    sort the K (sim, cid) structs, take the head)."""
    scored = F.transform(
        _cents_lit(cents),
        lambda c: F.struct(
            (-_cent_sim(vec, c)).alias("nsim"),
            c["cid"].alias("cid"),
        ),
    )
    return F.transform(F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cid"])


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_steps: int = 1,
) -> DataFrame:
    """IVF-Flat approximate top-k (the faiss coarse-quantizer layout —
    the brief's named alternative to LSH bucketing): every corpus vector
    is assigned to its nearest of K centroids (inverted lists); a query
    searches only its nprobe nearest lists with exact cosine.

    Scale shape: assignment is a row-wise expression over centroid
    literals (no shuffle); probes are |Q| x nprobe narrow rows,
    broadcast; candidates stream out of the corpus scan through one
    BroadcastHashJoin; the only wide operation is the per-query top-k.
    At 10^9 vectors the win over brute force is the list fraction
    (nprobe/K of the corpus scanned per query); K grows ~sqrt(n) and the
    centroid literal table becomes a broadcast dim instead.
    """
    cents = _centroids(emb, id_col, vec_col, lloyd_steps=lloyd_steps)
    corpus = emb.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ne")
    ).withColumn("cid", ivf_assign(F.col("ne"), cents))
    probes = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe"))
        .withColumn("cid", F.explode(ivf_probe_lists(F.col("qe"), cents, nprobe)))
    )
    cand = corpus.join(F.broadcast(probes), "cid").filter(F.col("nid") != F.col("qid"))
    return _topk_by_cosine(cand, k)


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup

BOILER_MIN_DOCS = 5  # a line repeated across >= this many docs is boilerplate


def doc_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, line): each document split on '\\n' with the line's
    0-based position — the real line-dedup unit (boilerplate is
    line-identical across pages precisely because templates emit it on
    its own line)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), "\n").alias("ls"))
        .select("doc_id", F.posexplode("ls").alias("pos", "line"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "line")
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = BOILER_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line-level boilerplate removal, the RefinedWeb / FineWeb curation
    staple [Penedo et al., arXiv:2306.01116 §3.3 line-wise filtering;
    FineWeb repeats it]: a line occurring in >= min_docs DISTINCT
    documents is boilerplate (cookie banners, nav bars, subscribe
    prompts) and is removed from EVERY document; remaining lines are
    rejoined in order.

    Returns (doc_id, n_lines, n_removed, cleaned_text) for every input
    document (docs reduced to nothing keep a row with empty text).

    Scale shape: one line explode → one groupBy(line) distinct-doc count
    (map-side partial agg) → the boilerplate SET (one row per distinct
    frequent line — megabytes even at 100 TB, frequency is what made it
    boilerplate) broadcasts into a left-anti join, so the corpus never
    shuffles for the removal; the rebuild groups by doc_id with
    array_sort for deterministic order (never collect_list order)."""
    lines = doc_lines(docs, id_col=id_col, text_col=text_col)
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            "\n",
        ).alias("cleaned_text"),
    )
    totals = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )
