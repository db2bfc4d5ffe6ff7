"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each):
  exact     — one hash-groupBy on a fingerprint column; the 100 TB plan is
              a single shuffle on md5(text), map-side combined.
  jaccard   — shingle explode → df-capped posting lists per shingle →
              group-local pair emission (never a cross join), then exact
              set similarity on the candidates only.
  minhash   — K portable hash permutations folded ROW-LOCALLY per doc
              (zero shuffles), banded into LSH buckets; candidate pairs
              are emitted group-locally from each size-capped bucket's
              posting list: cost is O(docs·K) + bounded per-bucket
              quadratics, not O(docs²).
  simhash   — 32-bit sign-sum sketch per doc; near-dups = equal sketch (or
              low Hamming distance via band rotation).

All arithmetic is engine-portable (md5-derived token hashes, explicit
(a·h+b) mod p permutations with p=2^31-1) so a SQL oracle reproduces the
signatures bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..rowmap import materialize
from .textstats import doc_fingerprint, token_hash32, tokens

MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_K = 16
MINHASH_BANDS = 2  # 8 rows per band: selective bands → few false candidates
# Hot-bucket guard: a bucket of |B| docs yields |B|(|B|-1)/2 candidate
# pairs, so one boilerplate bucket at web scale degenerates to O(n²).
# Buckets above this size are DROPPED from candidate generation (bounding
# worst-case work per bucket at C(64,2)=2016 pairs); use
# lsh_dropped_buckets() to observe what was skipped — never a silent cap.
LSH_MAX_BUCKET = 64

_rng = np.random.RandomState(42)
MINHASH_A: list[int] = [int(x) for x in _rng.randint(1, MINHASH_P, size=MINHASH_K)]
MINHASH_B: list[int] = [int(x) for x in _rng.randint(0, MINHASH_P, size=MINHASH_K)]


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts: fingerprint → (keeper, dup_count)."""
    return (
        docs.withColumn("fp", doc_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
    )


def doc_hash_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, hs: array<long>) — each doc's DISTINCT token-hash set as
    ONE row-local array (r07). tokenize → hash → dedup are all per-row
    expressions, so the set is built in the scan stage with ZERO
    shuffles; the old doc_token_hashes shape paid a full-corpus
    distinct() exchange for the same result. The outer array_distinct
    covers 32-bit hash collisions between distinct tokens of one doc.
    Per-doc state is the set a doc contributes to any sketch anyway."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(F.array_distinct(tokens(F.col(text_col))), token_hash32)
        ).alias("hs"),
    )


def doc_token_hashes(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, h) — one row per DISTINCT token hash per doc (the
    exploded view of doc_hash_sets; same rows as the former
    explode+distinct plan, without its exchange)."""
    return doc_hash_sets(docs, id_col, text_col).select("doc_id", F.explode("hs").alias("h"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_sets: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature columns sig0..sig{K-1}:
    sig_k = min((a_k·(h mod p) + b_k) mod p) over the doc's token hashes.

    r07: computed ROW-LOCALLY over the doc's hash-set array (array_min of
    a per-permutation transform) — zero shuffles; the former shape
    shuffled every (doc_id, h) row into a 16-aggregate groupBy. Pass
    hash_sets (a doc_hash_sets result, ideally materialized) when the
    caller also needs the sets elsewhere (exact-Jaccard verify) so
    tokenize+md5 runs once, not once per consumer. The K permutations
    reach the JVM as one selectExpr, their coefficients inlined as int
    literals (the type F.lit gives them)."""
    hsets = hash_sets if hash_sets is not None else doc_hash_sets(docs, id_col, text_col)
    return hsets.selectExpr(
        "doc_id",
        *(
            f"array_min(transform(hs, h -> ((h % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})) AS sig{k}"
            for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
        ),
    )


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """Signature → (doc_id, band, band_hash): md5 over each band's rows."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    out = []
    for b in range(MINHASH_BANDS):
        cols = [F.col(f"sig{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        out.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_hash"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def _bucket_sizes(bands: DataFrame) -> DataFrame:
    return bands.groupBy("band", "band_hash").agg(F.count("*").alias("bucket_size"))


def lsh_dropped_buckets(bands: DataFrame, max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """Observability for the hot-bucket guard: (band, band_hash,
    bucket_size) of every bucket excluded from candidate generation."""
    return _bucket_sizes(bands).filter(F.col("bucket_size") > max_bucket_size)


def _pairs_from_sorted(ids):
    """All (i < j) element pairs of an ASCENDING-sorted array column, as
    array<struct<a,b>>. Group-local expression — no join, no extra
    shuffle; callers bound |ids| (hot-bucket / df caps) so the quadratic
    stays ≤ C(cap, 2) per group."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """Docs sharing any LSH band bucket → distinct (doc_a < doc_b) pairs.
    Buckets larger than max_bucket_size are dropped first (a degenerate
    boilerplate bucket would otherwise emit |B|² pairs — THE failure mode
    of LSH dedup at 100 TB); the size filter is one extra aggregation on
    the same shuffle key, so no new shuffle. Pairs are generated
    GROUP-LOCALLY: one groupBy(band, band_hash) collects the (size-capped)
    bucket membership, and an array expression emits the C(|B|, 2) ≤
    C(cap, 2) ordered pairs — this replaces the former bucket SELF-JOIN
    (two more shuffles of the banded rows + a join probe) with zero
    additional exchanges. Pass max_bucket_size=None to disable the guard
    (test-only; an uncapped degenerate bucket then collects unbounded,
    exactly as the uncapped self-join was unbounded)."""
    # the size gate and the group pass both shuffle bands by the SAME
    # (band, band_hash) key, so Spark's exchange reuse evaluates the
    # signature/banding subtree once — cheaper than a localCheckpoint
    # (shuffle files on disk instead of an extra materialization job)
    if max_bucket_size is not None:
        sizes = _bucket_sizes(bands).filter(F.col("bucket_size") <= max_bucket_size)
        bands = bands.join(sizes.select("band", "band_hash"), ["band", "band_hash"])
    grp = bands.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    return (
        grp.select(F.explode(_pairs_from_sorted(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, hash_sets: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-doc token-hash sets
    (a doc_hash_sets result — (doc_id, hs) arrays).

    r07 shape: join the candidate pairs against the set table twice
    (narrow equi-joins on the doc ids) and compute |A∩B| group-locally
    with array_intersect. The old plan exploded every pair by doc_a's
    tokens (|pairs|·|tokens| rows) into a (doc_b, h) equi-join plus two
    more size-lookup joins; here the heavy rows are 2·|corpus| set
    arrays and the per-pair work is an in-memory intersection —
    candidate pairs are ≪ corpus at every scale, and a doc's token-hash
    set must fit in a task either way."""
    sets = hash_sets.select("doc_id", "hs")
    return (
        pairs.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("_ha")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("_hb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_ha", "_hb")).cast("long").alias("n_inter"),
            F.size("_ha").cast("long").alias("n_a"),
            F.size("_hb").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
    )


def minhash_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """MinHash+LSH near-duplicate detection end to end over (doc_id,
    text): signatures → bands → size-capped bucket candidates → exact
    Jaccard (`jaccard_on_pairs` columns, unfiltered). The hash sets are
    materialized once, so tokenize+md5 runs once for both the signatures
    and the verify."""
    sets = doc_hash_sets(docs).localCheckpoint()
    pairs = lsh_candidate_pairs(minhash_bands(minhash_signatures(docs, hash_sets=sets)))
    return jaccard_on_pairs(pairs, sets)


def shingles_of(toks, n: int = 3):
    """Word n-gram shingle array (distinct) from an ALREADY-TOKENIZED
    array column. Callers should stage the token array as a projected
    column first: higher-order-function lambdas block Spark's physical
    subexpression elimination, so a raw `tokens(text)` subtree inside
    the transform re-runs the regex split once per shingle position —
    O(tokens²) splits per document (the r05 repetition-filter lesson).

    Short-doc guard: for arrays with fewer than n tokens the result is
    an EMPTY array. Without the guard, ANSI sequence(1, k) with k <= 0
    descends ([1, 0]) and slice(toks, 0, n) throws at runtime — a latent
    crash the DuckDB oracle (range(1, greatest(len-n+1,0)+1) → empty)
    never shares."""
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def shingles(text, n: int = 3):
    """Convenience wrapper: tokenize then shingle. Only for one-shot use —
    see shingles_of for why repeated/derived use must stage the tokens."""
    return shingles_of(tokens(text), n)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_col: str | None = None,
    threshold: float = 0.1,
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle-join near-dup: explode distinct shingles, equi-join on the
    shingle (+ optional bucket) to form candidates, exact Jaccard ≥ τ.

    max_shingle_df caps a shingle's DOCUMENT FREQUENCY: a boilerplate
    trigram appearing in d docs contributes d² candidate pairs — the
    hot-key blowup of shingle joins at corpus scale. Dropping shingles
    with df > cap bounds per-key pair work at C(cap, 2); intersections
    shrink by the dropped (uninformative) shingles while set sizes stay
    exact, so the estimate is conservative for near-dups that share rare
    content.

    Shape: candidates are generated GROUP-LOCALLY — one groupBy on the
    (bucket, shingle) key collects each df-capped posting list and an
    array expression emits its ordered pairs, replacing the former
    shingle SELF-JOIN (two extra shuffles + join probe). The per-doc set
    size rides along in the posting-list struct, so the two final
    size-lookup joins of the old plan are gone too: the only exchanges
    are the posting-list groupBy (reused by the df-cap filter on the
    same key) and the per-pair count."""
    # stage the token array as its own projection so the shingle lambda
    # slices a column attribute — NOT a re-inlined regex split per
    # position (see shingles_of); CollapseProject keeps multi-referenced
    # non-cheap aliases in their own Project
    toks_df = docs.select(
        F.col(id_col).alias("doc_id"),
        *( [F.col(bucket_col).alias("bucket")] if bucket_col else [] ),
        tokens(F.col(text_col)).alias("toks"),
    )
    base = toks_df.select(
        "doc_id",
        *(["bucket"] if bucket_col else []),
        shingles_of(F.col("toks"), n).alias("sh"),
    )
    # carry the doc's shingle-set size on every exploded row (one narrow
    # int): the pair pipeline then never needs a sizes lookup join
    ex = base.select(
        "doc_id",
        *(["bucket"] if bucket_col else []),
        F.size("sh").alias("n"),
        F.explode("sh").alias("s"),
    )
    # the df-cap gate and the posting-list groupBy both shuffle ex by the
    # SAME shingle key — exchange reuse evaluates the tokenize/shingle
    # subtree once (measured faster than a localCheckpoint, and the
    # shuffle files are disk-backed rather than executor memory)
    keys = (["bucket"] if bucket_col else []) + ["s"]
    if max_shingle_df is not None:
        df_ok = ex.groupBy(*keys).agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_shingle_df)
        ex = ex.join(df_ok.select(*keys), keys)
    grp = ex.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ids")
    )
    pairs = grp.select(F.explode(_pairs_from_sorted(F.col("ids"))).alias("p")).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.a.n").alias("n_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.b.n").alias("n_b"),
    )
    inter = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(F.count("*").alias("n_inter"))
    return (
        inter.withColumn(
            "jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def simhash32(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash: per bit, sum +1/-1 over distinct token hashes; bit
    set iff sum > 0 (equivalently 2·|set bits| > |tokens| — exact integer
    comparison either way). Computed ROW-LOCALLY over the doc's hash-set
    array (r07) — ZERO shuffles; the former (tokens × 32 bits) explode
    shipped 32× the token rows through two aggregations. Linear in corpus
    size, and per-doc state is the token-hash set a doc contributes
    anyway."""
    sets = doc_hash_sets(docs, id_col, text_col)
    simhash = F.expr(
        "aggregate(sequence(0, 31), 0L, (acc, bit) -> acc + "
        "IF(2 * size(filter(hs, h -> ((h >> bit) & 1) = 1)) > size(hs), "
        "shiftleft(1L, bit), 0L))"
    )
    return sets.select("doc_id", simhash.alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Near-dup cluster resolution: connected components over an
    undirected edge list via min-label propagation WITH pointer jumping
    (Shiloach–Vishkin-style hook + shortcut): each round every node
    takes min(own label, neighbors' labels), then compresses one pointer
    hop (comp(u) <- comp(comp(u))). The shortcut makes the distance to
    the component minimum shrink geometrically, so convergence is
    O(log diameter) rounds — a planted diameter-100 chain resolves in
    ~7 rounds, vs 100 for plain propagation. Each round is two bounded
    shuffles on the node id and one `rowmap.materialize`: the checkpoint
    keeps the iterative plan flat, and its job counts the changed labels
    for the convergence check. (Alternating small-star/large-star
    [Kiveris et al., SoCC'14] is the other classic O(log n) layout; the
    hook+shortcut form reuses the same two join primitives and needs no
    edge-set rewriting.) Returns (node, component) with component = min
    node id reachable.

    Raises RuntimeError if max_rounds is exhausted before convergence —
    never silently returns partial labels. Note max_rounds INCLUDES the
    final zero-change detection round: a graph needing k productive
    rounds converges (is accepted) at max_rounds >= k + 1, because the
    fixpoint is only observed by one more round changing nothing."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).localCheckpoint()
    # every endpoint is an `a` of `sym`: never re-run the edge pipeline
    labels = sym.select(F.col("a").alias("node"), F.col("a").alias("comp")).distinct().localCheckpoint()
    converged = False
    for _ in range(max_rounds):
        # hook: take the min label over the neighborhood
        nbr = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("comp").alias("nb_comp"))
        )
        hooked = (
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                labels["node"].alias("node"),
                F.least(F.col("comp"), F.coalesce("nb_comp", F.col("comp"))).alias("comp"),
                labels["comp"].alias("prev_comp"),
            )
        )
        # shortcut (pointer jumping): comp(u) <- comp(comp(u)). Labels are
        # always node ids, so the mapping join is total. The PREVIOUS
        # label rides along so the convergence check is a counter on the
        # round's checkpoint — not an extra old-vs-new join.
        ptr = hooked.select(F.col("node").alias("cnode"), F.col("comp").alias("ccomp"))
        new, counts = materialize(
            hooked.join(ptr, hooked["comp"] == ptr["cnode"]).select(
                "node", F.col("ccomp").alias("comp"), F.col("prev_comp")
            ),
            n_changed=F.count_if(F.col("comp") != F.col("prev_comp")),
        )
        labels = new.select("node", "comp")
        if counts["n_changed"] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_rounds={max_rounds} "
            "(which includes one zero-change detection round) — the component "
            "minimum is still propagating; raise max_rounds"
        )
    return labels


def token_windows(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, start, win): every k-token window of each document, with
    its 0-based start token index. Documents shorter than k tokens yield
    no rows. Downstream (duplicated_spans) keys the full-corpus shuffles
    on xxhash64(win) — 8 bytes/row — and verifies the window STRING only
    on the hash-qualified candidate subset, so k× corpus bytes never
    cross an exchange (implemented r07; formerly a docstring TODO)."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
    wins = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - k),
                    lambda i: F.struct(
                        i.cast("long").alias("start"),
                        F.array_join(F.slice(F.col("toks"), i + 1, k), " ").alias("win"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<start:long,win:string>>"))
        ).alias("w"),
    )
    return wins.select("doc_id", F.col("w.start").alias("start"), F.col("w.win").alias("win"))


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """Exact substring-span dedup, the ExactSubstr operator of
    [Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 §4.1] re-expressed for Spark: their
    suffix-array pass marks every >=50-token substring shared between
    two documents; here every k-token window duplicated across >=
    min_docs DISTINCT documents is marked, and overlapping-or-touching
    marked windows merge into MAXIMAL spans (gaps-and-islands) — the
    same maximal shared-substring output, k-token resolution, without
    the sequential suffix array.

    Returns (doc_id, span_start, span_end, n_windows): token-index
    half-open [span_start, span_end) per maximal duplicated span.

    Scale shape (hash-then-verify, r07): one window explode (O(tokens)
    narrow rows) → the FULL-corpus shuffles key on xxhash64(win), 8
    bytes/row, never the k-token window string (k× corpus bytes at
    100 TB): groupBy(hash) distinct-doc count (map-side partial) gates a
    left-semi join down to the candidate rows whose hash group spans >=
    min_docs docs. Hash collisions can only ADD candidates (a true
    duplicate's group always contains its own docs — no false
    negatives), so an exact verify re-runs the distinct-doc count on the
    window STRING over the candidate subset only, which at web scale is
    the tiny duplicated tail. Per-doc span merge is a window function
    over that doc's marked windows only. No all-pairs stage anywhere.

    hash_fn exists for tests: injecting a deliberately colliding "hash"
    proves the verify pass keeps the output exact."""
    wins = token_windows(docs, k, id_col=id_col, text_col=text_col)
    hash_fn = hash_fn or F.xxhash64
    wins = wins.withColumn("_wh", hash_fn(F.col("win")))
    dup_h = (
        wins.groupBy("_wh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("_wh")
    )
    cand = wins.join(dup_h, "_wh", "left_semi")
    dup = (
        cand.groupBy("win")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("win")
    )
    marked = cand.join(dup, "win", "left_semi")
    prev_max_end = F.max(F.col("start") + k).over(
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = marked.select(
        "doc_id",
        "start",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_span"),
    )
    islands = flagged.select(
        "doc_id",
        "start",
        F.sum("new_span")
        .over(Window.partitionBy("doc_id").orderBy("start"))
        .alias("span_id"),
    )
    return islands.groupBy("doc_id", "span_id").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + k).alias("span_end"),
        F.count("*").alias("n_windows"),
    )
