"""Deduplication stages for a training-data pipeline over `documents`.

Four families, all deterministic and oracle-checkable:

  * exact       — hash-groupBy on normalized text (one shuffle, map-side
                  partial agg; the Spark-native dedup).
  * minhash+LSH — shingle -> k minhashes -> banded LSH -> candidate-pair
                  join, or star edges for connected components. Hashing
                  is md5-based so the DuckDB oracle computes the
                  identical signatures (no engine-specific hash()).
  * simhash     — 16-bit sign-aggregated token-hash fingerprint; near-dups
                  collide on the fingerprint.
  * n-gram Jaccard — inverted-index self-join on shingles; exact Jaccard
                  from co-occurrence counts (the verify stage for LSH
                  candidates, or standalone top-k most-similar pairs).

Scale notes (100 TB corpus):
  * exact/minhash/simhash are one explode + one hash aggregation each —
    shuffle volume is O(doc-shingle pairs), partial aggregation collapses
    per-partition duplicates before the wire.
  * LSH banding turns the quadratic candidate problem into an equi-join
    on band hashes. A bucket of d docs still emits d²/2 pairs through
    `lsh_pairs`, so that pairs API caps hot buckets (boilerplate
    clusters) at `max_band_size`; the cap applies ONLY to the pairs API.
  * The components path (`lsh_star_edges` -> `duplicate_components`) is
    exact and linear in bucket size: each bucket emits one star edge
    per non-minimum member, which has the same connectivity as the
    bucket's clique, so no cap is needed. The components loop detects
    convergence from a changed-label count observed on the checkpoint
    each iteration already materializes — no extra job.
  * The Jaccard join joins on individual shingles; its cost is bounded by
    the posting-list sizes, which is why it is the *verify* stage after
    LSH, not the discovery stage, at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

from .text import TOKEN_RE

__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_signatures",
    "lsh_pairs",
    "lsh_star_edges",
    "simhash",
    "jaccard_topk_pairs",
    "span_dedup",
    "duplicate_components",
]


def exact_dedup(df: DataFrame, *, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on whitespace-normalized lowercase text.

    Emits one row per distinct content hash with the representative
    (minimum) id and the duplicate count.
    """
    h = F.md5(F.lower(F.regexp_replace(F.col(col), r"\s+", " ")))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(
    df: DataFrame,
    *,
    col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """One row per (id, word w-gram shingle). The explode is the only
    width increase in the dedup family.

    ``distinct=True`` (needed for exact Jaccard set semantics) costs one
    shuffle with map-side partial agg. Minhash callers pass False: the
    per-permutation MIN is idempotent over duplicate shingles, so the
    dedup shuffle would be pure waste. The tokenizer runs ONCE per row
    (two-step select), not once per reference inside the lambda."""
    toks = df.select(
        id_col,
        F.expr(f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)").alias("_t"),
    )
    sh = (
        f"transform(sequence(1, greatest(size(_t) - {w - 1}, 1)), "
        f"i -> concat_ws(' ', slice(_t, i, {w})))"
    )
    out = (
        toks.select(id_col, F.explode(F.expr(sh)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingle_df: DataFrame, *, id_col: str = "doc_id", k: int = 12
) -> DataFrame:
    """k-permutation minhash via md5("<i>:"+shingle) per permutation i.

    md5-as-permutation keeps the signature engine-portable (identical in
    DuckDB) and needs no random coefficients; min over a hash family is
    the standard minhash estimator. One hash aggregation computes all k
    mins — no extra passes."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(k)
    ]
    return shingle_df.groupBy(id_col).agg(*aggs)


def _banded(sig_df: DataFrame, *, id_col: str, k: int, bands: int) -> DataFrame:
    """One row per (id, band, bh): bh = md5 of the band's signature
    slice, so docs agreeing on ALL rows of a band share a bucket."""
    r = k // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"sig_{b * r + j}") for j in range(r)])).alias(
                "bh"
            ),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("e")
    ).select(id_col, "e.band", "e.bh")


def lsh_pairs(
    sig_df: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    max_band_size: int | None = 1000,
) -> DataFrame:
    """Banded LSH candidate pairs: docs agreeing on ALL rows of any band.

    A self-equi-join on (band, band_hash) yields candidates; `a < b` +
    distinct dedups the pair set across bands.

    ``max_band_size`` (default 1000) caps the rows per (band, band_hash)
    bucket BEFORE the self-join: a hot band of d identical boilerplate
    docs would otherwise emit d²/2 pairs — at corpus scale one template
    cluster can dominate the whole shuffle. The cap truncates
    deterministically (ordered by id), so any doc past the cap pairs
    with nothing *through that band* and stays eligible only via its
    other bands: the capped pair set under-reports hot clusters. Pass
    ``None`` to disable (exact candidate set). The cap applies only to
    this pairs API; for one survivor per near-dup cluster use
    ``lsh_star_edges``, which is exact and linear in bucket size."""
    banded = _banded(sig_df, id_col=id_col, k=k, bands=bands)
    if max_band_size is not None:
        w = Window.partitionBy("band", "bh").orderBy(id_col)
        banded = banded.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_band_size
        ).drop("_rn")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def lsh_star_edges(
    sig_df: DataFrame, *, id_col: str = "doc_id", k: int = 12, bands: int = 4
) -> DataFrame:
    """Banded LSH edges for connected components: each (band, band_hash)
    bucket emits one edge ``(min_member, member)`` per non-minimum
    member, in the ``doc_a``/``doc_b`` schema of ``lsh_pairs``.

    A star and a clique over the same bucket connect the same vertices,
    so ``duplicate_components`` over these edges equals the components
    of the UNCAPPED ``lsh_pairs`` graph exactly — with d - 1 edges per
    bucket of d docs instead of d²/2, one window shuffle instead of a
    self-join, and no cap. Edges repeated across bands are emitted once.
    """
    w = Window.partitionBy("band", "bh")
    return (
        _banded(sig_df, id_col=id_col, k=k, bands=bands)
        .select(F.min(id_col).over(w).alias("doc_a"), F.col(id_col).alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def simhash(
    df: DataFrame, *, col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash fingerprint: per bit j, the sign of sum over tokens of
    (+1 if md5(token) nibble j has its high bit set else -1); tokens
    weighted by multiplicity. Emitted as a bitstring column `simhash`.

    Portable construction: bit j of a token = md5 hex digit j in
    [8-9a-f]. One explode + one groupBy with `bits` conditional sums.
    """
    toks = df.select(
        id_col,
        F.explode(F.expr(f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)")).alias(
            "tok"
        ),
    ).withColumn("h", F.md5(F.col("tok")))
    sums = [
        F.sum(
            F.when(
                F.substring(F.col("h"), j + 1, 1).isin(*"89abcdef"), 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*sums)
    fp = F.concat(
        *[F.when(F.col(f"b{j}") > 0, "1").otherwise("0") for j in range(bits)]
    )
    return agg.select(id_col, fp.alias("simhash"))


def jaccard_topk_pairs(
    shingle_df: DataFrame, *, id_col: str = "doc_id", topk: int = 20
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing >=1 shingle, keeping the
    global top-k most-similar pairs (ties broken by ids — deterministic
    on any cluster size).

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) where the intersection comes
    from the inverted-index self-join and set sizes from one pre-agg.
    """
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # sizes has one row per document — NOT broadcastable at corpus scale;
    # plain shuffled joins (AQE picks broadcast itself when sizes is small)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    scored = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # top-k (per-partition heaps, driver merge), NOT a global sort; the
    # full order (jaccard, ids) makes the k-boundary deterministic.
    return (
        scored.orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(topk)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


# C4 sentence-span dedup (Raffel et al. 2020, §2.2: "we discard all but
# one of any three-sentence span occurring more than once in the data
# set"). Unlike the whole-document families above, this REWRITES
# documents: the first occurrence of a span (global order by doc id,
# then position) survives; every later occurrence has its sentences
# removed and the document is reassembled from the survivors.
_SENT_SEP = "\x01"


def _sentence_array(col):
    """Split text into sentences with an RE2-portable two-step (mark a
    separator after sentence-final punctuation + space, then split) —
    no lookbehind, so the DuckDB oracle replays the exact boundaries
    with regexp_replace(.., '\\1' || chr(1), 'g') + string_split +
    list_filter. Empty chunks are dropped: text ending '. ' would
    otherwise emit a phantom trailing '' sentence that inflates
    n_kept/n_removed and — worse — gives every such doc corpus-wide the
    same md5('')-bearing span."""
    arr = F.split(F.regexp_replace(col, r"([.!?]) ", "$1" + _SENT_SEP), _SENT_SEP)
    return F.filter(arr, lambda x: F.regexp_replace(x, r"\s", "") != "")


def span_dedup(
    df: DataFrame,
    *,
    col: str = "text",
    id_col: str = "doc_id",
    span: int = 3,
) -> DataFrame:
    """Remove every repeated ``span``-sentence window corpus-wide, keeping
    the first occurrence; returns rewritten documents.

    Output: one row per document that keeps >=1 sentence —
    ``(id_col, clean_text, n_kept, n_removed)``. A document whose every
    sentence is covered by later-occurrence spans disappears (C4 drops
    emptied pages). Documents with zero sentences (empty or
    whitespace-only text) are dropped too: the function is also a gate.

    Determinism: "first occurrence" is the minimum ``(doc id, start
    position)`` per span hash — a total order, so the survivor set is
    identical at any parallelism and under task retries (no rand, no
    arbitrary first()).

    Scale shape (100 TB):

      * span table = one scan + one ``posexplode`` — O(sentences) rows
        carrying a 32-char md5, not the span text;
      * first-occurrence rule = ONE shuffle keyed on the span hash
        (row_number window; hash keys are uniform, no skew);
      * covered-position sets fold to <=1 row/doc (collect_set after a
        map-side-combined distinct), joined back to the per-doc sentence
        ARRAY — the rewrite is a higher-order-function filter + concat,
        never a re-explode + order-sensitive re-aggregation;
      * total: two scans of the corpus (inherent barrier — the global
        span table must exist before any document can be rewritten) and
        two shuffles (span window, doc join).
    """
    if span < 1:
        raise ValueError("span must be >= 1")
    sents = df.select(id_col, _sentence_array(F.col(col)).alias("_s"))
    # per-(doc, start) span hashes; docs with < span sentences emit none
    span_hashes = F.when(
        F.size("_s") >= span,
        F.transform(
            F.sequence(F.lit(1), F.size("_s") - (span - 1)),
            lambda i: F.md5(F.lower(F.concat_ws(" ", F.slice("_s", i, span)))),
        ),
    )
    spans = sents.select(
        id_col, F.posexplode(span_hashes).alias("_p0", "_h")
    ).select(id_col, (F.col("_p0") + 1).alias("_start"), "_h")
    first = Window.partitionBy("_h").orderBy(id_col, "_start")
    covered = (
        spans.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") > 1)
        # a duplicate span starting at s covers sentences s .. s+span-1
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + (span - 1))
            ).alias("_spos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_spos").alias("_cov"))
    )
    numbered = F.transform(
        F.col("_s"), lambda s, i: F.struct((i + 1).alias("p"), s.alias("s"))
    )
    kept = F.filter(
        numbered,
        lambda x: ~F.array_contains(
            F.coalesce(F.col("_cov"), F.array().cast("array<int>")), x["p"]
        ),
    )
    return (
        sents.join(covered, id_col, "left")
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(kept, lambda x: x["s"])
            ).alias("clean_text"),
            F.size(kept).cast("long").alias("n_kept"),
            (F.size("_s") - F.size(kept)).cast("long").alias("n_removed"),
        )
        .filter(F.col("n_kept") > 0)
    )


def duplicate_components(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(doc_id, component_id)`` for every vertex, where component_id is
    the MINIMUM doc id reachable through the pairs.

    Why: near-duplicate relations chain (A~B, B~C) without every pair
    being emitted (A,C may share no LSH band), so "drop every doc_b"
    under-drops — it keeps one doc per *edge pattern*, not one per
    duplicate *cluster*. The canonical corpus-dedup rule (one survivor
    per component, e.g. the minimum id) needs the transitive closure.

    Algorithm: min-label propagation — l(v) <- min(l(v), min over
    neighbors' labels) until a fixpoint, the alternating-star
    simplification that suffices because near-dup components are small
    and dense (template/boilerplate clusters), so the diameter — the
    iteration bound — is tiny in practice (star edges from
    ``lsh_star_edges`` converge in a few rounds). Each iteration is ONE
    edge-label join + ONE min-aggregation (two shuffles) and is
    ``localCheckpoint``-ed: the plan stays O(1) deep instead of growing
    by two joins per iteration (lineage blowup is what actually kills
    iterative jobs at scale). The aggregation carries each vertex's old
    label along, and the changed-label count is ``observe``-d on the
    checkpoint that materializes the new labels — convergence costs no
    join and no job of its own. Deterministic: min over ids, no rand.

    Raises after ``max_iters`` without convergence (a pathological
    chain longer than max_iters — raise the bound for adversarial
    graphs; components from banded LSH are never that shape).
    """
    sym = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        # materialize the edge list ONCE: it is referenced every
        # iteration, and without this each pass re-executes whatever
        # upstream pipeline produced the pairs (shingle+minhash+LSH,
        # or worse) — O(iterations × upstream) instead of O(upstream)
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.groupBy("u").agg(F.min("v").alias("c"))
        .select("u", F.least("u", "c").alias("c"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # every neighbor-row u is also a labels row (sym is symmetric),
        # so max("old") picks up exactly that vertex's previous label
        neighbor = (
            sym.join(
                labels.select(F.col("u").alias("v"), F.col("c")), "v"
            ).select("u", "c")
        )
        obs = Observation()
        new = (
            labels.withColumn("old", F.col("c"))
            .unionByName(neighbor, allowMissingColumns=True)
            .groupBy("u")
            .agg(F.min("c").alias("c"), F.max("old").alias("old"))
            .observe(obs, F.count(F.when(F.col("c") != F.col("old"), 1)).alias("changed"))
            .localCheckpoint(eager=True)
            .select("u", "c")
        )
        # NOTE on the superseded frame's storage: Dataset.unpersist()
        # would be a no-op here — localCheckpoint persists the
        # underlying RDD outside the CacheManager, so the blocks are
        # released by the ContextCleaner once this (the only) reference
        # drops, i.e. one iteration later. At most ~2 label-frame
        # copies — narrow (id, label) rows — are live at any time,
        # bounded regardless of iteration count.
        labels = new
        if obs.get["changed"] == 0:
            return labels.select(F.col("u").alias("doc_id"), F.col("c").alias("component_id"))
    raise RuntimeError(
        f"duplicate_components did not converge in {max_iters} iterations"
    )
