"""Unit tests for the training-data pipeline function modules (beyond the
oracle-parity gate): semantic properties the SQL compare can't express."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from opentelemetry_collector_contrib_spark.functions import (  # noqa: E402
    dedup as dd,
    multimodal as mm,
    similarity as sim,
    text as tx,
)
from opentelemetry_collector_contrib_spark.sources import documents as docsrc  # noqa: E402


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = docsrc.documents_df(spark, sf_dir).cache()
    yield df
    # unpersist at module teardown: a lingering cache makes any LATER
    # test that builds the same documents plan hit the InMemoryRelation
    # (e.g. the scan-pruning plan assertions stop seeing PushedFilters)
    df.unpersist()


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    rows = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(df).collect()}
    # whitespace-normalized + lowercased => 1 and 2 collapse
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and partitions"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sh = dd.shingles(df, w=3)
    sigs = dd.minhash_signatures(sh, k=12)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.lsh_pairs(sigs, k=12, bands=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 16 and set(fp[1]) <= {"0", "1"}


def test_ann_bruteforce_self_similarity_and_rank(spark, sf_dir):
    emb = docsrc.embeddings_df(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0)
    out = sim.ann_bruteforce_topk(emb, q, k=3).collect()
    assert len(out) == 3
    assert [r["rank"] for r in out] == [1, 2, 3]
    sims = [r["sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(r["vec_id"] != 0 for r in out)  # self excluded
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_ann_lsh_is_subset_of_bruteforce_candidates(spark, sf_dir):
    emb = docsrc.embeddings_df(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 4)
    lsh = sim.ann_lsh_topk(emb, q, k=5).collect()
    # every LSH neighbor shares the query's bucket by construction
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select("vec_id", sim.lsh_bucket().alias("b")).collect()
    }
    for r in lsh:
        assert buckets[r["vec_id"]] == buckets[r["q_id"]]


def test_lang_id_on_known_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "der hund ist nicht mit der katze und das haus"),
            (3, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in tx.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_ranks_prose_over_junk(spark):
    prose = (
        "the history of the project is long and it is described in the "
        "documents that were written for the archive with care"
    )
    junk = "@@@@ #### !!!! $$$$ %%%%"
    df = spark.createDataFrame([(1, prose), (2, junk)], ["doc_id", "text"])
    out = {r["doc_id"]: r["quality"] for r in tx.quality_score(df).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_fingerprint_stable_under_local_edit(spark):
    base = " ".join(f"word{i}" for i in range(50))
    edited = base.replace("word49", "changed")  # edit at the very end
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in tx.doc_fingerprint(df, w=5).collect()}
    # whole-text hash differs, min-shingle fingerprint usually survives a
    # single localized edit (here: min over 46 shingles, 5 affected)
    assert rows[1]["exact_hash"] != rows[2]["exact_hash"]
    assert rows[1]["fingerprint"] == rows[2]["fingerprint"]


def test_multimodal_real_impl_raises(spark, docs):
    payloads = mm.attach_fake_payload(docs.limit(5))
    feats = mm.decode_features(payloads, impl="real")
    with pytest.raises(Exception) as exc:
        feats.collect()
    assert "NotImplementedError" in str(exc.value) or "media decode" in str(exc.value)


def test_multimodal_fake_features_shape(spark, docs):
    payloads = mm.attach_fake_payload(docs.limit(10))
    feats = mm.decode_features(payloads, impl="fake")
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["kind"] in ("image", "audio", "video")
        assert r["n_bytes"] > 4
        assert 0.0 <= r["byte_entropy_proxy"] <= 1.0
        assert r["frame_count"] >= 1
        if r["kind"] == "image":
            assert r["frame_count"] == 1


def test_multimodal_rebalance_partition_count(spark, docs):
    payloads = mm.attach_fake_payload(docs.limit(100))
    out = mm.rebalance_for_payloads(
        payloads, approx_row_bytes=1 << 20, target_partition_bytes=16 << 20
    )
    # 100 rows * 1MiB / 16MiB => ~6 partitions
    assert 1 <= out.rdd.getNumPartitions() <= 16


def test_unicode_text_survives_parse_and_dedup(spark):
    rows_in = [
        (1, "2024-01-01T00:00:00Z INFO svc-1: héllo wörld 你好 🎉 items=3"),
        (2, "2024-01-01T00:00:00Z INFO svc-1: héllo wörld 你好 🎉 items=3"),
        (3, "чистый текст без шаблона"),
    ]
    df = spark.createDataFrame(rows_in, ["doc_id", "text"])
    from opentelemetry_collector_contrib_spark.operators import parsers
    from opentelemetry_collector_contrib_spark.schema import (
        PARSE_PATTERN,
        PARSE_GROUPS,
    )

    parsed = parsers.regex_parse(df, PARSE_PATTERN, PARSE_GROUPS).collect()
    by_id = {r["doc_id"]: r for r in parsed}
    assert by_id[1]["parse_ok"] and "你好 🎉" in by_id[1]["msg"]
    assert not by_id[3]["parse_ok"]

    out = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_json_sink_write_readable(spark, sf_dir, tmp_path):
    from opentelemetry_collector_contrib_spark.operators import connectors
    from opentelemetry_collector_contrib_spark.plans import pipeline

    res = pipeline.build(spark, sf_dir)
    paths = connectors.write_routed(
        res.tagged, res.sink_map, str(tmp_path), fmt="json", files_per_sink=2
    )
    total = sum(spark.read.json(p).count() for p in paths.values())
    routed = connectors.routed_union(res.tagged, res.sink_map)
    assert total == routed.count()


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition metrics against a hand-computed fixture."""
    from opentelemetry_collector_contrib_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (1, "a b a b a b\nx y z\nx y z"),
            (2, "all unique words here today"),
            (3, ""),  # token-less doc keeps a row, zero metrics
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.repetition_signals(
            df, top_ns=(2,), dup_ns=(2,)
        ).collect()
    }
    r1 = out[1]
    # 2-grams (11 of them, all len 3): "a b"x3, "b a"x2, "b x"x1,
    # "x y"x2, "y z"x2, "z x"x1 -> top 9/33, dup (3+2+2+2)*3/33
    assert r1["top2gram_char_frac"] == pytest.approx(9 / 33)
    assert r1["dup2gram_char_frac"] == pytest.approx(27 / 33)
    # lines: ["a b a b a b", "x y z", "x y z"] -> 2 of 3 are dups
    assert r1["dup_line_frac"] == pytest.approx(2 / 3)
    assert r1["dup_line_char_frac"] == pytest.approx(10 / 21)
    r2 = out[2]
    assert r2["dup2gram_char_frac"] == 0.0
    assert r2["dup_line_frac"] == 0.0
    assert r2["top2gram_char_frac"] > 0.0  # one of 4 distinct 2-grams
    r3 = out[3]
    assert r3["top2gram_char_frac"] == 0.0 and r3["dup_line_char_frac"] == 0.0


def test_repetition_signals_on_documents(spark, sf_dir):
    """Runs over the documents table; every doc gets exactly one row and
    fractions stay in [0, 1]."""
    from opentelemetry_collector_contrib_spark.functions import text as tx
    from opentelemetry_collector_contrib_spark.sources import documents as d

    docs = d.documents_df(spark, sf_dir)
    out = tx.repetition_signals(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    frac_cols = [c for c in out.columns if c != "doc_id"]
    for r in rows:
        for c in frac_cols:
            assert 0.0 <= r[c] <= 1.0, (r["doc_id"], c, r[c])


def test_ann_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """nprobe == nlist probes every cell, so IVF must reproduce the
    exact brute-force top-k (same candidate set, same scoring)."""
    from opentelemetry_collector_contrib_spark.functions import similarity as sim
    from opentelemetry_collector_contrib_spark.sources import documents as docsrc

    emb = docsrc.embeddings_df(spark, sf_dir)
    q = emb.limit(4)
    bf = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in sim.ann_bruteforce_topk(emb, q, k=3).collect()
    }
    ivf = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in sim.ann_ivf_topk(
            emb, q, k=3, nlist=8, nprobe=8, iters=1
        ).collect()
    }
    assert ivf == bf


def test_ann_ivf_partial_probe_recall_and_determinism(spark, sf_dir):
    """nprobe < nlist: results are a subset of each query's probed
    cells with useful recall vs brute force, and two runs agree."""
    from opentelemetry_collector_contrib_spark.functions import similarity as sim
    from opentelemetry_collector_contrib_spark.sources import documents as docsrc

    emb = docsrc.embeddings_df(spark, sf_dir)
    q = emb.limit(5)
    cents = sim.train_ivf_centroids(emb, nlist=8, iters=2)
    a = sim.ann_ivf_topk(emb, q, k=5, nprobe=3, centroids=cents).collect()
    b = sim.ann_ivf_topk(emb, q, k=5, nprobe=3, centroids=cents).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    bf = sim.ann_bruteforce_topk(emb, q, k=5).collect()
    bf_set = {(r["q_id"], r["vec_id"]) for r in bf}
    ivf_set = {(r["q_id"], r["vec_id"]) for r in a}
    recall = len(ivf_set & bf_set) / len(bf_set)
    assert recall >= 0.4, recall  # partial probe keeps useful recall
    # every IVF hit is a genuine corpus neighbor scored exactly: its
    # sim must match the brute-force sim when both found the pair
    bf_sim = {(r["q_id"], r["vec_id"]): r["sim"] for r in bf}
    for r in a:
        key = (r["q_id"], r["vec_id"])
        if key in bf_sim:
            assert abs(r["sim"] - bf_sim[key]) < 1e-9


def test_repetition_gates_stage(spark, sf_dir):
    """The Gopher repetition gates stage only removes documents, and it
    binds on this corpus (synthetic docs repeat templates)."""
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    docs = docsrc.documents_df(spark, sf_dir)
    gates = [{"type": "quality_gate"}, {"type": "lang_gate"}]

    def ids(stages):
        out, _ = config_pipeline.build_from_config(
            spark, sf_dir, {"processors": stages}, source=docs
        )
        return {r["doc_id"] for r in out.select("doc_id").collect()}

    base_ids = ids(gates)
    gated_ids = ids(gates + [{"type": "repetition_gates", "max_dup_line_frac": 0.0,
                               "max_top2gram_frac": 0.15}])
    assert gated_ids < base_ids


def test_ann_ivf_plan_shape(spark, sf_dir):
    """Candidate discovery must be a broadcast equi-join on the int
    cell id — never a cartesian product."""
    from opentelemetry_collector_contrib_spark.functions import similarity as sim
    from opentelemetry_collector_contrib_spark.sources import documents as docsrc

    emb = docsrc.embeddings_df(spark, sf_dir)
    cents = sim.train_ivf_centroids(emb, nlist=4, iters=0)
    out = sim.ann_ivf_topk(emb, emb.limit(2), k=3, nprobe=2, centroids=cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# round 5: benchmark decontamination + SemDeDup
# ---------------------------------------------------------------------------

from opentelemetry_collector_contrib_spark.functions import decontam as dc  # noqa: E402


def test_contamination_report_counts(spark):
    """Hand-computed: doc 1 shares exactly one 3-gram with the eval set,
    doc 2 shares none, doc 3 is a verbatim eval member (fully dirty)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # 3-grams: abg, bgd
            (2, "one two three four"),              # disjoint
            (3, "alpha beta gamma"),                # == eval doc
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma")], ["doc_id", "text"]
    )
    rep = {
        r["doc_id"]: r
        for r in dc.contamination_report(corpus, eval_docs, n=3).collect()
    }
    assert rep[1]["n_ngrams"] == 2 and rep[1]["n_contaminated"] == 1
    assert rep[1]["contamination"] == pytest.approx(0.5)
    assert rep[1]["contaminated"] is True
    assert rep[2]["n_contaminated"] == 0 and rep[2]["contaminated"] is False
    assert rep[3]["contamination"] == pytest.approx(1.0)


def test_decontaminate_keeps_schema_and_clean_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en"),
            (2, "one two three four", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma")], ["doc_id", "text"]
    )
    out = dc.decontaminate(corpus, eval_docs, n=3)
    assert out.columns == corpus.columns
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_contamination_min_hits_threshold(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma")], ["doc_id", "text"]
    )
    rep = dc.contamination_report(corpus, eval_docs, n=3, min_hits=2).collect()[0]
    assert rep["n_contaminated"] == 1 and rep["contaminated"] is False


def test_contamination_eval_side_broadcast(spark):
    """The eval n-gram set must reach the corpus via a broadcast join —
    the corpus side never shuffles for the collision probe."""
    corpus = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    eval_docs = spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])
    plan = dc.contamination_report(corpus, eval_docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semdedup_explicit_cluster_dominance_rule(spark):
    """Same-cluster near-dups: every id dominated by a smaller similar id
    drops; the minimum id of each group survives; cross-cluster
    duplicates both survive (blocking is intentional, SemDeDup §3)."""
    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, v), (2, v), (5, v),       # cluster c1 triple dup -> keep 1
        (3, w),                        # c1, orthogonal -> kept
        (4, v),                        # cluster c2 dup of 1, other block -> kept
    ]
    emb = _emb(spark, rows).withColumn(
        "cl", F.when(F.col("vec_id") == 4, "c2").otherwise("c1")
    )
    kept = sim.semdedup(emb, cluster=F.col("cl"), threshold=0.95)
    assert {r["vec_id"] for r in kept.collect()} == {1, 3, 4}


def test_semdedup_max_cluster_size_cap(spark):
    """Clusters above the cap are excluded from the pair join: all their
    members are kept (the LSH family's hot-band escape hatch)."""
    v = [1.0, 0.0]
    rows = [(i, v) for i in range(1, 5)]          # one cluster of 4 dups
    emb = _emb(spark, rows).withColumn("cl", F.lit("hot"))
    kept = sim.semdedup(emb, cluster=F.col("cl"), threshold=0.9,
                        max_cluster_size=3)
    assert {r["vec_id"] for r in kept.collect()} == {1, 2, 3, 4}
    kept2 = sim.semdedup(emb, cluster=F.col("cl"), threshold=0.9,
                         max_cluster_size=10)
    assert {r["vec_id"] for r in kept2.collect()} == {1}


def test_semdedup_ivf_cluster_path(spark):
    """cluster=None trains the IVF spherical k-means quantizer; exact
    duplicates land in the same cell and dedup to the min id."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(size=8); a /= np.linalg.norm(a)
    b = rng.normal(size=8); b /= np.linalg.norm(b)
    rows = [(1, a.tolist()), (2, a.tolist()), (3, b.tolist()), (4, b.tolist())]
    kept = sim.semdedup(_emb(spark, rows), threshold=0.99, nlist=2, seed=3)
    assert {r["vec_id"] for r in kept.collect()} == {1, 3}


def test_semdedup_no_cartesian_product(spark):
    """The within-cluster pair probe must be an equi-join on the cluster
    key, never a cartesian/nested-loop product."""
    v = [1.0, 0.0]
    emb = _emb(spark, [(i, v) for i in range(1, 4)]).withColumn(
        "cl", F.when(F.col("vec_id") < 100, "c").otherwise("d")
    )
    kept = sim.semdedup(emb, cluster=F.col("cl"), threshold=0.9)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_deterministic(spark):
    emb = docsrc.embeddings_df(spark, "/root/testdata/sf0.001")
    k1 = sorted(r["vec_id"] for r in sim.semdedup(
        emb, cluster=sim.lsh_bucket("embedding"), threshold=0.28).collect())
    k2 = sorted(r["vec_id"] for r in sim.semdedup(
        emb, cluster=sim.lsh_bucket("embedding"), threshold=0.28).collect())
    assert k1 == k2 and len(k1) > 0


# --- C4 three-sentence-span dedup (Raffel et al. 2020 §2.2) ---

SPAN_DEDUP_SQL = r"""
WITH sents AS (
  SELECT doc_id,
         list_filter(
           string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'),
                        chr(1)),
           x -> regexp_replace(x, '\s', '', 'g') <> '') AS arr
  FROM documents
), sent_rows AS (
  SELECT doc_id, unnest(arr) AS sent, generate_subscripts(arr, 1) AS spos
  FROM sents
), spans AS (
  SELECT a.doc_id, a.spos AS pos,
         md5(lower(a.sent || ' ' || b.sent || ' ' || c.sent)) AS h
  FROM sent_rows a
  JOIN sent_rows b ON a.doc_id = b.doc_id AND b.spos = a.spos + 1
  JOIN sent_rows c ON a.doc_id = c.doc_id AND c.spos = a.spos + 2
), ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM spans
), covered AS (
  SELECT DISTINCT r.doc_id, r.pos + o.o AS spos
  FROM ranked r, (SELECT unnest([0, 1, 2]) AS o) o
  WHERE r.rn > 1
), kept AS (
  SELECT s.doc_id, s.spos, s.sent
  FROM sent_rows s LEFT JOIN covered c
    ON s.doc_id = c.doc_id AND s.spos = c.spos
  WHERE c.doc_id IS NULL
), totals AS (
  SELECT doc_id, len(arr)::bigint AS n_tot FROM sents
)
SELECT k.doc_id,
       string_agg(k.sent, ' ' ORDER BY k.spos) AS clean_text,
       count(*)::bigint AS n_kept,
       (any_value(t.n_tot) - count(*))::bigint AS n_removed
FROM kept k JOIN totals t ON k.doc_id = t.doc_id
GROUP BY k.doc_id
"""


def test_span_dedup_hand_computed(spark):
    dup = "Alpha one. Beta two. Gamma three."
    df = spark.createDataFrame(
        [
            (1, dup + " Tail sentence."),
            (2, "Opening line. " + dup + " Different end."),
            (3, dup),  # fully covered -> document disappears
            (4, "No repeats here. Just two sentences."),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in dd.span_dedup(df).collect()}
    # doc 1 holds the first occurrence (min doc_id, pos) -> untouched
    assert out[1]["clean_text"] == dup + " Tail sentence."
    assert out[1]["n_removed"] == 0
    # doc 2 loses exactly the three duplicated sentences
    assert out[2]["clean_text"] == "Opening line. Different end."
    assert out[2]["n_kept"] == 2 and out[2]["n_removed"] == 3
    # doc 3 was nothing but the duplicate span -> dropped entirely
    assert 3 not in out
    # doc 4 has < 3 sentences worth of spans shared with nobody
    assert out[4]["n_removed"] == 0


def test_span_dedup_first_occurrence_is_position_ordered(spark):
    # the SAME doc repeats a span twice: the first (lower start pos)
    # occurrence survives, the second is removed
    s = "One fish. Two fish. Red fish."
    df = spark.createDataFrame([(7, s + " Interlude. " + s)], ["doc_id", "text"])
    out = dd.span_dedup(df).collect()[0]
    assert out["clean_text"] == s + " Interlude."
    assert out["n_removed"] == 3


def test_span_dedup_drops_zero_sentence_documents(spark):
    """span_dedup is also a gate: empty and whitespace-only documents
    (zero sentences) are dropped, every other document survives."""
    df = spark.createDataFrame(
        [(1, "One sentence here."), (2, ""), (3, "  \n "), (4, "Other text. More.")],
        ["doc_id", "text"],
    )
    assert sorted(r["doc_id"] for r in dd.span_dedup(df).collect()) == [1, 4]


def test_span_dedup_parallelism_invariant(spark):
    df = docsrc.documents_df(spark, "/root/testdata/sf0.001")
    a = sorted(
        dd.span_dedup(df.repartition(1)).collect(), key=lambda r: r["doc_id"]
    )
    b = sorted(
        dd.span_dedup(df.repartition(16)).collect(), key=lambda r: r["doc_id"]
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_span_dedup_matches_duckdb_oracle(spark, sf_dir):
    from tests.oracle_util import compare, duck_con

    con = duck_con(sf_dir)
    try:
        ok, msg = compare(
            dd.span_dedup(docsrc.documents_df(spark, sf_dir)),
            con,
            SPAN_DEDUP_SQL,
        )
    finally:
        con.close()
    assert ok, msg


# --- connected components over the near-dup pair graph ---

def _duckdb_closure(pairs, ppath):
    """Reference components: a DuckDB recursive-CTE transitive closure
    over ``pairs`` (written to ``ppath``), as sorted (doc_id, min id)."""
    import duckdb

    pairs.write.mode("overwrite").parquet(ppath)
    con = duckdb.connect()
    try:
        return sorted(
            (int(u), int(c))
            for u, c in con.execute(
                f"""
                WITH RECURSIVE edges AS (
                  SELECT doc_a AS u, doc_b AS v FROM '{ppath}/*.parquet'
                  UNION SELECT doc_b, doc_a FROM '{ppath}/*.parquet'
                ), reach AS (
                  SELECT u, v FROM edges
                  UNION
                  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
                )
                SELECT u AS doc_id, least(u, min(v)) AS component_id
                FROM reach GROUP BY u
                """
            ).fetchall()
        )
    finally:
        con.close()


def _union_find(edges):
    """Reference components: pure-Python union-find over ``edges``, as
    sorted (vertex, min id of its component) for every edge vertex."""
    parent = {v: v for e in edges for v in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((v, find(v)) for v in parent)


def test_duplicate_components_chain_vs_pairwise_drop(spark):
    # edges (2,3) and (1,3) only: 1-2-3 is ONE cluster via 3, but the
    # naive "drop every doc_b" rule keeps {1,2} (under-drop). The
    # component rule keeps exactly min(id) = 1.
    pairs = spark.createDataFrame([(2, 3), (1, 3)], ["doc_a", "doc_b"])
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dd.duplicate_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1}


def test_duplicate_components_disjoint_clusters_and_long_chain(spark):
    # a 6-node path (worst diameter shape) plus a separate 2-cluster
    path = [(i, i + 1) for i in range(10, 15)]
    pairs = spark.createDataFrame(path + [(100, 101)], ["doc_a", "doc_b"])
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dd.duplicate_components(pairs).collect()
    }
    assert all(comp[i] == 10 for i in range(10, 16))
    assert comp[100] == 100 and comp[101] == 100


def test_duplicate_components_matches_duckdb_closure(spark, sf_dir, tmp_path):
    # independent check of the graph algorithm: Spark label propagation
    # vs a DuckDB recursive-CTE transitive closure over the REAL LSH
    # pair graph (pair generation itself is oracle-checked by the
    # dedup_minhash_lsh board row)
    docs = docsrc.documents_df(spark, sf_dir)
    sigs = dd.minhash_signatures(dd.shingles(docs, w=3, distinct=False), k=12)
    pairs = dd.lsh_pairs(sigs, k=12, bands=4)
    got = sorted(
        (r["doc_id"], r["component_id"])
        for r in dd.duplicate_components(pairs).collect()
    )
    want = _duckdb_closure(pairs, str(tmp_path / "pairs.parquet"))
    assert got == want and len(got) > 0


def test_duplicate_components_over_cap_cluster_star_edges_exact(spark, tmp_path):
    # planted clusters whose band buckets overflow a small cap (3 stands
    # in for the default 1000): star edges must give the EXACT uncapped
    # components, while the capped pair graph keeps extra survivors
    words = [f"w{i}" for i in range(40)]
    texts = []
    for c, size in ((0, 12), (1, 6)):
        base = [f"c{c}{w}" for w in words]
        texts += [" ".join(base[:-1] + [f"v{j}"]) for j in range(size)]
    texts += [" ".join(f"o{i}{w}" for w in words) for i in range(3)]
    df = spark.createDataFrame(list(enumerate(texts, 1)), ["doc_id", "text"])
    sigs = dd.minhash_signatures(
        dd.shingles(df, w=3, distinct=False), k=12
    ).cache()

    got = sorted(
        (r["doc_id"], r["component_id"])
        for r in dd.duplicate_components(dd.lsh_star_edges(sigs)).collect()
    )
    exact_pairs = dd.lsh_pairs(sigs, max_band_size=None)
    assert got == _union_find(
        [(r["doc_a"], r["doc_b"]) for r in exact_pairs.collect()]
    )
    assert got == _duckdb_closure(exact_pairs, str(tmp_path / "pairs.parquet"))

    capped = dd.duplicate_components(dd.lsh_pairs(sigs, max_band_size=3))
    exact_survivors = len(texts) - sum(1 for d, c in got if d != c)
    capped_survivors = len(texts) - capped.filter(
        F.col("doc_id") != F.col("component_id")
    ).count()
    assert capped_survivors > exact_survivors
    sigs.unpersist()


def test_duplicate_components_raises_without_convergence(spark):
    # a 6-node path needs more than two label-propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 15)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge in 2"):
        dd.duplicate_components(pairs, max_iters=2).collect()


def test_config_pipeline_minhash_components_drop_rule(spark):
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    # three mutually-near texts that chain (1~2, 2~3) and one outlier
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("today", "tomorrow")),
            (3, base.replace("today", "tomorrow").replace("quick", "slow")),
            (9, "completely different content about spark shuffles here"),
        ],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "",
        {"processors": [{"type": "dedup_minhash", "components": True}]},
        source=df,
    )
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # one survivor (min id) per near-dup component + the outlier
    assert kept[0] == 1 and 9 in kept and 2 not in kept


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_duplicate_components_matches_union_find(spark, seed):
    # algorithmic property check: random graphs vs an independent
    # pure-Python union-find (seeded — deterministic across runs)
    import random

    rng = random.Random(seed)
    n = 40
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(5, 60))
        }
    )
    want = _union_find(edges)

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = sorted(
        (r["doc_id"], r["component_id"])
        for r in dd.duplicate_components(pairs).collect()
    )
    assert got == want


def test_span_dedup_no_phantom_trailing_sentence(spark):
    # regression: text ending '. ' produced a phantom '' sentence that
    # inflated n_kept and gave every such doc a shared md5('') span
    from opentelemetry_collector_contrib_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, "One two. Three four.  "), (2, "Alpha beta. Gamma delta. \n")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.span_dedup(docs, span=1).collect()}
    # two real sentences each, nothing shared -> all kept, none removed
    assert out[1]["n_kept"] == 2 and out[1]["n_removed"] == 0
    assert out[2]["n_kept"] == 2 and out[2]["n_removed"] == 0
