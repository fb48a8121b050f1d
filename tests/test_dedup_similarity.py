"""Dedup + similarity operator behavior on constructed fixtures."""

from __future__ import annotations

import pytest

from nexus_event_stream_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from nexus_event_stream_spark.operators.similarity import (
    ann_topk_per_vector,
    brute_force_topk,
)
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)

DOC_SCHEMA = "doc_id long, text string, source string"


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank now"
    other = "completely different words about spark catalyst shuffles and parquet"
    return spark.createDataFrame(
        [
            (1, base, "s1"),
            (2, near, "s1"),  # near-dup of 1
            (3, base, "s1"),  # exact dup of 1
            (4, other, "s1"),
            (5, base, "s2"),  # exact dup in another block
        ],
        DOC_SCHEMA,
    )


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[1] == 3  # docs 1, 3, 5 identical
    assert out[2] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup_within_block(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, ["source"], threshold=0.3).collect()
    }
    assert pairs[(1, 3)] == 1.0  # exact dup
    assert 0.5 < pairs[(1, 2)] < 1.0  # near dup
    assert (1, 5) not in pairs  # different block, never compared
    assert (1, 4) not in pairs  # below threshold


def test_ngram_jaccard_refuses_unblocked(docs):
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, [])


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[3] == sigs[5]
    assert sigs[1] != sigs[4]


def test_minhash_arrow_matches_catalyst(spark, docs):
    """The r14 vectorized signature kernel must be BIT-identical to the
    pure-Catalyst formulation (the form the DuckDB oracle mirrors) —
    shingle hash sets AND signatures, across the tokenization edge cases
    (empty text, NULL, consecutive spaces → empty tokens, sub-shingle
    docs, astral-plane code points, CJK) and non-default parameters."""
    edge = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over it", "s1"),
            (2, "", "s1"),
            (3, None, "s1"),
            (4, "a  b  c d e", "s1"),
            (5, "x y", "s1"),
            (6, "x y z", "s1"),
            (7, "astral \U0001D11E clef \U0001F600 emoji here ok", "s1"),
            (8, "中文 words mixed ünicode é́ combining", "s1"),
            (9, " leading and trailing ", "s1"),
            (10, "a b c a b c a b c", "s1"),
        ],
        DOC_SCHEMA,
    )
    for df in (docs, edge):
        for kw in (
            {},
            {"num_perm": 8, "shingle_n": 2},
            {"num_perm": 32, "shingle_n": 5, "seed": 7},
        ):
            a = {
                r["doc_id"]: (list(r["__shingles"]), list(r["sig"]))
                for r in minhash_signatures(df, engine="arrow", **kw).collect()
            }
            c = {
                r["doc_id"]: (list(r["__shingles"]), list(r["sig"]))
                for r in minhash_signatures(
                    df, engine="catalyst", **kw
                ).collect()
            }
            assert a == c, f"engine divergence for {kw}"


def test_minhash_arrow_string_ids_match_catalyst(spark):
    """ADVICE r14: the arrow kernel used to cast id_col to long, nulling
    every non-numeric id. The id column must now pass through untouched
    with its input type, matching the catalyst engine."""
    df = spark.createDataFrame(
        [
            ("docA", "the quick brown fox jumps over it"),
            ("docB", "the quick brown fox jumps over it"),
            ("docC", None),
        ],
        "name string, text string",
    )
    a = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(df, id_col="name", engine="arrow").collect()
    }
    c = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            df, id_col="name", engine="catalyst"
        ).collect()
    }
    assert set(a) == {"docA", "docB", "docC"}
    assert a == c


def test_minhash_dedup_recovers_dup_pairs(docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_dedup(docs, threshold=0.3).collect()
    }
    # exact dups always collide in every band; near-dup 1-2 collides w.h.p.
    assert got[(1, 3)] == 1.0 and got[(1, 5)] == 1.0 and got[(3, 5)] == 1.0
    assert (1, 2) in got
    assert all(a < b for a, b in got)


def test_simhash_pairs_near_dups_close(docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, ["source"], max_hamming=4).collect()
    }
    assert out[(1, 3)] == 0  # identical text → identical fingerprint
    assert (1, 2) in out  # near dup within a few bits
    assert (1, 4) not in out  # unrelated text far away


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="module")
def embs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),  # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
        (4, [0.5, 0.5, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA)


def test_brute_force_topk_order(embs):
    out = brute_force_topk(embs, query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 4, 2]
    assert out[0]["cosine"] > 0.99


def test_ann_lsh_self_consistent(embs):
    out = ann_topk_per_vector(embs, dim=4, k=1, bits=2).collect()
    by_vec = {r["vec_id"]: r for r in out}
    # every reported neighbor shares the vector's bucket and rank==1
    assert all(r["rank"] == 1 for r in out)
    # determinism: re-running yields identical results (seeded hyperplanes)
    out2 = ann_topk_per_vector(embs, dim=4, k=1, bits=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_connected_components_chain_and_clique(spark):
    from nexus_event_stream_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "doc_a long, doc_b long",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def _fold_labels(spark, store, batches):
    """Fold edge batches epoch by epoch through the streaming label fold
    and return the committed ``{node: comp}`` labeling."""
    from nexus_event_stream_spark.streaming.dedup import (
        update_cluster_labels_bucketed,
    )

    for epoch, rows in enumerate(batches):
        pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
        update_cluster_labels_bucketed(spark, store, pairs, epoch, "r")
    return {r["node"]: r["comp"] for r in store.read(spark).collect()}


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend],
    ids=["rename", "cas"],
)
def test_label_fold_matches_full_recompute_on_random_streams(
    spark, tmp_path, backend_cls
):
    """Incremental CC: folding delta-edge batches into an existing
    labeling must label-match a full recompute over the union of every
    edge seen — including batches that BRIDGE two existing components
    and batches introducing brand-new nodes. Trials vary the bucket
    count (1: every epoch rewrites the whole store; 64: epochs rewrite
    only their touched buckets) under both commit backends."""
    import random

    from nexus_event_stream_spark.operators.dedup import connected_components
    from nexus_event_stream_spark.streaming.dedup import bucketed_label_store

    def df_pairs(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    rng = random.Random(7)
    for trial, n_buckets in enumerate((1, 8, 64)):
        n_nodes = 30
        all_edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(40)
        ]
        all_edges = [(a, b) for a, b in all_edges if a != b]
        cut = len(all_edges) // 3
        base, deltas = all_edges[:cut], all_edges[cut:]
        # a base epoch, then the remaining edges in two delta epochs
        mid = len(deltas) // 2
        batches = [b for b in (base, deltas[:mid], deltas[mid:]) if b]
        store = bucketed_label_store(
            str(tmp_path / f"t{trial}"), n_buckets=n_buckets,
            backend=backend_cls(),
        )
        got = _fold_labels(spark, store, batches)
        want = {
            r["node"]: r["comp"]
            for r in connected_components(df_pairs(all_edges)).collect()
        }
        assert got == want, f"trial {trial} diverged"


def test_label_fold_bridges_components_and_adds_nodes(spark, tmp_path):
    """The two interesting deltas, pinned explicitly: an edge bridging
    two settled components relabels the LARGER-labeled one wholesale;
    never-seen nodes join with min-id semantics intact."""
    from nexus_event_stream_spark.streaming.dedup import bucketed_label_store

    store = bucketed_label_store(str(tmp_path / "labels"), n_buckets=8)
    got = _fold_labels(spark, store, [[(1, 2), (10, 11)], [(2, 10), (50, 51)]])
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 50: 50, 51: 50}


def test_dedup_groups_from_minhash_pairs(docs):
    from nexus_event_stream_spark.operators.dedup import dedup_groups

    pairs = minhash_dedup(docs, num_perm=16, shingle_n=3, bands=4, threshold=0.3)
    mapping = {r["doc_id"]: r["keep_id"] for r in dedup_groups(docs, pairs).collect()}
    # docs 1,2,3,5 are exact/near dups of each other (same or near text);
    # 4 is unrelated and must map to itself
    assert mapping[4] == 4
    cluster = {mapping[i] for i in (1, 2, 3, 5)}
    assert cluster == {1}
    # dedup'd corpus = one representative per cluster + the singleton
    kept = sorted({v for v in mapping.values()})
    assert kept == [1, 4]


def test_ann_multiprobe_improves_recall(spark):
    from nexus_event_stream_spark.io import load_table
    from nexus_event_stream_spark.operators.similarity import ann_topk_per_vector

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plain = {
        r["vec_id"]: r["cosine"]
        for r in ann_topk_per_vector(emb, dim=64, k=1, bits=6).collect()
    }
    multi = {
        r["vec_id"]: r["cosine"]
        for r in ann_topk_per_vector(
            emb, dim=64, k=1, bits=6, multiprobe=True
        ).collect()
    }
    # candidate sets are supersets: every vector keeps or improves its
    # best neighbor, and at least as many vectors find one at all
    assert len(multi) >= len(plain)
    assert all(multi[v] >= c - 1e-12 for v, c in plain.items())
    # with 6 bits over 500 vectors, hamming-1 probing should actually help
    assert sum(multi[v] > plain[v] + 1e-12 for v in plain) > 0
