"""End-to-end corpus-preparation pipeline (pipeline.py): the operators
composed in the published order, with row accounting at each stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.pipeline import CorpusRecipe, prepare_training_corpus


def test_full_recipe_on_real_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    recipe = CorpusRecipe(
        quality_thresholds={
            "min_words": 3,
            "max_words": 100_000,
            "min_mean_word_len": 2,
            "max_mean_word_len": 12,
            "max_dup_word_frac_pct": 90,
            "min_alpha_word_frac_pct": 80,
            "max_top_bigram_frac_pct": 50,
        },
        minhash_params={"threshold": 0.05},
        benchmark=bench,
        decontaminate_n=3,
        passage_dedup_n=3,
        mixture={"src0": 2.5, "src1": 0.5},
        seq_len=64,
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    counts = {name: df.count() for name, df in stages.items() if name != "packing"}
    # monotone row accounting through the filter tiers
    assert n0 >= counts["quality"] >= counts["exact_dedup"]
    assert counts["exact_dedup"] >= counts["near_dedup"] >= counts["decontaminated"]
    assert counts["decontaminated"] == counts["passage_dedup"]
    # decontamination really dropped the contaminated docs (the benchmark
    # slice itself trivially self-overlaps, so it must be gone)
    surviving = {r.doc_id for r in stages["decontaminated"].select("doc_id").collect()}
    assert not any(d % 50 == 0 for d in surviving)
    # mixture emits only the recipe's sources, with copy_ids
    mix_rows = stages["mixture"].collect()
    assert {r.source for r in mix_rows} <= {"src0", "src1"}
    assert all(r.copy_id >= 1 for r in mix_rows)
    # packing invariant: every sequence except the last is exactly full
    pack = stages["packing"].collect()
    per_seq = {}
    for r in pack:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.tokens_in_seq
    if len(per_seq) > 1:
        last = max(per_seq)
        assert all(v == 64 for s, v in per_seq.items() if s != last)
    # final corpus df is the mixture output
    assert corpus.columns == stages["mixture"].columns


def test_stages_toggle_off(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    recipe = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    assert stages == {}
    assert corpus is docs


def test_near_dedup_anti_join_null_and_duplicate_ids(spark):
    """The near-dup stage drops the non-keeper ids with a left anti-join.
    A NULL-id document never forms a pair and never matches the anti-join
    key, so it is kept; rows sharing an id are kept or dropped together,
    and never multiplied."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t3 = "red orange yellow green blue indigo violet white black grey"
    t7 = "one two three four five six seven eight nine ten eleven"
    t11 = "spark shuffle planner joins broadcast exchange codegen stage"
    docs = spark.createDataFrame(
        [
            (1, t1),
            (2, t1),  # near-dup of 1 → dropped
            (None, t1),  # NULL id, same text as 1 → kept
            (3, t3),
            (5, t3),  # both id-5 rows duplicate 3 → dropped together
            (5, t3),
            (7, t7),  # both id-7 rows are the keeper → kept, once each
            (7, t7),
            (9, t7),  # near-dup of 7 → dropped
            (11, t11),
        ],
        "doc_id long, text string",
    )
    recipe = CorpusRecipe(
        quality=False,
        redact_pii=False,
        exact_dedup=False,
        near_dedup=True,
        minhash_params={"threshold": 0.5},
    )
    corpus, _ = prepare_training_corpus(docs, recipe)
    ids = [r.doc_id for r in corpus.collect()]
    assert ids.count(None) == 1
    assert sorted(i for i in ids if i is not None) == [1, 3, 7, 7, 11]


def test_pii_stage_rewrites_text(spark):
    docs = spark.createDataFrame(
        [(1, "mail me at a.b@example.com ok five words here", "s")],
        "doc_id long, text string, source string",
    )
    recipe = CorpusRecipe(
        quality=False, exact_dedup=False, near_dedup=False
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    out = corpus.collect()[0]
    assert "<EMAIL>" in out.text and "example.com" not in out.text
    assert corpus.columns == docs.columns


def test_persist_deduped_results_identical(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    base = dict(
        minhash_params={"threshold": 0.05},
        benchmark=bench,
        decontaminate_n=3,
        passage_dedup_n=3,
    )
    plain, _ = prepare_training_corpus(docs, CorpusRecipe(**base))
    fast, stages = prepare_training_corpus(
        docs, CorpusRecipe(**base, persist_deduped=True)
    )
    try:
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, fast.collect())
        )
    finally:
        stages["near_dedup"].unpersist()
        stages["exact_dedup"].unpersist()


def test_pipeline_plans_catalyst_only_no_cartesian(spark, sf_dir):
    # composition must not smuggle in a Python-eval stage or a cartesian
    # join: every stage is built from Catalyst expressions and keyed
    # joins, so the whole sweep stays JVM-side and shuffle-bounded
    docs = load_table(spark, sf_dir, "documents")
    recipe = CorpusRecipe(
        minhash_params={"threshold": 0.05},
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        decontaminate_n=3,
        passage_dedup_n=3,
        mixture={"src0": 1.5, "src1": 1.0},
        seq_len=64,
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    for df in (corpus, stages["packing"]):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan  # no BatchEvalPython/ArrowEvalPython


def test_custom_id_col_threads_through_every_stage(spark):
    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i} f{i} g{i} h{i}", "s")
         for i in range(30)],
        "id long, text string, source string",
    )
    recipe = CorpusRecipe(
        quality=False,
        minhash_params={"threshold": 0.05},
        benchmark=docs.filter(F.col("id") % 10 == 0),
        decontaminate_n=3,
        passage_dedup_n=3,
        mixture={"s": 1.5},
        seq_len=16,
    )
    corpus, stages = prepare_training_corpus(docs, recipe, id_col="id")
    assert "id" in corpus.columns and corpus.count() > 0
    assert stages["packing"].count() > 0


def test_mixture_weight_overflowing_copy_stride_rejected(spark):
    docs = spark.createDataFrame(
        [(1, "some text here", "s")], "doc_id long, text string, source string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="COPY_STRIDE"):
        prepare_training_corpus(
            docs,
            CorpusRecipe(
                quality=False, exact_dedup=False, near_dedup=False,
                mixture={"s": 5000.0}, seq_len=8,
            ),
        )


def test_learned_quality_gate_stage(spark, sf_dir):
    from nexus_event_stream_spark.operators.classifier import train_logreg
    from nexus_event_stream_spark.operators.quality import quality_signals

    docs = load_table(spark, sf_dir, "documents")
    feats = ["n_words", "mean_word_len", "dup_word_frac",
             "top_bigram_frac", "n_stopwords"]
    thresholds = {
        "min_words": 3, "max_words": 100_000, "min_mean_word_len": 2,
        "max_mean_word_len": 12, "max_dup_word_frac_pct": 50,
        "min_alpha_word_frac_pct": 80, "max_top_bigram_frac_pct": 10,
    }
    sig = quality_signals(docs, thresholds=thresholds)
    model = train_logreg(sig, feats, "quality_pass", iters=25)
    recipe = CorpusRecipe(
        quality_thresholds=thresholds,
        quality_model=model,
        exact_dedup=False,
        near_dedup=False,
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    n_rules, n_model = stages["quality"].count(), stages["quality_model"].count()
    # the learned gate tightens (or equals) the rule gate's survivors
    assert 0 < n_model <= n_rules
    # stage plan stays a pure projection chain — no shuffle added
    plan = stages["quality_model"]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count(") Exchange") == 0


def test_cdc_gate_drops_mostly_copied_docs(spark):
    def passage(seed, n):
        out, x = [], seed
        for _ in range(n):
            x = (1103515245 * x + 12345) % (2**31)
            out.append(chr(97 + x % 26))
        return "".join(out)

    p = passage(7, 300)
    docs = spark.createDataFrame(
        [
            (0, passage(1, 260), "s"),           # original content
            (1, passage(2, 30) + p, "s"),        # will own p (first)
            (2, passage(3, 20) + p + "xy", "s"), # mostly a shifted copy
            (3, passage(4, 250), "s"),           # unrelated
        ],
        "doc_id long, text string, source string",
    )
    recipe = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False,
        cdc_divisor=16, cdc_max_dup_frac=0.5,
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    kept = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert 2 not in kept          # shifted near-copy gated out
    assert {0, 1, 3} <= kept      # originals survive
    assert corpus.columns == docs.columns


def test_drift_gate_passes_identical_and_refuses_shifted(spark, sf_dir):
    """VERDICT r6: a production pipeline refuses to publish a snapshot
    whose profile drifted from the pinned reference — fail closed, with
    the full drift report on the error; identical data passes through."""
    import pytest

    from nexus_event_stream_spark.operators.drift import corpus_profile
    from nexus_event_stream_spark.pipeline import CorpusDriftError

    docs = load_table(spark, sf_dir, "documents")
    # reference = the profile of the ACCEPTED post-hygiene corpus: run the
    # same recipe once without the gate and pin its output profile
    base_recipe = CorpusRecipe(minhash_params={"threshold": 0.05})
    accepted, _ = prepare_training_corpus(docs, base_recipe)
    reference = corpus_profile(accepted)

    # pass-through: same corpus, same recipe, gate armed → publishes
    gated = CorpusRecipe(
        minhash_params={"threshold": 0.05}, reference_profile=reference
    )
    corpus, stages = prepare_training_corpus(docs, gated)
    assert corpus.count() == accepted.count()

    # injected break: the feed flips to alien short tokens → REFUSED
    alien = docs.withColumn(
        "text",
        F.concat(
            F.lit("zq xv wk jn qp zzqq vvxx wkjn "),
            F.col("doc_id").cast("string"),
        ),
    )
    with pytest.raises(CorpusDriftError) as exc:
        prepare_training_corpus(alien, gated)
    assert exc.value.report["drifted"] is True
    assert len(exc.value.report["flags"]) > 0


def test_semantic_dedup_stage(spark):
    """Planted paraphrase pair (disjoint shingles, near-identical
    embeddings): MinHash keeps both, the semantic stage drops one; a doc
    with no embedding row passes through untouched."""
    from pyspark.sql import types as T

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a fast auburn vulpine leaps across an idle canine now"),
            (3, "completely unrelated text about spark shuffle planning"),
            (4, "this document has no embedding row at all and stays"),
        ],
        "doc_id long, text string",
    )
    base = [float((i * 37 % 19) - 9) for i in range(16)]
    emb = spark.createDataFrame(
        [
            (1, base),
            (2, [v + 1e-4 for v in base]),  # semantic twin of doc 1
            (3, [float((i * 53 % 17) - 8) for i in range(16)]),
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    recipe = CorpusRecipe(
        quality=False,
        redact_pii=False,
        exact_dedup=False,
        near_dedup=True,
        minhash_params={"threshold": 0.9},  # paraphrase shares no shingles
        embeddings=emb,
        semantic_params={"eps": 0.99, "n_clusters": 2, "iters": 2},
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    assert "semantic_dedup" in stages
    surviving = {r.doc_id for r in corpus.select("doc_id").collect()}
    # lexical near-dedup kept all 4 (no shingle overlap at 0.9)
    assert {r.doc_id for r in stages["near_dedup"].select("doc_id").collect()} == {1, 2, 3, 4}
    # exactly one of the semantic twins survives; 3 and 4 untouched
    assert len(surviving & {1, 2}) == 1
    assert {3, 4} <= surviving


def test_bm25_decontamination_catches_paraphrase(spark):
    """A paraphrased benchmark doc shares NO 13-gram with the benchmark
    (the exact probe misses it) but shares its rare terms — the BM25
    stage catches it, clean docs survive, and the scoring join stays
    broadcast-probe shaped."""
    bench = spark.createDataFrame(
        [
            (
                9001,
                "In what year did the quetzalcoatl glider cross the "
                "zanzibar archipelago carrying iridescent cartography "
                "equipment for the expedition",
            )
        ],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # paraphrase: same rare terms, different order/phrasing —
            # no shared 13-gram
            (
                1,
                "The iridescent quetzalcoatl glider carried cartography "
                "gear across zanzibar during an archipelago expedition",
            ),
            # clean docs: common words only
            (2, "the quick brown fox jumps over the lazy dog every day"),
            (3, "streaming joins aggregate events into windowed tables"),
            (4, "a plain document about ordinary topics and daily life"),
        ],
        "doc_id long, text string",
    )
    recipe = CorpusRecipe(
        quality=False,
        redact_pii=False,
        exact_dedup=False,
        near_dedup=False,
        benchmark=bench,
        decontaminate_n=13,
        # measured: paraphrase tops at 2.47, noisiest clean doc at 0.90
        # (stop-words vs the 1-doc benchmark) — 1.5 splits them
        bm25_decontaminate_floor=1.5,
        bm25_params={"max_df_frac": 1.0},
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    # the exact 13-gram stage missed the paraphrase…
    assert {r.doc_id for r in stages["decontaminated"].collect()} == {1, 2, 3, 4}
    # …the BM25 stage caught it and only it
    survived = {r.doc_id for r in stages["bm25_decontaminated"].collect()}
    assert survived == {2, 3, 4}
    assert {r.doc_id for r in corpus.collect()} == {2, 3, 4}
    # plan: benchmark postings broadcast, no cartesian anywhere
    plan = (
        stages["bm25_decontaminated"]
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_decontamination_benchmark_without_id_col(spark):
    """A benchmark with only a text column still works (provenance ids
    synthesized), and a floor above every score drops nothing."""
    bench = spark.createDataFrame(
        [("unique zanzibar cartography quetzalcoatl phrases",)],
        "text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "zanzibar cartography notes with quetzalcoatl sightings"),
            (2, "completely unrelated text about cooking pasta"),
        ],
        "doc_id long, text string",
    )
    low = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False,
        benchmark=bench, bm25_decontaminate_floor=0.001,
        bm25_params={"max_df_frac": 1.0},
    )
    # decontaminate_n still runs (benchmark set): harmless, no 13-grams
    corpus_low, _ = prepare_training_corpus(docs, low)
    assert {r.doc_id for r in corpus_low.collect()} == {2}
    high = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False,
        benchmark=bench, bm25_decontaminate_floor=1e9,
        bm25_params={"max_df_frac": 1.0},
    )
    corpus_high, _ = prepare_training_corpus(docs, high)
    assert {r.doc_id for r in corpus_high.collect()} == {1, 2}


def test_lm_perplexity_gate_drops_out_of_distribution(spark, sf_dir):
    """The CCNet-style gate: a char-LM trained on the corpus itself lets
    corpus docs through and drops injected gibberish — zero shuffle, no
    join-back."""
    from nexus_event_stream_spark.operators.lm import (
        perplexity_score,
        train_char_lm,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    model = train_char_lm(docs, n=3, min_count=2)
    gibberish = spark.createDataFrame(
        [(10**9, "src0", "xq zvvkjq pf wjx qzkv jjj qqq zzz")],
        "doc_id long, source string, text string",
    )
    mixed = docs.unionByName(gibberish)
    # ceiling between the corpus band and the gibberish score
    scores = {
        int(r.doc_id): float(r.ppl_char)
        for r in perplexity_score(mixed, model).collect()
    }
    corpus_max = max(v for k, v in scores.items() if k != 10**9)
    assert scores[10**9] > corpus_max
    ceiling = (corpus_max + scores[10**9]) / 2
    recipe = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False,
        lm_model=model, lm_ppl_max=ceiling,
    )
    corpus, stages = prepare_training_corpus(mixed, recipe)
    survived = {r.doc_id for r in stages["lm_perplexity"].collect()}
    assert 10**9 not in survived
    assert len(survived) == docs.count()
    # zero shuffle: the gate is one Arrow kernel + filter
    plan = (
        stages["lm_perplexity"]._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_recipe_pii_patterns_reaches_luhn_cc_kind(spark):
    """r12: pii_patterns threads through CorpusRecipe so the Luhn "cc"
    kind is reachable — a planted test PAN is redacted while a
    Luhn-FAILING 16-digit order id survives; the default recipe stays
    byte-identical (no patterns → the regexp trio)."""
    pan_doc = "card 4111 1111 1111 1111 on file for renewals"
    order_doc = "order 4111 1111 1111 1112 shipped yesterday ok"
    docs = spark.createDataFrame(
        [(0, pan_doc), (1, order_doc)], "doc_id long, text string"
    )
    recipe = CorpusRecipe(
        quality=False, exact_dedup=False, near_dedup=False,
        pii_patterns=("email", "ipv4", "phone", "cc"),
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    rows = {r.doc_id: r.text for r in corpus.collect()}
    assert "<CC>" in rows[0] and "4111" not in rows[0]
    assert rows[1] == order_doc  # Luhn-failing id untouched
    assert "pii" in stages
    # zero shuffle: the stage is a pure projection
    plan = stages["pii"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # defaults unchanged: without pii_patterns the PAN passes through
    base, _ = prepare_training_corpus(
        docs,
        CorpusRecipe(quality=False, exact_dedup=False, near_dedup=False),
    )
    assert {r.doc_id: r.text for r in base.collect()}[0] == pan_doc


def test_recipe_cms_rare_gram_gate(spark):
    """r12: the RECIPES §5d CMS rarity example as a real recipe stage —
    a gibberish doc whose word 3-grams were never seen in the frequency
    corpus drops; an in-distribution doc survives; zero shuffle."""
    from nexus_event_stream_spark.operators.cms import cms_build_for
    from nexus_event_stream_spark.functions.text import (
        ngrams_from_tokens,
        tokens,
    )
    from pyspark.sql import functions as F

    base_texts = [
        "the quick brown fox jumps over the lazy dog again today",
        "the quick brown fox naps under the old oak tree quietly",
    ] * 3
    freq_corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base_texts)],
        "doc_id long, text string",
    )
    grams = freq_corpus.select(
        F.explode(ngrams_from_tokens(tokens(F.col("text")), 3)).alias("g")
    )
    sk = cms_build_for(grams, "g", epsilon=0.01, delta=0.01)
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again today"),
            (1, "zxq wvv kjq pfw jxq zkv jjq qqz zzx vvk"),  # unseen grams
        ],
        "doc_id long, text string",
    )
    recipe = CorpusRecipe(
        quality=False, redact_pii=False, exact_dedup=False, near_dedup=False,
        cms_model=sk, rare_gram_max=0.5, cms_gram_n=3, cms_min_count=2,
    )
    corpus, stages = prepare_training_corpus(docs, recipe)
    assert [r.doc_id for r in corpus.collect()] == [0]
    assert "rare_grams" in stages
    plan = (
        stages["rare_grams"]._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
