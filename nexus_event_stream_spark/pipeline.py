"""End-to-end training-corpus preparation — the operators composed into
the actual product.

Every published pre-training pipeline runs the same ordered sweep; this
module wires this repo's operators into that sweep behind one recipe
object, entirely lazily (one Catalyst plan per stage, nothing collected):

1. quality filter        quality_signals → keep quality_pass = 1
2. learned quality gate  score_logreg on the same signals → threshold
2b. LM perplexity gate   char-n-gram perplexity ≤ ceiling (CCNet-style
                         out-of-distribution filtering, zero shuffle)
3. PII redaction         pii_redact → text becomes the redacted text
4. exact dedup           md5 digest groups → keep the min-id copy
5. near-dup dedup        MinHash-LSH pairs → connected components →
                         keep the component representative
6. decontamination       benchmark n-gram overlap → drop contaminated
6b. BM25 decontamination benchmark-indexed retrieval probe → drop docs
                         whose top BM25 match clears the score floor
                         (catches paraphrases the exact n-grams miss)
7. CDC shifted-copy gate content-defined-chunk duplicated-char
                         fraction ≤ threshold (near-copies at offsets)
8. passage-level dedup   C4 span rule → text becomes the cleaned text
9. mixture               deterministic per-source weights (copy_id)
10. sequence packing     GPT-style placement map (separate output)

Stage order matters and is the published one: quality/PII are per-doc
(cheap, shuffle-free) and run first to shrink everything downstream;
exact dedup precedes MinHash so mass-duplicated texts never reach the
LSH tier (see ngram_jaccard_pairs' cap caveat); decontamination runs on
the deduplicated corpus; mixture and packing are loader-facing and come
last. Each stage is optional — an unset recipe field skips it.

Scale: the pipeline inherits each operator's shape (quality/PII/mixture
map-side; dedup tiers capped + bucketed; decontamination a broadcast
probe; packing the two-level prefix sum). Nothing here adds a shuffle,
a collect, or driver state of its own.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_event_stream_spark.functions.text import token_count
from nexus_event_stream_spark.operators.dedup import (
    connected_components,
    exact_dedup_annotate,
    minhash_dedup,
)
from nexus_event_stream_spark.operators.packing import pack_sequences
from nexus_event_stream_spark.operators.quality import (
    QUALITY_THRESHOLDS,
    benchmark_ngrams,
    decontaminate,
    pii_redact,
    quality_pass_checks,
    quality_signals,
    segment_dedup,
)
from nexus_event_stream_spark.operators.sampling import mix_corpus

#: copy_id is packed into the packing order key as doc_id*COPY_STRIDE+copy_id;
#: mixture weights beyond this many copies per doc are a recipe error.
COPY_STRIDE = 4096


class CorpusDriftError(RuntimeError):
    """The post-hygiene corpus drifted past the recipe's pinned reference
    profile — the snapshot was REFUSED, not published. ``report`` carries
    the full drift_report (metrics + flags) for the page."""

    def __init__(self, report: dict):
        self.report = report
        super().__init__(
            f"corpus drift gate failed closed: flags={report['flags']} "
            f"metrics={report['metrics']}"
        )


@dataclass
class CorpusRecipe:
    """Which hygiene stages to run, with their parameters.

    ``None`` (or False) disables a stage. Defaults run the filter tiers
    and skip the loader-facing ones (mixture/packing need a recipe).
    """

    quality: bool = True
    quality_thresholds: dict | None = None
    #: cross-document boilerplate line removal (RefinedWeb's line tier,
    #: operators/quality.boilerplate_lines): lines occurring in ≥
    #: max(10, frac·N) distinct documents — nav chrome, cookie banners —
    #: are stripped from EVERY document before any text statistic is
    #: computed. None disables. Note: mining the line set runs two
    #: eager jobs at recipe time (corpus count + the blocklist build —
    #: the blocklist must exist to broadcast), the one documented
    #: exception to lazy composition alongside the benchmark jobs.
    boilerplate_line_frac: float | None = None
    #: WITHIN-document repetition removal (Gopher, Rae et al. 2021 Table
    #: A1 — operators/quality.repetition_signals): drop documents whose
    #: duplicate-line/paragraph fractions or top/duplicated n-gram char
    #: coverage exceed the published caps. Complements the CROSS-document
    #: dedup tiers — a doc that repeats itself passes every corpus-level
    #: dedup yet is exactly the low-quality generation-loop text Gopher
    #: removes. Runs before the rule quality gate (the published order);
    #: ``repetition_thresholds`` overrides REPETITION_THRESHOLDS.
    repetition: bool = False
    repetition_thresholds: dict | None = None
    #: per-language OVERRIDES of the repetition caps, merged over
    #: ``repetition_thresholds`` — the lang_quality_thresholds twin
    #: (scripts differ in natural repetition: CJK line lengths, liturgical
    #: or legal registers repeat structurally). Same CASE-chain
    #: re-evaluation over the SAME signal columns, no recompute; requires
    #: ``lang_models`` and ``repetition=True``.
    lang_repetition_thresholds: dict | None = None
    redact_pii: bool = True
    #: which PII kinds the redaction stage scrubs (r12): None = the
    #: regexp trio (email/ipv4/phone — historical behavior). Add
    #: ``"cc"`` to opt into Luhn-validated payment-card redaction —
    #: checksum-gated so a bare 16-digit order id survives. Passed
    #: straight to ``operators.quality.pii_redact``.
    pii_patterns: tuple | None = None
    #: dedup against a FROZEN reference corpus (operators/bloom_dedup.py,
    #: the Dolma pattern): a BloomFilter built once by
    #: ``reference_corpus_bloom`` over the existing training set; new
    #: snapshots probe it map-side — no join against history, history
    #: never re-read. Grain 'document' drops hit documents; 'paragraph'
    #: strips hit paragraphs (rows preserved). Runs BEFORE the
    #: within-corpus dedup tiers: content the model already trained on
    #: leaves first, then the snapshot dedups against itself.
    reference_bloom: "BloomFilter | None" = None
    reference_bloom_grain: str = "document"
    exact_dedup: bool = True
    near_dedup: bool = True
    minhash_params: dict = field(default_factory=dict)
    benchmark: DataFrame | None = None
    decontaminate_n: int = 13
    #: retrieval-augmented decontamination (operators/search.py
    #: bm25_score_docs): when set (and ``benchmark`` is set), a BM25
    #: index of the benchmark corpus is built and every surviving doc is
    #: scored as a query against it; docs whose TOP match scores at or
    #: above the floor drop. The semantic complement to the exact
    #: ``decontaminate_n``-gram probe — a paraphrased eval question
    #: shares no 13-gram but still shares the rare terms BM25 weights
    #: highest. The floor is corpus-calibrated (scores grow with doc
    #: length and term rarity); calibrate on a held-out clean slice.
    #: Building the index runs two small jobs at recipe time (benchmark
    #: scalars) — eval suites are tiny, the probe itself stays lazy.
    bm25_decontaminate_floor: float | None = None
    #: forwarded to build_bm25_index / bm25_score_docs (k1, b,
    #: max_df_frac, min_df overrides)
    bm25_params: dict = field(default_factory=dict)
    passage_dedup_n: int | None = None
    #: token-level exact-substring dedup (operators/exact_substr.py,
    #: Lee et al. 2022 ExactSubstr — r11): every LATER occurrence of any
    #: ≥ ``exact_substr_min_len``-token span that repeats corpus-wide is
    #: removed from the text (corpus-first copy kept). Runs AFTER the
    #: segment-grain passage dedup — the sliding grain catches the
    #: boundary-straddling spans segments structurally miss; None
    #: disables. ``exact_substr_anchor_k`` tunes the winnowing gram size
    #: (None = min_len // 2; correctness is independent of the choice).
    exact_substr_min_len: int | None = None
    exact_substr_anchor_k: int | None = None
    #: shift-robust duplicated-passage gate (cdc_dedup): drop documents
    #: whose content-defined-chunk duplicated-char fraction exceeds
    #: ``cdc_max_dup_frac``. Catches documents that are mostly copies of
    #: earlier content at arbitrary offsets — the case word-aligned
    #: passage dedup structurally misses. None disables.
    cdc_divisor: int | None = None
    cdc_max_dup_frac: float = 0.5
    #: semantic near-dup gate (operators/semdedup.py, SemDeDup): an
    #: embeddings DataFrame with (id_col, ``embedding_col``) rows. When
    #: set, runs right after the lexical near-dedup — MinHash catches
    #: edit-level mirrors cheaply, the semantic pass catches paraphrases
    #: that share no shingles. Docs with no embedding row pass through
    #: (an embedding-coverage gap must not silently drop documents);
    #: ``semantic_params`` forwards eps / n_clusters / centroids /
    #: max_pairwise / keep to ``semantic_dedup``.
    embeddings: DataFrame | None = None
    embedding_col: str = "embedding"
    semantic_params: dict = field(default_factory=dict)
    mixture: dict[str, float] | None = None
    mixture_source_col: str = "source"
    seq_len: int | None = None
    #: learned quality gate (operators/classifier.py): a trained logreg
    #: model dict plus the score threshold. Runs right after the
    #: heuristic quality stage — the model scores the same signal
    #: columns (recomputed map-side, still zero shuffle) and docs below
    #: the threshold drop. The standard two-tier recipe: cheap rules
    #: first, learned scorer second.
    #: LM perplexity gate (operators/lm.py, the CCNet recipe): a trained
    #: char-n-gram model dict plus a per-char perplexity ceiling. Runs
    #: right after the learned quality gate — rules catch structure, the
    #: classifier catches labeled badness, perplexity catches
    #: out-of-distribution text without labels. Zero shuffle (the scores
    #: ride the doc rows through one Arrow kernel, filter, drop).
    lm_model: dict | None = None
    lm_ppl_max: float = 1_000.0
    #: CMS rare-gram gate (r12, operators/cms.py — the RECIPES §5d
    #: example as a real stage, the lm_ppl_max pattern): a Count-Min
    #: sketch of corpus n-gram frequencies plus a ceiling on the
    #: fraction of a document's grams estimated rarer than
    #: ``cms_min_count``. Catches machine-generated gibberish whose
    #: grams are individually plausible but collectively never-seen —
    #: the complement of the perplexity gate (char-level) at word-gram
    #: level. One-sided by CMS construction: a gram called rare IS rare,
    #: so the gate never over-drops from sketch error. Zero shuffle —
    #: the probe rides the doc scan inside HOF lambdas.
    cms_model: "CMSketch | None" = None
    rare_gram_max: float = 0.95
    cms_gram_n: int = 3
    cms_min_count: int = 2
    #: KN word-bigram perplexity gate (r14, operators/knlm.py — the
    #: CCNet WORD-model cut beside the char-LM gate; its model state is
    #: DataFrames, so a web-scale vocabulary never has to fit the
    #: driver). Scoring is explode → broadcast joins → per-doc agg —
    #: the one opt-in gate that aggregates rather than riding the scan,
    #: priced accordingly in SCALE.md.
    kn_model: "KNBigramModel | None" = None
    kn_ppl_max: float = 1_000.0
    #: per-language routing (r11): ``{lang: train_char_lm(...)}`` — one
    #: char-LM per language, trained on a trusted slice of that
    #: language. When set, a ``language_id`` stage (operators/lm.py,
    #: argmax per-char log-likelihood, one zero-shuffle kernel for ALL
    #: models) runs FIRST and its ``lang`` column rides the whole
    #: funnel into the final corpus — the mixture/packing loaders and
    #: the per-language thresholds below all key on it.
    lang_models: dict | None = None
    #: per-language OVERRIDES of the quality thresholds, merged over
    #: ``quality_thresholds`` (languages differ structurally: mean word
    #: length, stopword base rates — one global threshold set either
    #: over-filters one language or under-filters another; CCNet runs
    #: its whole pipeline per language for exactly this reason).
    #: ``{lang: {threshold overrides}}``; unlisted languages (and
    #: unidentified docs, lang NULL) use the base thresholds. Requires
    #: ``lang_models`` and ``quality=True``.
    lang_quality_thresholds: dict | None = None
    #: per-language stopword lists for ``n_stopwords`` (r12): the signal
    #: itself — not just its threshold — must be language-routed, or a
    #: German doc scores ~0 stopword density against English function
    #: words and the routed thresholds gate a wrong number.
    #: ``{lang: (words, ...)}`` — start from
    #: ``operators.quality.STOPWORD_TABLES`` and extend; unlisted
    #: languages and NULL ``lang`` use the English default (the
    #: threshold-routing fallback convention). Requires ``lang_models``.
    lang_stopwords: dict | None = None
    quality_model: dict | None = None
    quality_model_features: tuple[str, ...] = (
        "n_words",
        "mean_word_len",
        "dup_word_frac",
        "top_bigram_frac",
        "n_stopwords",
    )
    quality_model_threshold: float = 0.5
    #: drift publish-gate (operators/drift.py): a pinned CorpusProfile of
    #: the reference distribution (last week's accepted snapshot). When
    #: set, the pipeline profiles the post-hygiene corpus (after every
    #: filter tier, before the loader-facing mixture/packing stages — the
    #: content distribution is what drifts, reweighting is policy) and
    #: FAILS CLOSED with CorpusDriftError if drift_report flags it: a
    #: production pipeline must refuse to publish a snapshot whose
    #: distribution broke, not ship it and page later. This field makes
    #: prepare_training_corpus eager (profiling is scan-shaped jobs) —
    #: gates that fail closed must evaluate. (The semantic-dedup stage
    #: is also eager unless ``semantic_params`` carries pretrained
    #: ``centroids`` — k-means training runs jobs at recipe time.)
    reference_profile: object | None = None
    drift_thresholds: dict | None = None
    #: persist the corpus at the two dedup boundaries. The filter tiers
    #: otherwise re-execute for every downstream reference: the
    #: post-EXACT-dedup corpus feeds the MinHash signature build, the CC
    #: docs side, and the representative join (3× the quality/PII/digest
    #: subtree — measured 3× wall on the sf0.1 sweep), and the
    #: post-NEAR-dedup corpus is probed twice by decontamination and
    #: three times by passage dedup. MEMORY_AND_DISK (evictable,
    #: spills); caller unpersists via the returned "exact_dedup" /
    #: "near_dedup" stage handles when done.
    persist_deduped: bool = False


def prepare_training_corpus(
    docs: DataFrame,
    recipe: CorpusRecipe,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Run the recipe's stages over ``docs``; returns ``(corpus, stages)``.

    ``corpus`` is the final document DataFrame (original columns, plus
    ``copy_id`` if mixture ran). ``stages`` maps stage name → the
    DataFrame as of that stage (for row accounting / provenance audits;
    all lazy — counting them is the caller's choice), plus
    ``"packing"`` → the (doc, seq) placement map when ``seq_len`` is
    set.
    """
    stages: dict[str, DataFrame] = {}
    cur = docs

    if recipe.lang_quality_thresholds and not recipe.lang_models:
        raise ValueError("lang_quality_thresholds requires lang_models")
    if recipe.lang_repetition_thresholds and not recipe.lang_models:
        raise ValueError("lang_repetition_thresholds requires lang_models")
    if recipe.lang_stopwords and not recipe.lang_models:
        raise ValueError("lang_stopwords requires lang_models")
    if recipe.lang_models:
        from nexus_event_stream_spark.operators.lm import language_id

        # lang joins the document columns here, so every later
        # select(*docs.columns) carries it into the final corpus
        docs = language_id(
            docs,
            recipe.lang_models,
            id_col=id_col,
            text_col=text_col,
            keep_cols=True,
        ).select(*docs.columns, "lang")
        cur = docs
        stages["language_id"] = cur

    if recipe.boilerplate_line_frac is not None:
        from nexus_event_stream_spark.operators.quality import (
            boilerplate_lines,
            strip_boilerplate_lines,
        )

        boiler = boilerplate_lines(
            cur,
            min_doc_frac=recipe.boilerplate_line_frac,
            text_col=text_col,
            id_col=id_col,
        )
        cur = strip_boilerplate_lines(
            cur, boiler, text_col=text_col, id_col=id_col
        )
        stages["boilerplate_lines"] = cur

    if recipe.repetition:
        from nexus_event_stream_spark.operators.quality import (
            REPETITION_THRESHOLDS,
            repetition_pass_checks,
            repetition_signals,
        )

        rep = repetition_signals(
            cur, text_col, thresholds=recipe.repetition_thresholds
        )
        if recipe.lang_repetition_thresholds:
            # same CASE-chain routing as the quality stage: re-evaluate
            # the integer-exact checks per language over the SAME signal
            # columns, base caps for unlisted/unidentified (lang NULL)
            base_t = recipe.repetition_thresholds or REPETITION_THRESHOLDS
            routed = None
            for lang in sorted(recipe.lang_repetition_thresholds):
                branch = repetition_pass_checks(
                    {**base_t, **recipe.lang_repetition_thresholds[lang]}
                )
                cond = F.col("lang") == lang
                routed = (
                    F.when(cond, branch)
                    if routed is None
                    else routed.when(cond, branch)
                )
            rep = rep.withColumn(
                "repetition_pass",
                F.when(
                    routed.otherwise(repetition_pass_checks(base_t)), 1
                ).otherwise(0).cast("bigint"),
            )
        cur = rep.filter(F.col("repetition_pass") == 1).select(*docs.columns)
        stages["repetition"] = cur

    sig = None
    if recipe.quality:
        sig = quality_signals(
            cur,
            text_col,
            thresholds=recipe.quality_thresholds,
            stopwords=recipe.lang_stopwords,
        )
        if recipe.lang_quality_thresholds:
            # re-evaluate the pass predicate per language over the SAME
            # signal columns (no recompute): a CASE chain of the
            # integer-exact checks, base thresholds for unlisted
            # languages and unidentified (lang NULL) docs
            base_t = recipe.quality_thresholds or QUALITY_THRESHOLDS
            routed = None
            for lang in sorted(recipe.lang_quality_thresholds):
                branch = quality_pass_checks(
                    {**base_t, **recipe.lang_quality_thresholds[lang]}
                )
                cond = F.col("lang") == lang
                routed = (
                    F.when(cond, branch)
                    if routed is None
                    else routed.when(cond, branch)
                )
            sig = sig.withColumn(
                "quality_pass",
                F.when(
                    routed.otherwise(quality_pass_checks(base_t)), 1
                ).otherwise(0).cast("bigint"),
            )
        sig = sig.filter(F.col("quality_pass") == 1)
        cur = sig.select(*docs.columns)
        stages["quality"] = cur

    if recipe.quality_model is not None:
        from nexus_event_stream_spark.operators.classifier import score_logreg

        # reuse the rule stage's signal columns when it ran — the signal
        # projection (tokenize + bigram fold) is the hot map-side cost
        # and Catalyst cannot CSE across two separate quality_signals
        # calls; docs with NULL signals (degenerate empties) drop here.
        base = (
            sig
            if sig is not None
            else quality_signals(
                cur,
                text_col,
                thresholds=recipe.quality_thresholds,
                stopwords=recipe.lang_stopwords,
            )
        )
        scored = score_logreg(
            base, recipe.quality_model, list(recipe.quality_model_features)
        )
        cur = scored.filter(
            F.col("quality_score") >= recipe.quality_model_threshold
        ).select(*docs.columns)
        stages["quality_model"] = cur

    if recipe.lm_model is not None:
        from nexus_event_stream_spark.operators.lm import lm_gate

        cur = lm_gate(
            cur, recipe.lm_model, ppl_max=recipe.lm_ppl_max,
            id_col=id_col, text_col=text_col,
        )
        stages["lm_perplexity"] = cur

    if recipe.kn_model is not None:
        from nexus_event_stream_spark.operators.knlm import kn_gate

        cur = kn_gate(
            cur, recipe.kn_model, max_ppl=recipe.kn_ppl_max,
            id_col=id_col, text_col=text_col,
        )
        stages["kn_perplexity"] = cur

    if recipe.cms_model is not None:
        from nexus_event_stream_spark.operators.cms import rare_gram_frac

        scored = rare_gram_frac(
            cur,
            recipe.cms_model,
            n=recipe.cms_gram_n,
            min_count=recipe.cms_min_count,
            text_col=text_col,
        )
        cur = scored.filter(
            F.col("rare_gram_frac") <= recipe.rare_gram_max
        ).select(*docs.columns)
        stages["rare_grams"] = cur

    if recipe.redact_pii:
        red = pii_redact(cur, text_col, patterns=recipe.pii_patterns)
        # the closing select prunes whatever count columns the chosen
        # pattern set added (n_cc only exists when "cc" is opted in)
        cur = (
            red.drop(text_col)
            .withColumnRenamed("redacted", text_col)
            .select(*docs.columns)
        )
        stages["pii"] = cur

    if recipe.reference_bloom is not None:
        from nexus_event_stream_spark.operators.bloom_dedup import (
            bloom_dedup_documents,
            bloom_dedup_paragraphs,
        )

        if recipe.reference_bloom_grain == "document":
            cur = bloom_dedup_documents(
                cur, recipe.reference_bloom, text_col
            )
        elif recipe.reference_bloom_grain == "paragraph":
            cur = bloom_dedup_paragraphs(
                cur, recipe.reference_bloom, text_col, id_col=id_col
            ).select(*docs.columns)
        else:
            raise ValueError(
                "reference_bloom_grain must be 'document' or 'paragraph', "
                f"got {recipe.reference_bloom_grain!r}"
            )
        stages["reference_dedup"] = cur

    if recipe.exact_dedup:
        cur = (
            exact_dedup_annotate(cur, text_col, id_col)
            .filter(F.col(id_col) == F.col("exact_keep_id"))
            .drop("exact_keep_id", "n_copies")
        )
        if recipe.persist_deduped:
            from pyspark import StorageLevel

            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
        stages["exact_dedup"] = cur

    # §2.6 overlap (r15): the benchmark-side decontamination setup (gram
    # explode + distinct + the broadcast-cap guard's persist + count in
    # decontaminate()) is independent of every corpus-side stage, yet it
    # used to run strictly AFTER the near-dedup connected-components
    # rounds because the driver called them in that order. Submitting the
    # gram materialization from a driver thread lets its small jobs
    # back-fill executors while the CC rounds' tails run. Failures are
    # swallowed here on purpose: decontaminate()'s own guard re-runs the
    # persist + count (a cache hit when the prefetch succeeded) and is
    # the one that raises with the documented message.
    bench_grams = None
    grams_prefetch = None
    if recipe.benchmark is not None:
        bench_grams = benchmark_ngrams(
            recipe.benchmark, n=recipe.decontaminate_n, text_col=text_col
        )
        if recipe.near_dedup:
            from pyspark import InheritableThread, StorageLevel

            def _warm_grams(df: DataFrame = bench_grams) -> None:
                try:
                    df.persist(StorageLevel.MEMORY_AND_DISK)
                    df.count()
                except Exception:
                    pass

            grams_prefetch = InheritableThread(target=_warm_grams)
            grams_prefetch.start()

    if recipe.near_dedup:
        pairs = minhash_dedup(
            cur, id_col=id_col, text_col=text_col, **recipe.minhash_params
        )
        # Keep set = corpus minus NON-KEEPERS (r15). The old formulation
        # built dedup_groups' full (doc_id, keep_id) mapping — one row
        # per corpus doc — and joined it back, so the join's small side
        # was corpus-sized (a full id shuffle of the corpus once the
        # mapping outgrows the broadcast threshold). The pipeline never
        # reads the mapping (it is provenance — dedup_groups still
        # serves callers that do); dropping exactly the docs that are a
        # non-min member of some near-dup component is the same row set,
        # and the anti-join's small side is bounded by the docs that
        # appear in a verified pair — usually orders of magnitude below
        # the corpus, broadcastable far longer (guide §3.1/§2.4).
        # Edge ids: a NULL-id document never forms a pair and never
        # matches the anti-join key, so it is kept; rows sharing an id
        # are kept or dropped together, and the anti-join never
        # multiplies them (pinned in tests/test_pipeline.py).
        comp = connected_components(pairs)
        non_keepers = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
        cur = cur.join(non_keepers, id_col, "left_anti")
        if recipe.persist_deduped:
            from pyspark import StorageLevel

            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
        stages["near_dedup"] = cur

    if recipe.embeddings is not None:
        from nexus_event_stream_spark.operators.semdedup import semantic_dedup

        # only embed rows for documents still in the corpus — the mapping
        # must not resurrect or be skewed by already-dropped docs
        emb = recipe.embeddings.join(cur.select(id_col), id_col, "left_semi")
        mapping = semantic_dedup(
            emb,
            id_col=id_col,
            vec_col=recipe.embedding_col,
            **recipe.semantic_params,
        )
        cur = (
            cur.join(mapping, id_col, "left")
            .filter(
                F.col("keep_id").isNull()
                | (F.col(id_col) == F.col("keep_id"))
            )
            .drop("keep_id")
        )
        stages["semantic_dedup"] = cur

    if recipe.benchmark is not None:
        if grams_prefetch is not None:
            grams_prefetch.join()
        grams = bench_grams
        overlap = decontaminate(
            cur, grams, n=recipe.decontaminate_n, text_col=text_col, id_col=id_col
        )
        cur = (
            cur.join(overlap.select(id_col, "n_contaminated"), id_col)
            .filter(F.col("n_contaminated") == 0)
            .drop("n_contaminated")
        )
        stages["decontaminated"] = cur

    if (
        recipe.bm25_decontaminate_floor is not None
        and recipe.benchmark is not None
    ):
        from nexus_event_stream_spark.operators.search import (
            bm25_score_docs,
            build_bm25_index,
        )

        build_keys = ("max_df_frac", "min_df")
        build_kw = {
            k: v for k, v in recipe.bm25_params.items() if k in build_keys
        }
        score_kw = {
            k: v for k, v in recipe.bm25_params.items() if k not in build_keys
        }
        bench = recipe.benchmark
        if id_col in bench.columns:
            bench_ids = bench.select(F.col(id_col), F.col(text_col))
        else:
            # provenance-only id: the benchmark row number never leaves
            # the flag join, so any stable-unique id works
            bench_ids = bench.select(
                F.monotonically_increasing_id().alias(id_col),
                F.col(text_col),
            )
        bidx = build_bm25_index(
            bench_ids, id_col=id_col, text_col=text_col, **build_kw
        )
        top = bm25_score_docs(
            bidx, cur, id_col=id_col, text_col=text_col, k=1, **score_kw
        )
        flagged = top.filter(
            F.col("score") >= recipe.bm25_decontaminate_floor
        ).select(id_col)
        cur = cur.join(flagged, id_col, "left_anti")
        stages["bm25_decontaminated"] = cur

    if recipe.cdc_divisor:
        from nexus_event_stream_spark.operators.quality import cdc_dedup

        cur = (
            cur.join(
                cdc_dedup(
                    cur,
                    divisor=recipe.cdc_divisor,
                    text_col=text_col,
                    id_col=id_col,
                ).select(id_col, "dup_chars"),
                id_col,
            )
            .filter(
                F.col("dup_chars").cast("double")
                <= F.lit(recipe.cdc_max_dup_frac)
                # NULL-text docs have dup_chars=0 and must pass the gate
                # (NULL length would null the predicate → silent drop)
                * F.coalesce(F.length(F.col(text_col)), F.lit(0))
            )
            .drop("dup_chars")
        )
        stages["cdc_dedup"] = cur

    if recipe.passage_dedup_n:
        cleaned = segment_dedup(
            cur,
            n=recipe.passage_dedup_n,
            text_col=text_col,
            emit_text=True,
            id_col=id_col,
        ).select(id_col, "clean_text")
        cur = (
            cur.join(cleaned, id_col)
            .drop(text_col)
            .withColumnRenamed("clean_text", text_col)
            .select(*docs.columns)
        )
        stages["passage_dedup"] = cur

    if recipe.exact_substr_min_len:
        from nexus_event_stream_spark.operators.exact_substr import (
            exact_substr_dedup,
        )

        cleaned = exact_substr_dedup(
            cur,
            min_len=recipe.exact_substr_min_len,
            anchor_k=recipe.exact_substr_anchor_k,
            text_col=text_col,
            id_col=id_col,
            emit_text=True,
        ).select(id_col, "clean_text")
        cur = (
            cur.join(cleaned, id_col)
            .drop(text_col)
            .withColumnRenamed("clean_text", text_col)
            .select(*docs.columns)
        )
        stages["exact_substr"] = cur

    if recipe.reference_profile is not None:
        from nexus_event_stream_spark.operators.drift import (
            corpus_profile,
            drift_report,
        )

        profile = corpus_profile(cur, text_col=text_col)
        report = drift_report(
            recipe.reference_profile, profile, recipe.drift_thresholds
        )
        if report["drifted"]:
            raise CorpusDriftError(report)

    if recipe.mixture:
        if recipe.seq_len and max(recipe.mixture.values()) >= COPY_STRIDE - 1:
            raise ValueError(
                f"mixture weight {max(recipe.mixture.values())} would overflow "
                f"COPY_STRIDE={COPY_STRIDE} copy_ids and collide packing order keys"
            )
        cur = mix_corpus(
            cur,
            recipe.mixture,
            source_col=recipe.mixture_source_col,
            key_col=id_col,
        )
        stages["mixture"] = cur

    if recipe.seq_len:
        with_counts = cur.withColumn("__n_tokens", token_count(text_col))
        order = (
            (F.col(id_col) * COPY_STRIDE + F.col("copy_id"))
            if "copy_id" in cur.columns
            else F.col(id_col)
        )
        stages["packing"] = pack_sequences(
            with_counts.withColumn("__order", order.cast("bigint")),
            recipe.seq_len,
            count_col="__n_tokens",
            order_col="__order",
        )

    return cur, stages


def warc_corpus(
    spark,
    warc_path: str,
    recipe: CorpusRecipe | None = None,
    html_extract: bool | str = False,
    blocked_domains: list[str] | None = None,
    dedup_urls: bool = False,
    respect_robots: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Common-Crawl-shaped WARC files → prepared training corpus, the
    end-to-end recipe a crawl consumer actually runs: ``read_warc``
    (file-grain distributed parse) → ``warc_documents`` (response
    records, HTTP headers stripped in-expression, deterministic
    ``xxhash64(file, record_idx)`` doc ids) → ``prepare_training_corpus``
    with ``recipe`` (default ``CorpusRecipe()``: rule quality gate, PII
    redaction, exact + MinHash-CC near dedup).

    Returns ``(corpus, stages)`` exactly like ``prepare_training_corpus``
    — ``stages`` additionally leads with ``"documents"`` (the decoded
    pre-hygiene relation) so row accounting covers the ingest boundary:
    counting each stage gives the monotone crawl → corpus funnel.

    Everything stays lazy: this composes two mapInPandas scans and the
    recipe's Catalyst stages into ONE plan; nothing runs until the
    caller writes or counts — except the small benchmark-side jobs a
    decontamination-enabled recipe documents (index scalars + the
    broadcast-cap guard's count over the benchmark grams/postings,
    cached so they are not recomputed at action time). The
    deterministic doc ids make the whole funnel replayable — re-running
    over the same WARC files reproduces identical keeper decisions.

    The published URL/content tiers slot in BEFORE the text recipe (they
    are provenance-cheap — the key is bytes already in hand):

    - ``blocked_domains``: drop documents from these domains and every
      subdomain (operators/urls.filter_blocked_domains — map-side);
    - ``html_extract``: bodies that look like HTML are reduced to
      readable text with the ``<title>`` kept as a ``title`` column;
      non-HTML bodies pass through verbatim. ``True`` runs the baseline
      regexp chain (functions/html.html_to_text, pure Catalyst);
      ``"main_content"`` (r11) runs the DOM-aware jusText-class block
      classifier (functions/html.extract_main_text, Arrow kernel) —
      same routing predicate, and it additionally drops nav/sidebar/
      cookie chrome on single documents;
    - ``dedup_urls``: one document per canonical URL, earliest fetch
      wins (operators/urls.url_dedup — one shuffle);
    - ``respect_robots`` (r11): honor X-Robots-Tag / ``<meta
      name=robots>`` opt-outs (noindex/none/noai/noimageai,
      sources/warc.ROBOTS_OPTOUT_TOKENS) — the crawl-governance tier,
      applied FIRST: a publisher's consent signal precedes every other
      use of the bytes. The flag is computed inside ``warc_documents``'s
      own projection (the header text is inspected before it is
      stripped), so the tier costs zero extra passes.
    """
    from nexus_event_stream_spark.functions.html import (
        html_title,
        html_to_text,
        looks_like_html,
    )
    from nexus_event_stream_spark.operators.urls import (
        filter_blocked_domains,
        url_dedup,
    )
    from nexus_event_stream_spark.sources.warc import read_warc, warc_documents

    docs = warc_documents(
        read_warc(spark, warc_path), respect_robots=respect_robots
    )
    pre: dict[str, DataFrame] = {"documents": docs}
    if respect_robots:
        # crawl-governance tier (the first drop — consent precedes every
        # other use of the bytes): X-Robots-Tag / <meta name=robots>
        # opt-outs (noindex/none/noai/noimageai) are honored
        docs = docs.filter(~F.col("robots_opt_out")).drop("robots_opt_out")
        pre["robots_opt_out"] = docs
    if blocked_domains:
        docs = filter_blocked_domains(docs, blocked_domains)
        pre["domain_filter"] = docs
    if dedup_urls:
        # fetched_at is RFC3339 text — lexicographic order IS
        # chronological, so the earliest fetch wins deterministically
        docs = url_dedup(docs, ts_col="fetched_at")
        pre["url_dedup"] = docs
    if html_extract:
        if html_extract not in (True, "main_content"):
            raise ValueError(
                "html_extract must be True (regexp baseline) or"
                f" 'main_content', got {html_extract!r}"
            )
        is_html = looks_like_html(F.col("text"))
        docs = docs.withColumn(
            "title", F.when(is_html, html_title(F.col("text"))).otherwise(F.lit(""))
        )
        if html_extract == "main_content":
            from nexus_event_stream_spark.functions.html import (
                extract_main_text,
            )

            docs = extract_main_text(docs, html_col="text", out_col="text")
        else:
            docs = docs.withColumn(
                "text",
                F.when(is_html, html_to_text(F.col("text"))).otherwise(
                    F.col("text")
                ),
            )
        pre["html_text"] = docs
    corpus, stages = prepare_training_corpus(docs, recipe or CorpusRecipe())
    return corpus, {**pre, **stages}
