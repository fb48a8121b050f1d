"""Deduplication operators for large-scale training-data pipelines.

North-star extension (BASELINE.json): exact dedup, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup — joins, windows and
predicates are compositions of built-in DataFrame ops so Catalyst sees
every predicate; the one deliberate Python stage is the MinHash
signature kernel (r14), a vectorized Arrow batch kernel that replaced an
interpreted higher-order-function hash fold (HOF lambdas never enter
whole-stage codegen — the guide-§4.2 tradeoff, measured ~2× end-to-end
on the signature stage with bit-identical output; the pure-Catalyst
formulation remains as ``engine="catalyst"``).

Scale design:
- exact dedup: one hash-shuffle on the text digest — the minimum possible.
- all-pairs operators (``ngram_jaccard_pairs``) REQUIRE a blocking column;
  an unblocked self-join is O(n²) and is refused. At 100 TB the scale path
  is MinHash-LSH: cost is O(n · num_perm) for signatures plus a shuffle per
  band on the band-bucket key, and only bucket-colliding pairs are verified.
- skew defense is code, not prose: ``max_gram_df`` (stop-gram posting cap
  in ngram_jaccard_pairs) and ``max_bucket_size`` (hot-bucket star
  fallback in minhash_lsh_candidates) bound the worst join key so one
  boilerplate gram/bucket cannot make the pair join quadratic.
- hashing is the engine-portable polynomial hash (functions/text.py), so
  every stage remains verifiable against a SQL oracle — swap in xxhash64
  for marginally better mixing once cross-engine verification isn't needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nexus_event_stream_spark.functions.text import (
    HASH_MOD,
    HASH_MULT,
    ngrams_from_tokens,
    portable_string_hash,
)
from nexus_event_stream_spark.io import spread

# Deterministic 64 (a,b) pairs for MinHash permutations h_i = (a*h+b) % p,
# generated once from a fixed LCG so both the Spark side and any SQL oracle
# can re-derive them. a must be non-zero mod p.
_LCG_MOD = 2**31 - 1


def minhash_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    out = []
    x = seed
    for _ in range(num_perm):
        x = (1103515245 * x + 12345) % _LCG_MOD
        a = x or 1
        x = (1103515245 * x + 12345) % _LCG_MOD
        b = x
        out.append((a, b))
    return out


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5 digest → min-id representative + count.

    One shuffle on the digest. Output: text_hash, keep_id, n_copies.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_annotate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Doc-grain exact-dedup columns: append ``exact_keep_id`` (min id of
    the doc's md5 digest group) and ``n_copies`` via a window over the
    digest — ONE shuffle on md5 (uniform, skew-free), no corpus-sized
    group-table broadcast. ``filter(id == exact_keep_id)`` is the
    deduplicated corpus; the shared formulation behind both the pipeline
    stage and q_dedup_groups' oracle columns.
    """
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.withColumns(
        {
            "exact_keep_id": F.min(id_col).over(w),
            "n_copies": F.count(F.lit(1)).over(w),
        }
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two pre-distinct arrays (integer set sizes → the
    division is the only float op, identical on every engine)."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: Sequence[str],
    n: int = 3,
    threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard within blocks, posting-list style.

    Instead of materializing every in-block pair and intersecting arrays
    (O(pairs·|set|)), the n-gram sets are exploded into postings and
    self-joined on (block, gram): |A∩B| falls out as a count per pair, and
    pairs sharing NO gram never exist. This is the formulation that
    survives scale — join traffic is Σ_g freq(g)², concentrated exactly
    where near-dups are.

    ``max_gram_df`` is the hot-gram skew cap: a STOP-GRAM (boilerplate
    shared by thousands of in-block docs — headers, licenses, navigation
    chrome) makes freq(g)² quadratic on that one join key. With the cap
    set, postings for any gram whose in-block document frequency exceeds
    it are dropped BEFORE the self-join, so join traffic is bounded by
    cap·|postings|. Semantics: intersections count only surviving grams
    while set sizes stay full, so the reported jaccard is a LOWER BOUND —
    a pair sharing nothing but stop-grams (the textbook false positive)
    disappears, while near-dup pairs connected by discriminative grams
    survive. CAVEAT: if a text is mass-duplicated beyond the cap itself
    (every one of its grams has df > cap), those copies share no
    surviving gram and emit NO pair — run ``exact_dedup`` first (exact
    copies are its job, one cheap shuffle) and size the cap above the
    expected near-dup multiplicity; the LSH path's ``max_bucket_size``
    star keeps such clusters connected if they must be caught here.
    Default None = exact (what the value-oracled catalog query runs).

    Sets are xxhash64-hashed: set sizes equal string-set sizes
    (collisions ~2^-64·|g|² improbable) and the join key is a cheap int.
    ``block_cols`` bounds the pair space; refuses to run unblocked — use
    minhash_dedup for unblocked near-dup at scale.
    Output: doc_a, doc_b, jaccard (doc_a < doc_b).
    """
    if not block_cols:
        raise ValueError(
            "ngram_jaccard_pairs requires blocking columns; "
            "use minhash_dedup for unblocked near-dup at scale"
        )
    # Two-step projection: tokens land in a bound column first so the
    # n-gram lambda slices an attribute instead of re-splitting per element.
    tok = spread(docs).select(
        *block_cols,
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), " ").alias("__toks"),
    )
    t = tok.select(
        *block_cols,
        "__id",
        F.array_distinct(
            F.transform(
                ngrams_from_tokens(F.col("__toks"), n), lambda s: F.xxhash64(s)
            )
        ).alias("__g"),
    )
    # The hashed-gram relation feeds four consumers (both posting-join
    # sides + both size lookups) and AQE broadcasts the posting join, so
    # exchange reuse never fires — without a persist the tokenize→ngram→
    # hash subtree executes 4×. MEMORY_AND_DISK persist (evictable, spills)
    # measured ~4× faster end-to-end at sf0.1; the relation is one bigint
    # array per doc, far smaller than the corpus. At 100 TB the same role
    # is played by checkpointing signatures to a table. CacheManager keys
    # on the analyzed plan, so repeated calls share one cache entry.
    t = t.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = t.select(*block_cols, "__id", F.size("__g").alias("__n"))
    posts = t.select(*block_cols, "__id", F.explode("__g").alias("__h"))
    if max_gram_df is not None:
        # Document frequency per (block, gram) via a window on the SAME
        # key the self-join shuffles on — co-partitioned, no extra
        # exchange shape. Postings of stop-grams never reach the join.
        wg = Window.partitionBy(*block_cols, "__h")
        posts = (
            posts.withColumn("__df", F.count(F.lit(1)).over(wg))
            .filter(F.col("__df") <= max_gram_df)
            .drop("__df")
        )
    a, b = posts.alias("a"), posts.alias("b")
    cond = (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("__id").alias("doc_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("doc_b"), F.col("__n").alias("__nb"))
    j = F.col("__inter").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__inter")
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    engine: str = "arrow",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    (a_i·h(shingle)+b_i) mod p, h = portable polynomial hash.

    Empty shingle sets get sig[i] = p (sentinel > any hash) so they never
    collide with real signatures. Output: doc_id, __shingles, sig.

    Two result-identical engines (pinned bit-equal on edge strings and
    the test corpora in tests/test_dedup_similarity.py):

    - ``"arrow"`` (default): one vectorized numpy kernel per Arrow batch
      (mapInPandas) — zero shuffle, and only (id, text) crosses the
      Python boundary. The guide-§4.2 shape: Catalyst higher-order
      functions evaluate INTERPRETED (no whole-stage codegen inside a
      lambda), so the per-char hash fold × per-shingle × 16-permutation
      min chain was the dominant cost of every MinHash consumer
      (measured ~8.5 s of dedup_chain_25x's 12.8 s at 125 k docs); the
      numpy kernel computes identical integer arithmetic ~an order of
      magnitude faster.
    - ``"catalyst"``: the pure-expression formulation (no Python worker
      anywhere) — the form the DuckDB value oracle mirrors term for
      term, kept as the executable spec the Arrow kernel is verified
      against.
    """
    if engine == "arrow":
        return _minhash_signatures_arrow(
            docs, num_perm, shingle_n, id_col, text_col, seed
        )
    if engine != "catalyst":
        raise ValueError(f"engine must be arrow|catalyst, got {engine!r}")
    return _minhash_signatures_catalyst(
        docs, num_perm, shingle_n, id_col, text_col, seed
    )


def _minhash_signatures_arrow(
    docs: DataFrame,
    num_perm: int,
    shingle_n: int,
    id_col: str,
    text_col: str,
    seed: int,
) -> DataFrame:
    """Vectorized twin of ``_minhash_signatures_catalyst`` — identical
    values (exact int64 arithmetic, every intermediate < 2^63), one
    numpy pass per Arrow batch.

    Exact-equivalence notes, each pinned by tests:
    - tokenization replicates ``split(text, ' ')``: consecutive spaces
      yield empty tokens, ``''`` yields one empty token, NULL yields no
      tokens (empty shingle set, sentinel signature);
    - characters are Unicode code points (UTF-32 view), matching Java's
      code-point-aware ``split(s, '')`` + ``ascii(ch)``;
    - shingle hashes compose per-token polynomial state
      (H(a‖b) = (H(a)·131^len(b) + H(b)) mod p) — congruent to the
      per-shingle char fold, so values are bit-identical;
    - ``__shingles`` keeps first-occurrence order like array_distinct.
    """
    coeffs = minhash_coeffs(num_perm, seed)
    a_list = [a for a, _ in coeffs]
    b_list = [b for _, b in coeffs]
    mod, mult, n = HASH_MOD, HASH_MULT, shingle_n

    def kernel(it):
        import numpy as np
        import pandas as pd

        a = np.array(a_list, dtype=np.int64).reshape(-1, 1)
        b = np.array(b_list, dtype=np.int64).reshape(-1, 1)
        empty_sig = np.full(num_perm, mod, dtype=np.int64)
        empty_sh = np.empty(0, dtype=np.int64)
        # 131^k mod p table, grown on demand (task-lifetime cache)
        pow_tab = np.ones(1, dtype=np.int64)

        def powers(upto: int):
            nonlocal pow_tab
            if upto >= pow_tab.size:
                old = pow_tab.size
                grown = np.empty(upto + 1, dtype=np.int64)
                grown[:old] = pow_tab
                for k in range(old, upto + 1):
                    grown[k] = (grown[k - 1] * mult) % mod
                pow_tab = grown
            return pow_tab

        for pdf in it:
            texts = pdf["__text"]
            ndocs = len(texts)
            bufs = [
                t.encode("utf-32-le") if isinstance(t, str) else b""
                for t in texts
            ]
            is_null = np.fromiter(
                (not isinstance(t, str) for t in texts), bool, ndocs
            )
            doc_len = np.fromiter(
                (len(bf) >> 2 for bf in bufs), np.int64, ndocs
            )
            flat = np.frombuffer(b"".join(bufs), dtype="<u4").astype(
                np.int64
            )
            doc_off = np.zeros(ndocs + 1, dtype=np.int64)
            np.cumsum(doc_len, out=doc_off[1:])
            space_pos = np.nonzero(flat == 32)[0]
            # spaces per doc → token counts (0 for NULL text, else 1+spaces)
            sp_per_doc = np.diff(np.searchsorted(space_pos, doc_off))
            n_tok = np.where(is_null, 0, 1 + sp_per_doc)
            # token boundaries: each non-null doc contributes its start
            # and end; each space splits. Both arrays are globally sorted
            # because docs are contiguous and within-doc boundaries are
            # ordered.
            live = ~is_null
            tok_starts = np.sort(
                np.concatenate([doc_off[:-1][live], space_pos + 1]),
                kind="stable",
            )
            tok_ends = np.sort(
                np.concatenate([space_pos, doc_off[1:][live]]),
                kind="stable",
            )
            tok_lens = tok_ends - tok_starts
            n_tokens = tok_lens.size
            tok_doc = np.repeat(np.arange(ndocs), n_tok)
            # per-token polynomial hash, grouped by length so every
            # Horner step is one vectorized op over equal-length tokens
            h = np.zeros(n_tokens, dtype=np.int64)
            if n_tokens:
                order = np.argsort(tok_lens, kind="stable")
                sl = tok_lens[order]
                grp_bounds = np.concatenate(
                    [[0], np.nonzero(np.diff(sl))[0] + 1, [n_tokens]]
                )
                for g in range(grp_bounds.size - 1):
                    i0, i1 = grp_bounds[g], grp_bounds[g + 1]
                    ln = int(sl[i0])
                    if ln == 0:
                        continue
                    grp = order[i0:i1]
                    chars = flat[
                        tok_starts[grp][:, None] + np.arange(ln)[None, :]
                    ]
                    acc = np.zeros(i1 - i0, dtype=np.int64)
                    for c in range(ln):
                        acc = (acc * mult + chars[:, c]) % mod
                    h[grp] = acc
            ptab = powers(int(tok_lens.max()) if n_tokens else 0)
            p = ptab[tok_lens]
            # shingle hashes over token windows [i, i+n): valid iff the
            # window stays inside one document
            if n_tokens >= n:
                m = n_tokens - n + 1
                acc = h[:m].copy()
                for j in range(1, n):
                    acc = (
                        ((acc * mult + 32) % mod) * p[j : m + j]
                        + h[j : m + j]
                    ) % mod
                valid = tok_doc[:m] == tok_doc[n - 1 :]
                sh_flat = acc[valid]
                sh_doc = tok_doc[:m][valid]
            else:
                sh_flat = np.empty(0, dtype=np.int64)
                sh_doc = np.empty(0, dtype=np.int64)
            sh_counts = np.bincount(sh_doc, minlength=ndocs).astype(
                np.int64
            )
            sh_off = np.zeros(ndocs + 1, dtype=np.int64)
            np.cumsum(sh_counts, out=sh_off[1:])
            out_sh, out_sig = [], []
            for d in range(ndocs):
                s = sh_flat[sh_off[d] : sh_off[d + 1]]
                if s.size == 0:
                    out_sh.append(empty_sh)
                    out_sig.append(empty_sig)
                    continue
                uniq, first = np.unique(s, return_index=True)
                u = uniq[np.argsort(first, kind="stable")]
                out_sh.append(u)
                out_sig.append(((a * u[None, :] + b) % mod).min(axis=1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "__shingles": out_sh,
                    "sig": out_sig,
                }
            )

    # The id column passes through the kernel UNTOUCHED and the output
    # schema mirrors its input type (ADVICE r14: the old cast("long")
    # silently nulled every non-numeric id — arrow returned [None, None]
    # where catalyst returned the ids — so the two "result-identical"
    # engines diverged for string-id callers and downstream joins on
    # doc_id dropped rows).
    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType, id_field.nullable),
            T.StructField("__shingles", T.ArrayType(T.LongType())),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .mapInPandas(kernel, out_schema)
    )


def _minhash_signatures_catalyst(
    docs: DataFrame,
    num_perm: int,
    shingle_n: int,
    id_col: str,
    text_col: str,
    seed: int,
) -> DataFrame:
    """Pure-Catalyst MinHash signatures (no Python stage anywhere) — the
    executable spec of the portable-hash pipeline and the form the
    DuckDB oracle mirrors. Single pass over the shingle set with an
    array-of-mins accumulator: each shingle hash is visited once and
    updates all ``num_perm`` slots via zip_with/least (min is commutative
    — exactly the per-permutation minima, same values the SQL oracle
    computes with per-permutation list_min).
    """
    coeffs = minhash_coeffs(num_perm, seed)
    # Staged projections: tokens → per-token hash state → hashed shingle
    # set. Each stage lands in a bound column so no HOF lambda recomputes
    # upstream work per element (split per n-gram / char-hash per
    # permutation).
    #
    # r14 (guide §1.2 "per-task work"): shingle hashes are COMPOSED from
    # per-token polynomial-hash state instead of char-folding every
    # shingle string. The old shape built each n-gram string (concat_ws)
    # and re-folded its characters — every character of the text was
    # hashed ~n times (once per overlapping shingle) through an
    # interpreted HOF lambda, and that fold dominated dedup_chain_25x
    # (~7.4 s of 12.8 s measured in isolation). Polynomial hashes
    # compose: H(a‖b) = (H(a)·131^len(b) + H(b)) mod p, so one char fold
    # per TOKEN producing (h, p=131^len mod M) lets each shingle hash
    # fall out of 2(n−1) integer ops. Modular congruence makes the
    # result BIT-IDENTICAL to the per-shingle fold (all intermediates
    # < 2^62 — no overflow), so the SQL oracle and every downstream
    # consumer see unchanged values; the empty token ('' from repeated
    # separators — split('','') is [''] and ascii('')=0) keeps h=0 from
    # the fold but needs p forced to 131^0 = 1.
    big = lambda v: F.lit(v).cast("bigint")  # noqa: E731

    def token_hp(w: Column) -> Column:
        folded = F.aggregate(
            F.split(w, ""),
            F.struct(big(0).alias("h"), big(1).alias("p")),
            lambda acc, ch: F.struct(
                (
                    (acc["h"] * F.lit(HASH_MULT) + F.ascii(ch).cast("bigint"))
                    % F.lit(HASH_MOD)
                ).alias("h"),
                ((acc["p"] * F.lit(HASH_MULT)) % F.lit(HASH_MOD)).alias("p"),
            ),
        )
        return F.struct(
            folded["h"].alias("h"),
            F.when(F.length(w) == 0, big(1)).otherwise(folded["p"]).alias("p"),
        )

    tok = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__toks"),
    )
    th = tok.select(
        "doc_id",
        F.transform(F.col("__toks"), token_hp).alias("__th"),
    )

    def shingle_hash(i: Column) -> Column:
        # H(w_i ‖ ' ' ‖ w_{i+1} ‖ … ‖ w_{i+n-1}), composed left-to-right
        # exactly like the char fold (space = codepoint 32)
        h = F.element_at(F.col("__th"), i)["h"]
        for j in range(1, shingle_n):
            e = F.element_at(F.col("__th"), i + F.lit(j))
            h = (
                ((h * F.lit(HASH_MULT) + F.lit(32)) % F.lit(HASH_MOD))
                * e["p"]
                + e["h"]
            ) % F.lit(HASH_MOD)
        return h

    count = F.greatest(F.size("__th") - F.lit(shingle_n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)
    hashed = th.select(
        "doc_id",
        F.array_distinct(
            F.when(count > 0, F.transform(idx, shingle_hash)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("__shingles"),  # hashed shingle set (verify + sig input)
    )
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    sig = F.aggregate(
        F.col("__shingles"),
        F.array_repeat(F.lit(HASH_MOD).cast("bigint"), num_perm),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * h + b) % F.lit(HASH_MOD)),
            lambda cur, cand: F.least(cur, cand),
        ),
    )
    return hashed.select("doc_id", "__shingles", sig.alias("sig"))


def band_key_array(
    bands: int = 4, rows_per_band: int = 4, sig_col: str = "sig"
) -> Column:
    """Array of LSH band bucket keys (band index ++ the signature slice) —
    the shared primitive of batch LSH (minhash_lsh_candidates) and
    streaming suppression (streaming/dedup.py)."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                *[
                    F.col(sig_col)[i * rows_per_band + r]
                    for r in range(rows_per_band)
                ],
            )
            for i in range(bands)
        ]
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: explode signatures into (band, bucket-key) and
    self-join per bucket → candidate pairs (distinct).

    The bucket key is the concatenated signature slice. One shuffle on the
    bucket key; bucket sizes are the skew knob — ``max_bucket_size`` is
    that knob made real. A web corpus full of boilerplate produces
    DEGENERATE buckets (thousands of near-identical docs sharing one band
    key), and an unguarded self-join goes quadratic on exactly that
    bucket. With the cap set, buckets of size ≤ cap keep the exact
    all-pairs join, while every hot bucket degrades to a STAR centered on
    its smallest doc_id: size−1 pairs instead of size·(size−1)/2, and —
    because every member stays connected through the hub — the connected
    components (what dedup_groups consumes) are unchanged for the
    mutually-similar boilerplate case the cap exists for. Pairs that the
    star skips and no other band recovers can only be hot-bucket members
    dissimilar to the hub yet similar to each other — the Jaccard verify
    downstream guards precision either way. Total pair bound:
    Σ_normal size²/2 + Σ_hot (size−1), i.e. ≤ cap·|postings| overall.

    Default None = exact (every in-bucket pair), which is what the
    value-oracled catalog queries run at test scale. Output: doc_a, doc_b.
    """
    keyed = sigs.select(
        "doc_id", F.explode(band_key_array(bands, rows_per_band)).alias("bucket")
    )
    return bucket_candidates(keyed, max_bucket_size)


def bucket_candidates(
    keyed: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Candidate pairs from a (doc_id, bucket) relation: per-bucket
    self-join with the hot-bucket star fallback — the shared primitive
    under MinHash banding (minhash_lsh_candidates) and perceptual-hash
    banding (operators/phash.py). See minhash_lsh_candidates for the
    cap semantics; output: (doc_a, doc_b) distinct."""
    if max_bucket_size is not None:
        # One window over the same key the join shuffles on (co-partitioned
        # — AQE reuses the exchange): bucket size + hub in a single pass.
        wb = Window.partitionBy("bucket")
        sized = keyed.select(
            "doc_id",
            "bucket",
            F.count(F.lit(1)).over(wb).alias("__bsz"),
            F.min("doc_id").over(wb).alias("__hub"),
        )
        normal = sized.filter(F.col("__bsz") <= max_bucket_size).select(
            "doc_id", "bucket"
        )
        # Hot buckets NEVER enter the self-join — the quadratic blowup is
        # structurally impossible, not just mitigated.
        star = sized.filter(
            (F.col("__bsz") > max_bucket_size) & (F.col("doc_id") != F.col("__hub"))
        ).select(F.col("__hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        keyed = normal
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    if max_bucket_size is not None:
        pairs = pairs.union(star)
    return pairs.distinct()


def minhash_dedup(
    docs: DataFrame,
    num_perm: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification of candidates only.

    Output: doc_a, doc_b, jaccard for verified pairs. Unlike
    ``ngram_jaccard_pairs`` this never materializes the O(n²) pair space —
    the verify join touches only bucket-colliding pairs.
    ``max_bucket_size`` is the hot-bucket skew cap (see
    minhash_lsh_candidates) — the knob to set on boilerplate-heavy web
    corpora where one degenerate bucket would otherwise go quadratic.

    Candidate dedup stays the explicit ``distinct`` (bucket_candidates).
    The first-match-in-verify alternative (dedup as a free filter where
    both signatures meet) was implemented, MEASURED and rejected, and its
    code deleted: the verify payload is the per-doc shingle-hash array
    (~1 KB/doc), and evaluating the dedup in the verify join forces that
    payload through the join at PRE-dedup multiplicity — on the 125 k
    mirror corpus 6 M candidate rows × two ~1 KB arrays of joined-row
    copying instead of 1.6 M, measured 5.3 s → 53–138 s for the verify
    stage (guide §1.1's "ideal plan is slower at first" case). The
    narrow-payload twins (phash_pairs / video_phash_pairs, 8–32 B
    fingerprints) keep the explicit ``distinct`` too: phash_pairs
    measured first-match ~30% slower even at its 8-byte payload.
    """
    rows = num_perm // bands
    # The signature relation feeds the band self-join (2 sides) and the
    # verify join (2 sides), and AQE broadcasts both joins, so exchange
    # reuse never fires — persist or the shingle+signature subtree runs 4×.
    # MEMORY_AND_DISK (evictable, spills); one sig array per doc. At 100 TB
    # signatures are checkpointed to a table instead. CacheManager keys on
    # the analyzed plan, so repeated calls share one cache entry.
    sigs = minhash_signatures(docs, num_perm, shingle_n, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cands = minhash_lsh_candidates(sigs, bands, rows, max_bucket_size)
    shing = sigs.select("doc_id", "__shingles")
    j = jaccard(F.col("sa.__shingles"), F.col("sb.__shingles"))
    return (
        cands.join(shing.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(shing.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def token_hashes(text_col: str = "text") -> Column:
    """Portable hashes of the distinct whitespace tokens of a text column.

    Project this to a named column BEFORE feeding ``simhash_from_hashes``:
    higher-order-function lambdas are evaluated without common-
    subexpression elimination, so an inline expression would re-tokenize
    and re-hash the document once per SimHash bit (16×).
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    return F.transform(toks, lambda t: portable_string_hash(t))


def simhash_from_hashes(hashes: Column | str, bits: int = 16) -> Column:
    """SimHash fingerprint from a *pre-projected* token-hash array column:
    bit j set iff the sum over tokens of (2·bit_j(h) − 1) is ≥ 0. Near-dups
    differ in few bits. Exact integer arithmetic, portable hash →
    oracle-able.

    Single pass over the hash array with an array-of-counters accumulator
    (zip_with inside aggregate): each hash is visited ONCE and contributes
    all ``bits`` signs — measured ~3.5× faster than folding the array once
    per bit, and exactly equal (integer addition is associative, so the
    changed association order cannot perturb the sums).
    """
    hs = F.col(hashes) if isinstance(hashes, str) else hashes
    js = F.sequence(F.lit(0), F.lit(bits - 1))

    def bit_sign(h, j):
        # 2·bit_j(h) − 1 ∈ {−1, +1}; (h div 2^j) % 2 — division of <2^31
        # ints by powers of two is exact in binary FP, so floor() is
        # engine-portable.
        return (
            F.lit(2) * (F.floor(h / F.pow(F.lit(2.0), j)).cast("bigint") % F.lit(2))
            - F.lit(1)
        )

    counters = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc, F.transform(js, lambda j: bit_sign(h, j)), lambda a, b: a + b
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            js,
            lambda v, j: F.when(v >= 0, F.pow(F.lit(2.0), j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def simhash(docs: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash per document (narrow map). Output: doc_id, simhash."""
    docs = spread(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__hs")
    ).select("doc_id", simhash_from_hashes("__hs", bits).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    block_cols: Sequence[str],
    bits: int = 16,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: pairs within a block whose fingerprints
    differ in ≤ max_hamming bits. Output: doc_a, doc_b, hamming.

    ``max_block_size`` is the hot-block skew cap, split exactly like
    minhash_lsh_candidates' normal/star paths so small blocks pay no
    penalty: blocks of size ≤ cap keep the exact ``<`` all-pairs join
    untouched, while HOT blocks alone degrade to a probe of their cap
    smallest-id members — a ``!=`` join with canonical (min,max) output
    plus a distinct over just those pairs (a plain ``<`` against a
    truncated build side would silently drop every pair whose larger id
    is outside the cap set). Pair traffic per hot block is |block|·cap
    instead of |block|², and every doc is still probed.
    Default None = exact everywhere.
    """
    fps = simhash(docs, bits, id_col, text_col).join(
        docs.select(F.col(id_col).alias("doc_id"), *block_cols), "doc_id"
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    def block_eq(cond):
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        return cond

    def emit(joined):
        return joined.select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            ham.alias("hamming"),
        ).filter(F.col("hamming") <= max_hamming)

    if max_block_size is None:
        return emit(
            fps.alias("a").join(
                fps.alias("b"), block_eq(F.col("a.doc_id") < F.col("b.doc_id"))
            )
        )
    wb = Window.partitionBy(*block_cols)
    sized = fps.withColumn("__bsz", F.count(F.lit(1)).over(wb)).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(*block_cols).orderBy(F.asc("doc_id"))
        ),
    )
    normal = sized.filter(F.col("__bsz") <= max_block_size).drop("__bsz", "__rn")
    hot = sized.filter(F.col("__bsz") > max_block_size)
    exact_pairs = emit(
        normal.alias("a").join(
            normal.alias("b"), block_eq(F.col("a.doc_id") < F.col("b.doc_id"))
        )
    )
    hot_pairs = emit(
        hot.drop("__bsz", "__rn")
        .alias("a")
        .join(
            hot.filter(F.col("__rn") <= max_block_size)
            .drop("__bsz", "__rn")
            .alias("b"),
            block_eq(F.col("a.doc_id") != F.col("b.doc_id")),
        )
    ).distinct()
    return exact_pairs.unionByName(hot_pairs)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph — the step that
    turns near-dup PAIRS (minhash_dedup / simhash_pairs /
    ngram_jaccard_pairs output) into dedup CLUSTERS.

    Iterative min-label propagation: every node starts labeled with its
    own id; each round every node takes the minimum label among itself and
    its neighbors; converges when no label changes. Rounds needed =
    graph diameter — near-dup graphs are unions of small cliques (often
    diameter ≤ 2), so this terminates in a few shuffles. Each round is one
    join + one groupBy, all DataFrame ops; ``localCheckpoint`` truncates
    the growing lineage each round (at production scale point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
    ``checkpoint``). Raises if not converged within ``max_iter``.

    Convergence detection is O(labels) with no extra join: labels are
    monotonically non-increasing under min-propagation (the union keeps
    every node's current label as a candidate), so the label SUM strictly
    decreases until the fixpoint and is constant exactly at convergence.
    The sum runs in decimal(38,0) so it stays exact for any node-id ×
    node-count product an int64 would overflow on.

    Output: (node, component) with component = min node id reachable.
    """
    # Both directions; duplicates are harmless (min is idempotent), so no
    # distinct — one shuffle saved. Emitted by ONE explode per pair row
    # rather than union(pairs, swap(pairs)) (r14, guide §2.4): the union
    # form embeds the whole upstream pair pipeline TWICE in the seed
    # action's plan, and since the two branches are separate subtrees
    # they race-compute the (possibly expensive, Python-stage-bearing)
    # pair derivation concurrently on a cold cache — measured up to
    # ~4× run-to-run swing on the composed q_dedup_groups shape. The
    # explode evaluates the pair source exactly once per partition.
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Seed with the FIRST hop for free: comp₀(v) = min(v, min neighbor) is
    # one groupBy over the edge list — no join, and it both enumerates the
    # node set and completes propagation round 1 in the same shuffle.
    # Each round's labels go through a LAZY localCheckpoint and are
    # materialized BY the label-sum aggregate — still one action per
    # round (pinned), but the checkpoint also TRUNCATES the logical plan.
    # Truncation is load-bearing, not cosmetic: each round references the
    # previous labels twice (join input + union input), so an un-truncated
    # plan doubles per round — persist alone caches data but leaves the
    # logical tree growing 2^rounds, which breaks deep graphs at the
    # driver (plan construction), not the executors.
    def materialize_sum(df: DataFrame):
        cached = df.localCheckpoint(eager=False)
        total = cached.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).first()[0]
        return cached, total

    labels, cur_sum = materialize_sum(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.min(F.least("src", "dst")).alias("comp")
        )
    )
    # Clique fast path (r15): near-dup graphs are overwhelmingly unions
    # of diameter-≤1 components (mirror clusters), for which the SEED
    # labeling is already the fixpoint — but sum-based convergence can
    # only see that by computing one full CONFIRM round (join + union +
    # groupBy + checkpoint). Min-label propagation is at its fixpoint
    # iff no directed edge can lower a label — with the symmetric edge
    # list, iff labels agree across every edge — which one edge-scan
    # with two label lookups checks directly, no shuffle, no checkpoint.
    # Run it once after the seed: when it passes (the common case) the
    # confirm round is skipped outright; when it fails, proceed exactly
    # as before (the sum comparison stays the per-round detector — for
    # deeper graphs a per-round edge check would cost more than the sum
    # it replaces). The labeling is unchanged either way: stability
    # across edges IS the fixpoint condition the sum comparison detects.
    la = labels.select(F.col("node").alias("__sn"), F.col("comp").alias("__sc"))
    lb = labels.select(F.col("node").alias("__dn"), F.col("comp").alias("__dc"))
    seed_converged = (
        edges.join(la, edges.src == la.__sn)
        .join(lb, edges.dst == lb.__dn)
        .filter(F.col("__sc") != F.col("__dc"))
        .isEmpty()  # take(1)-style probe: aborts on the first violation
    )
    if seed_converged:
        if rounds_out is not None:
            rounds_out.append(1)  # seed hop only; edge check confirmed
        edges.unpersist()
        return labels
    for it in range(max_iter):
        # One propagation hop per materialization. (A fused two-hop round
        # was measured SLOWER: the un-checkpointed first hop's subtree
        # appears in both branches of the second hop — join input and
        # union input — and DataFrame branches get no cross-branch CSE, so
        # the first hop executed twice per round.)
        neighbor = edges.join(
            labels, edges.dst == labels.node
        ).select(F.col("src").alias("node"), F.col("comp"))
        new_labels, new_sum = materialize_sum(
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        labels.unpersist()
        labels = new_labels
        if new_sum == cur_sum:
            if rounds_out is not None:
                # seed hop + propagation hops run (the bench stage
                # breakdown's CC-round telemetry — r13 verdict #3)
                rounds_out.append(it + 2)
            edges.unpersist()
            return labels
        cur_sum = new_sum
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Canonical-representative mapping from near-dup pairs: every doc maps
    to keep_id = the smallest id in its connected component (docs in no
    pair map to themselves). ``docs.filter(doc_id == keep_id)`` is the
    deduplicated corpus; the mapping itself is the provenance record a
    training pipeline keeps.

    One components run + one left join on id — the join is key-aligned
    with the ids, and the components side is usually tiny relative to the
    corpus (only docs that appear in some pair).
    Output: (doc_id, keep_id).
    """
    comp = connected_components(pairs, a_col=a_col, b_col=b_col).select(
        F.col("node").alias(id_col), F.col("comp").alias("keep_id")
    )
    return docs.select(id_col).join(comp, id_col, "left").select(
        id_col,
        F.coalesce(F.col("keep_id"), F.col(id_col)).alias("keep_id"),
    )
