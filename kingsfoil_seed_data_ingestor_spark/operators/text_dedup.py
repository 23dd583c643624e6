"""Document deduplication operators: exact, Jaccard, MinHash-LSH, SimHash.

The LLM-pipeline extension surface (SURVEY.md §7.2 step 10). All four
strategies are expressed as DataFrame plans over a ``documents``-shaped
table (``doc_id long, text string``):

* **exact** — hash-groupBy on a normalized-content fingerprint; one
  shuffle on the 128-bit key, no row ever compared to another.
* **n-gram Jaccard** — inverted index: explode distinct shingles, self
  join on shingle, count shared per pair. Shingles are built inside
  each document's row after one ``(doc_id, text)`` repartition, so the
  text is shuffled once and the exploded postings never are
  (``shingle_hash_table``). Never materializes the n²
  pair space — only pairs sharing ≥1 shingle exist, and a document
  frequency cap drops degenerate stop-shingles that would otherwise
  create quadratic hot keys at 100 TB.
* **MinHash + LSH** — k seeded xxhash64 min-signatures, banded into
  LSH buckets; only bucket collisions become candidates, then exact
  Jaccard verifies. The scale path: cost is O(docs × k) + tiny
  candidate set, vs the inverted index's O(Σ shingle postings²).
  Defaults (128 hashes, 32 bands × 4 rows) put the S-curve midpoint
  at ≈0.5 with miss probability ≤ 5e-8 for pairs at Jaccard ≥ 0.8 —
  LSH recall is a parameter choice, not a hope.
* **SimHash** — 32- or 64-bit parity fingerprint per document; one
  kernel, ``simhash_candidates``, pairs documents agreeing on any
  masked key. Fed the multi-block pigeonhole masks of
  ``simhash_subset_masks`` (hamming ≤ d ⇒ some (B−d)-block subset is
  clean), it is lossless at any block count and width, so the block
  count can grow with N; callers then filter the exact hamming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import text as TX
from kingsfoil_seed_data_ingestor_spark.operators.caching import (
    CacheScope,
    scope_or_own,
)
from kingsfoil_seed_data_ingestor_spark.operators.partitioning import fan_out

# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content fingerprint: one row per distinct content with
    occurrence count and the keeper (minimum id) — keep-first by id,
    the order-free analogue of operator A1."""
    return (
        docs.select(
            F.col(id_col), TX.content_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# ----------------------------------------------------------------------
# n-gram Jaccard (inverted index)
# ----------------------------------------------------------------------


def _ngram_starts(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> tuple[DataFrame, list]:
    """``(doc_id, toks, pos, tok)`` rows, one per n-gram start, plus the
    n token columns of the gram starting there.

    The narrow ``(doc_id, text)`` rows are repartitioned by ``doc_id``
    ONCE — text compresses well and is far smaller than its exploded
    postings — and every n-gram is then built inside its own row:
    ``posexplode`` keeps the token array beside each position, and the
    following tokens are ``element_at(toks, pos + k + 1)``, filtered to
    ``pos + n <= size(toks)`` first, so no index is ever out of range
    (ANSI). No ``Window``, no sort, no posting exchange, all codegen'd
    (no lambda), and the output stays hash-partitioned by ``doc_id`` for
    the ``distinct`` or per-document aggregate that follows.

    The explode is ``posexplode_outer``: a null or empty token array
    gives one row with a null ``pos``, which the ``pos + n`` filter
    drops. A plain ``posexplode`` lets Spark infer ``size(toks) > 0``
    and push it below the repartition with the tokenizer substituted,
    so every text would be split on both sides of the exchange.
    """
    text = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).repartition("doc_id")
    starts = (
        text.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .select("doc_id", "toks", F.posexplode_outer("toks").alias("pos", "tok"))
        .filter(F.col("pos") + n <= F.size("toks"))
    )
    parts = [F.col("tok")] + [
        F.element_at("toks", F.col("pos") + (k + 1)) for k in range(1, n)
    ]
    return starts, parts


def shingle_table(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct ``(doc_id, shingle)`` posting list, shingles
    space-joined (``"a b c"``).

    Each gram is ``concat_ws`` over ``element_at`` of its row's own
    token array (see ``_ngram_starts``): ``transform``/``slice`` lambdas
    would run on Spark's *interpreted* expression path (measured ~6 s
    just to build shingle arrays at sf0.1), and a ``lead`` window would
    shuffle every exploded ``(doc_id, pos, token)`` row. The
    ``distinct`` reuses the text repartition's ``doc_id`` partitioning.
    """
    starts, parts = _ngram_starts(docs, n, id_col, text_col)
    grams = starts.select("doc_id", F.concat_ws(" ", *parts).alias("shingle"))
    return grams.distinct()


def shingle_sizes(posts: DataFrame) -> DataFrame:
    """Per-doc distinct-shingle counts from a posting list."""
    return posts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))


def shingle_hash_table(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """``(doc_id, sh)`` posting list with 64-bit *hashed* shingles.

    ``sh = xxhash64(xxhash64(t₀), xxhash64(t₁), xxhash64(t₂))`` over the
    gram's tokens, built row-locally from the token array (see
    ``_ngram_starts``) — never a string concat, and the only shuffle is
    the ``(doc_id, text)`` repartition, not the exploded postings. Set
    semantics under hashing are exact up to 64-bit collisions (≈ m²/2⁶⁵
    for m shingles — 3e-9 even at a billion distinct shingles per join
    key), and every downstream consumer (Jaccard counts, min-hash
    minima) is hash-invariant, so results match the string formulation;
    the DuckDB oracles pin that.

    ``distinct=False`` skips the set dedup — correct whenever the
    consumer is multiset-invariant (min-hash minima) or dedups itself
    (``collect_set``). Either way the rows come out hash-partitioned by
    ``doc_id``, so the ``distinct`` and a following ``groupBy(doc_id)``
    need no further exchange.
    """
    starts, parts = _ngram_starts(docs, n, id_col, text_col)
    grams = starts.select(
        "doc_id", F.xxhash64(*[F.xxhash64(p) for p in parts]).alias("sh")
    )
    return grams.distinct() if distinct else grams


def _pairs_with_jaccard(posts: DataFrame) -> DataFrame:
    """Shared-shingle counts → Jaccard for (i < j) pairs."""
    sizes = shingle_sizes(posts)
    a = posts.select(F.col("doc_id").alias("i"), "shingle")
    b = posts.select(F.col("doc_id").alias("j"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # the aggregated pair table is small; AQE broadcasts the right side
    shared = shared.join(
        sizes.select(F.col("doc_id").alias("i"), F.col("n_shingles").alias("ni")), "i"
    ).join(sizes.select(F.col("doc_id").alias("j"), F.col("n_shingles").alias("nj")), "j")
    jac = F.col("common") / (F.col("ni") + F.col("nj") - F.col("common"))
    return shared.withColumn("jaccard", jac)


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: CacheScope | None = None,
) -> DataFrame:
    """All pairs (i < j) with shingle-set Jaccard ≥ threshold.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents before the self-join — the standard guard against
    quadratic blowup on boilerplate shingles. Leave None for exact
    results (the oracle-checked configuration).
    """
    scope, own = scope_or_own(scope)
    posts = shingle_hash_table(docs, n, id_col, text_col).withColumnRenamed(
        "sh", "shingle"
    )
    if max_doc_freq is not None:
        rare = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        posts = posts.join(rare, "shingle")
    # the posting list feeds both join branches + the size table: persist
    # once instead of recomputing the tokenize/window/distinct pipeline
    # per branch (spillable storage level; Spark evicts under pressure)
    posts = scope.persist(posts)
    out = (
        _pairs_with_jaccard(posts)
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", F.round("jaccard", 6).alias("jaccard"))
    )
    return scope.attach(out) if own else out


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """k min-hash values per document from k seeded xxhash64 functions
    over the shingle set.

    Shape: NON-distinct hashed posting list → ``groupBy(doc).agg(min(
    xxhash64(k, sh)) × k)``. Minima are multiset-invariant, so the
    posting-list ``distinct`` is skipped, and the postings come out of
    the text repartition already partitioned by ``doc_id``. All k hashes
    evaluate in one tight codegen'd aggregate pass with map-side
    partial aggregation — only k partial minima per document cross the
    shuffle. (The earlier array formulation — k separate
    ``transform``+``array_min`` lambdas — ran on Spark's interpreted
    expression path and measured ~5× slower; a two-parameter lambda in
    ``F.transform`` also silently binds its second argument to the
    array index, so a seed must never be a lambda parameter.)
    """
    posts = shingle_hash_table(docs, n, id_col, text_col, distinct=False)
    return minhash_lanes_from_hashed_posts(posts, num_hashes)


def minhash_lanes_from_hashed_posts(posts: DataFrame, num_hashes: int = 96) -> DataFrame:
    """``(doc_id, signature)`` from a hashed posting list — lanes only.

    Kept SEPARATE from ``collect_set`` on purpose: a lanes-only groupBy
    compiles to whole-stage-codegen ``HashAggregateExec``, while any
    aggregate list containing ``collect_set`` moves the ENTIRE
    aggregation to ``ObjectHashAggregateExec`` — typed, non-codegen —
    and the 96 min lanes ride along on the slow path (measured at
    sf0.1: lanes alone 0.72 s, lanes fused with collect_set 2.0 s).
    """
    # ONE parsed SQL fragment per lane (and one for the array), not a
    # 4-deep pyspark Column chain each: the py4j round trips of
    # num_hashes × (lit → xxhash64 → min → alias) construction calls
    # measured 1.4-1.8 s of pure driver-side DAG-build time at 96
    # lanes — comparable to the query's entire execution. F.expr
    # parses in the JVM in one hop.
    lanes = [
        F.expr(f"min(xxhash64({k}, sh)) AS _h{k}") for k in range(num_hashes)
    ]
    minima = posts.groupBy("doc_id").agg(*lanes)
    signature = F.expr(
        "array(" + ", ".join(f"_h{k}" for k in range(num_hashes)) + ")"
    )
    return minima.select("doc_id", signature.alias("signature"))


def split_profiles_from_hashed_posts(
    posts: DataFrame, num_hashes: int = 96
) -> DataFrame:
    """``(doc_id, signature, shset)`` as TWO aggregates joined, not one.

    The lanes aggregate stays codegen'd (see
    ``minhash_lanes_from_hashed_posts``); ``collect_set`` runs in its
    own ObjectHashAggregate over the same posting rows. Both aggregates
    inherit the posting list's doc_id hash-partitioning, so the join
    re-aligns without an exchange — two cheap passes beat one fused
    pass that drags 96 min lanes onto the non-codegen path (measured
    at sf0.1: 2.0 s fused vs ~0.9 s split). ``posts`` should be
    persisted by the caller (both branches scan it).
    """
    sigs = minhash_lanes_from_hashed_posts(posts, num_hashes)
    shsets = posts.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    return sigs.join(shsets, "doc_id")


def lsh_band_expr(bands: int, rows_per_band: int) -> str:
    """The band-key SQL expression shared by every LSH consumer —
    ``explode`` of (band, bucket) structs where bucket = hash of the
    band's signature slice. ONE definition on purpose: the streaming
    index (``streaming/lsh.py``) probes rows banded by the batch
    operator's exact formula, and a second copy of this string would
    let the two silently desynchronize."""
    structs = ", ".join(
        f"struct({b} AS band, "
        f"hash(slice(signature, {b * rows_per_band + 1}, {rows_per_band})) AS bucket)"
        for b in range(bands)
    )
    return f"explode(array({structs}))"


def verify_candidates_from_sets(
    sets: DataFrame, cands: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification over pre-aggregated shingle sets:
    ``sets`` = (doc_id, shset), ``cands`` = (i, j) → (i, j, jaccard)
    filtered to ≥ threshold, rounded to 6 (the registry/oracle
    convention). Shared by ``minhash_near_dups`` and the streaming
    index so the verification formula exists exactly once."""
    paired = (
        sets.select(F.col("doc_id").alias("i"), F.col("shset").alias("sh_i"))
        .join(F.broadcast(cands), "i")
        .join(
            sets.select(F.col("doc_id").alias("j"), F.col("shset").alias("sh_j")),
            "j",
        )
    )
    common = F.size(F.array_intersect("sh_i", "sh_j"))
    jac = common / (F.size("sh_i") + F.size("sh_j") - common)
    return (
        paired.select("i", "j", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Distinct (i < j) pairs colliding in ≥1 LSH band.

    Band key = hash of the band's signature slice; the band index joins
    the key so buckets from different bands never mix. Shuffles on the
    band key only — candidate generation is linear in documents.

    The banded table is NOT persisted: ``minhash_near_dups`` passes
    cached ``signatures``, and re-deriving the explode from that cache
    is cheaper than a second materialization round-trip.
    """
    # single parsed expression for the band array — per-band Column
    # construction costs ~5 py4j round trips each (see
    # minhash_lanes_from_hashed_posts)
    banded = signatures.select(
        "doc_id", F.expr(lsh_band_expr(bands, rows_per_band)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bucket")
    left = banded.select(F.col("doc_id").alias("i"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("j"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 32,
    rows_per_band: int = 3,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: CacheScope | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold.

    The verification fetches the two shingle sets per candidate pair
    only, so output matches brute force while scaling linearly.

    Default banding is 32 bands × 3 rows (96 minima): miss probability
    for a pair at Jaccard ≥ 0.8 is (1 − 0.8³)³² ≈ 1.1e-10 — strictly
    stronger than the classic 32×4 (5e-8) while computing 25% fewer
    aggregate lanes. The trade is a lower S-curve midpoint ((1/32)^⅓ ≈
    0.31), i.e. more mid-similarity candidate pairs reach verification;
    at trillion-pair scale where candidate volume dominates, raise
    ``rows_per_band`` to 4–6 and scale ``num_hashes`` with it.

    Plan shape: ONE corpus pass builds the hashed posting list (the
    ``(doc_id, text)`` repartition is the only corpus-wide shuffle —
    n-grams are built row-locally after it); the 96 min-hash lanes and
    the ``collect_set`` aggregate from its cache on ``doc_id`` with no
    exchange; banding self-joins the banded rows on the band key;
    verification broadcast-joins the tiny set/candidate tables (if a
    pathological threshold ever made them huge, Catalyst falls back to
    shuffle joins; the plan stays correct).

    The non-codegen ``collect_set`` needed for exact-Jaccard
    verification runs CORPUS-WIDE from the posting-list cache,
    concurrently with the band join — no barrier. Gating it to
    candidate documents measured ~0.7 s slower at sf0.1 (2.6 s vs
    1.9 s; PERF_NOTES §r6): the gate bounds work but serializes the
    critical path until the corpus is far past bench scale.
    """
    scope, own = scope_or_own(scope)
    # one corpus pass builds the hashed posting list; the lanes
    # aggregate and the shingle-set aggregate both read this cache
    posts = scope.persist(
        shingle_hash_table(docs, n, id_col, text_col, distinct=False)
    )
    profiles = scope.persist(split_profiles_from_hashed_posts(posts, num_hashes))
    cands = lsh_candidate_pairs(
        profiles.select("doc_id", "signature"), bands, rows_per_band
    )
    sets = profiles.select("doc_id", "shset")
    out = verify_candidates_from_sets(sets, cands, threshold)
    return scope.attach(out) if own else out


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit simhash per document (md5-nibble-parity construction —
    engine-portable, see ``functions.text.simhash_nibble_contrib``)."""
    toks = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(F.col(text_col))).alias("tok"),
    ).withColumn("tok_md5", F.md5("tok"))
    per_bit = toks.groupBy("doc_id").agg(*TX.simhash32_agg_exprs("tok_md5"))
    return per_bit.select("doc_id", TX.assemble_simhash().alias("simhash"))


def simhash64_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit simhash per document (two md5 digests per token → 64
    independent parity lanes; see ``functions.text.simhash64_agg_exprs``).
    The wide fingerprint exists for scale: 16-bit pigeonhole bands give
    65 536 buckets per band vs the 32-bit variant's 256 — the band join
    stays fine-grained at billion-document corpora."""
    toks = (
        fan_out(docs).select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.tokens(F.col(text_col))).alias("tok"),
        )
        .withColumn("tok_md5", F.md5("tok"))
        .withColumn("tok_md5b", F.md5(F.concat(F.lit("x"), F.col("tok"))))
    )
    per_bit = toks.groupBy("doc_id").agg(
        *TX.simhash64_agg_exprs("tok_md5", "tok_md5b")
    )
    return per_bit.select("doc_id", TX.assemble_simhash64().alias("simhash64"))


def simhash_block_spans(n_blocks: int, bits: int = 32) -> list[tuple[int, int]]:
    """Split ``bits`` fingerprint bits into ``n_blocks`` nearly-equal
    ``(start, width)`` spans — the first ``bits % n_blocks`` blocks take
    the extra bit. Deterministic, shared by the Spark plan and any
    cross-engine re-derivation."""
    base, extra = divmod(bits, n_blocks)
    spans: list[tuple[int, int]] = []
    start = 0
    for b in range(n_blocks):
        w = base + (1 if b < extra else 0)
        spans.append((start, w))
        start += w
    return spans


def simhash_subset_masks(
    n_blocks: int, max_hamming: int = 3, bits: int = 32
) -> list[int]:
    """The Manku-style multi-block pigeonhole key masks: one mask per
    ``(n_blocks − max_hamming)``-subset of the block spans, in
    lexicographic subset order. A pair at hamming ≤ d has its differing
    bits in ≤ d blocks, so SOME subset of ``n_blocks − d`` blocks is
    entirely clean — the pair agrees exactly on that subset's masked
    fingerprint. Keying one "table" (band) per subset therefore finds
    every qualifying pair: the banding is LOSSLESS for hamming ≤ d at
    any block count and any fingerprint width, which is what lets the
    block count scale with N while the registered output (and its
    brute-force oracle) stays bit-identical. ``n_blocks = d + 1`` is
    the classic single-block pigeonhole banding.

    Masks are returned as SIGNED 64-bit values (two's complement), the
    type of a Spark long: a 64-bit mask covering bit 63 — the top block
    ``0xFFFF << 48`` — would otherwise not be a valid literal."""
    from itertools import combinations

    spans = simhash_block_spans(n_blocks, bits)
    keep = n_blocks - max_hamming
    masks = []
    for subset in combinations(range(n_blocks), keep):
        m = 0
        for b in subset:
            start, w = spans[b]
            m |= ((1 << w) - 1) << start
        masks.append(m - (1 << 64) if m >> 63 else m)
    return masks


#: random-collision candidates per document that
#: :func:`simhash_blocks_for` sizes the 32-bit block count to
SIMHASH_TARGET_PER_DOC = 16


def simhash_blocks_for(
    n: int,
    max_hamming: int = 3,
    bits: int = 32,
    max_blocks: int = 8,
) -> int:
    """N-aware block count for :func:`simhash_subset_masks` — the
    32-bit analogue of :func:`~kingsfoil_seed_data_ingestor_spark.
    operators.similarity.rhp_mask_bits`: pure integer arithmetic over a
    ``COUNT(*)`` scalar, no float/log2 boundary hazard.

    Why this must scale with N (VERDICT r10 #1): the fixed
    ``d+1``-block banding keys on single 32/(d+1)-bit blocks — 256
    buckets per band at d=3 — so RANDOM collisions grow Θ(N²/256)
    (measured: pair exponent ~1.5, exactly 10.0× wall on 10× data at
    sf1). With B blocks keyed on (B−d)-subsets, key width grows to
    ~bits·(B−d)/B while the table count grows C(B, d) — expected random
    candidates ≈ C(B,d)·N²/2^width. This picks the smallest B in
    ``[d+1, max_blocks]`` holding that mass at
    ``SIMHASH_TARGET_PER_DOC`` (= target) candidates per document under
    the uniform model, i.e. ``C(B,d)·N ≤ target·2^min_width(B)`` where
    ``min_width(B) = (B−d)·(bits div B) + max(0, bits mod B − d)`` (the
    narrowest subset). Ladder at d=3, target=16: B=4 to N≈1 k, 5 to ≈6.5 k,
    6 to ≈26 k, 7 to ≈60 k, 8 to ≈300 k; the ``max_blocks`` cap marks
    where a 32-bit fingerprint runs out of key entropy — corpora beyond
    it belong on the 64-bit fingerprint (:func:`simhash64_table`)."""
    from math import comb

    d = max_hamming
    for n_blocks in range(d + 1, max_blocks + 1):
        min_width = (n_blocks - d) * (bits // n_blocks) + max(
            0, (bits % n_blocks) - d
        )
        if comb(n_blocks, d) * int(n) <= SIMHASH_TARGET_PER_DOC * (1 << min_width):
            return n_blocks
    return max_blocks


def simhash_candidates(
    hashes: DataFrame,
    masks: list[int],
    max_bucket_size: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """``(i, j, hamming)`` once for every pair (i < j) of a
    ``(doc_id, fingerprint)`` table — either width — that agrees on at
    least one masked key ``fingerprint & mask``: the one SimHash band
    self-join. ``hamming`` is NOT filtered; callers keep the pairs they
    want. Fed :func:`simhash_subset_masks` for ``d``, every pair at
    hamming ≤ d is among the output.

    Cost model: one narrow (doc_id, band, key) row per document per
    mask, and candidates = the key collisions. :func:`simhash_blocks_for`
    sizes the 32-bit block count so random collisions stay at
    ``SIMHASH_TARGET_PER_DOC`` per document (vs the fixed 4×8-bit
    banding's Θ(N²/256)); the 64-bit fingerprint's 16-bit blocks keep
    4 single-block keys fine-grained at billion-document corpora.

    ``max_bucket_size`` is the hot-bucket guard: a (band, key) bucket of
    k fingerprints emits k(k-1)/2 candidate pairs, and boilerplate-heavy
    corpora concentrate simhashes — one bucket holding an exact-
    duplicate cluster turns the band join quadratic. Buckets above the
    cap are dropped from candidate generation only (run ``exact_dedup``
    first so identical content never reaches near-dup banding); a pair
    then survives through any colder band it agrees on. ``None``
    (default) keeps exact pigeonhole recall."""
    _, fp = hashes.columns
    banded = hashes.select(
        "doc_id",
        F.col(fp).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.col(fp).bitwiseAND(F.lit(m)).alias("key"),
                    )
                    for t, m in enumerate(masks)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "h", "bk.band", "bk.key")
    # the banded table feeds both self-join sides (and the bucket-size
    # window when capped) — persist so the per-token md5 fingerprint
    # aggregation runs once, not 2-3×. Same-session A/B at sf0.1:
    # capped ~2.5 s → ~2.1 s; uncapped neutral-to-better
    scope, own = scope_or_own(scope)
    banded = scope.persist(banded)
    if max_bucket_size is not None:
        # window-count cap: one exchange on (band, key) computes the
        # bucket size AND leaves the kept rows partitioned exactly as
        # the self-join needs them, so both join sides reuse that
        # exchange (10 → 6 exchanges against a groupBy-count + semi
        # join, whose under-cap bucket list also grows with the corpus
        # and stops broadcasting)
        banded = (
            banded.withColumn(
                "_bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
            )
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = banded.select(F.col("doc_id").alias("i"), F.col("h").alias("h_i"), "band", "key")
    right = banded.select(F.col("doc_id").alias("j"), F.col("h").alias("h_j"), "band", "key")
    pairs = left.join(right, ["band", "key"]).filter(F.col("i") < F.col("j"))
    if max_bucket_size is None:
        # first-agreeing-band guard (optimization round 11): a pair that
        # agrees on k masked keys surfaces k times. Both fingerprints
        # ride every candidate row, so each row decides locally whether
        # ITS band is the pair's lowest agreeing band — a chain of
        # bitwise mask comparisons inside codegen — and emits exactly
        # once, with no corpus-wide ``.distinct()`` exchange. NOT
        # applicable under the cap: a dropped bucket can silence the
        # lowest agreeing band, and the pair must then survive via a
        # colder one this local test cannot see — so the capped path
        # keeps the distinct.
        first_agree = F.lit(0)
        for t in range(len(masks) - 1, -1, -1):
            m = F.lit(masks[t])
            first_agree = F.when(
                F.col("h_i").bitwiseAND(m) == F.col("h_j").bitwiseAND(m), F.lit(t)
            ).otherwise(first_agree)
        pairs = pairs.filter(F.col("band") == first_agree).select("i", "j", "h_i", "h_j")
    else:
        pairs = pairs.select("i", "j", "h_i", "h_j").distinct()
    out = pairs.select(
        "i", "j", F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j"))).alias("hamming")
    )
    return scope.attach(out) if own else out


# ----------------------------------------------------------------------
# sub-document span dedup (CCNet-style duplicate-paragraph removal)
# ----------------------------------------------------------------------

#: tokens per dedup span — small enough that boilerplate repeats, large
#: enough that a span is meaningful content (CCNet uses paragraphs)
SPAN = 8


def span_table(
    docs: DataFrame,
    span: int = SPAN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, idx, h, n_tok)`` — every contiguous ``span``-token
    chunk of every document, md5-fingerprinted.

    md5 (not xxhash64) on purpose: the fingerprint doubles as the
    cross-engine grouping key for the DuckDB oracle, and hex-string md5
    is portable. The array build (sequence + slice + array_join) runs
    on the interpreted expression path — acceptable here because spans
    tile the document (one chunk per SPAN tokens), unlike the sliding
    shingle builders whose per-token window made the interpreted path
    a measured 5× loss. No window also means this works unchanged on
    batch AND streaming frames (pure per-row expressions).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TX.tokens(F.col(text_col)).alias("toks")
    )
    n_spans = F.ceil(F.size("toks") / span).cast("int")
    structs = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.struct(
                F.md5(
                    F.array_join(F.slice(F.col("toks"), i * span + 1, F.lit(span)), " ")
                ).alias("h"),
                F.least(F.lit(span), F.size("toks") - i * span).alias("n_tok"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h:string,n_tok:int>>"))
    return toks.select("doc_id", F.posexplode(structs).alias("idx", "s")).select(
        "doc_id", "idx", F.col("s.h").alias("h"), F.col("s.n_tok").alias("n_tok")
    )
