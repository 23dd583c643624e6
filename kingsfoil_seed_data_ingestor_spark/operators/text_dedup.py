"""Document deduplication operators: exact, Jaccard, MinHash-LSH, SimHash.

The LLM-pipeline extension surface (SURVEY.md §7.2 step 10). All four
strategies are expressed as DataFrame plans over a ``documents``-shaped
table (``doc_id long, text string``):

* **exact** — hash-groupBy on a normalized-content fingerprint; one
  shuffle on the 128-bit key, no row ever compared to another.
* **n-gram Jaccard** — inverted index: explode distinct shingles, self
  join on shingle, count shared per pair. Never materializes the n²
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
* **SimHash** — 32-bit parity fingerprint per document; candidates
  pair on any matching 8-bit band (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4
  bands equal), then exact hamming filter.
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


def shingle_table(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct ``(doc_id, shingle)`` posting list + per-doc set sizes.

    Built with posexplode + window ``lead`` instead of array
    higher-order functions: ``transform``/``slice`` lambdas run on
    Spark's *interpreted* expression path (no whole-stage codegen) and
    measured ~6 s just to build shingle arrays at sf0.1 — the
    explode/lead formulation keeps everything inside codegen and
    shuffles only narrow (doc_id, token) rows.

    No ``fan_out`` here (unlike the simhash builders): the window
    exchange hash-partitions by doc_id immediately after the explode,
    so the CPU-heavy lead/concat/distinct work is already spread across
    the cluster — a pre-repartition would only add a full-text shuffle
    (measured +0.3 s at sf0.1 with zero parallelism gained).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TX.tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    grams = toks.select(
        "doc_id",
        F.when(
            parts[-1].isNotNull(), F.concat_ws(" ", *parts)
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
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

    Tokens are hashed to longs BEFORE the windowed n-gram assembly, so
    the window exchange shuffles ``(doc_id, pos, long)`` — a fixed
    ~20 bytes per posting instead of the full shingle string — and the
    n-gram itself is ``xxhash64(h₀, h₁, h₂)`` over longs, never a
    string concat. Set semantics under hashing are exact up to 64-bit
    collisions (≈ m²/2⁶⁵ for m shingles — 3e-9 even at a billion
    distinct shingles per join key), and every downstream consumer
    (Jaccard counts, min-hash minima) is hash-invariant, so results
    match the string formulation; the DuckDB oracles pin that.

    ``distinct=False`` skips the set-dedup shuffle entirely — correct
    whenever the consumer is multiset-invariant (min-hash minima) or
    dedups itself (``collect_set``). The rows leave the window stage
    hash-partitioned by ``doc_id``, so a following ``groupBy(doc_id)``
    needs no further exchange.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TX.tokens(F.col(text_col))).alias("pos", "tok"),
    ).select("doc_id", "pos", F.xxhash64("tok").alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("h")] + [F.lead("h", k).over(w) for k in range(1, n)]
    grams = toks.select(
        "doc_id",
        F.when(parts[-1].isNotNull(), F.xxhash64(*parts)).alias("sh"),
    ).filter(F.col("sh").isNotNull())
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
    posting-list ``distinct`` shuffle is skipped, and the rows leave
    the shingle window already partitioned by ``doc_id``. All k hashes
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
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (i < j) pairs colliding in ≥1 LSH band.

    Band key = hash of the band's signature slice; the band index joins
    the key so buckets from different bands never mix. Shuffles on the
    band key only — candidate generation is linear in documents.

    The banded table is NOT persisted: ``minhash_near_dups`` passes
    cached ``signatures``, and re-deriving the explode from that cache
    is cheaper than a second materialization round-trip.

    ``max_bucket_size`` is the hot-bucket guard for corpus scale: a
    bucket of k colliding documents emits k(k-1)/2 candidate pairs, and
    buckets holding large exact-duplicate clusters (or a degenerate
    band of an all-boilerplate corpus) turn the band join quadratic.
    Buckets above the cap are dropped from CANDIDATE GENERATION only —
    run exact dedup first (`exact_dedup` collapses identical contents
    with one linear shuffle) so that near-dup LSH never sees the
    identical-content mass; what remains above a generous cap is a
    boilerplate cluster better handled by a doc-frequency filter.
    Leave ``None`` (default, exact recall) for oracle-gated runs.
    """
    # single parsed expression for the band array — per-band Column
    # construction costs ~5 py4j round trips each (see
    # minhash_lanes_from_hashed_posts)
    banded = signatures.select(
        "doc_id", F.expr(lsh_band_expr(bands, rows_per_band)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bucket")
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
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
    shingle window's exchange is the only corpus-wide shuffle); the
    96 min-hash lanes aggregate from its cache on the codegen
    HashAggregate path (no exchange — the window already partitioned
    by doc_id); banding self-joins the banded rows on the band key;
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


def simhash64_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Pairs (i < j) with 64-bit simhash hamming ≤ ``max_hamming`` via
    pigeonhole banding: ``max_hamming + 1`` bands of 64/(d+1) bits — a
    qualifying pair agrees exactly on ≥ 1 band. Shifts use the
    *unsigned* right shift (the sign bit is data here).

    ``max_bucket_size`` (round 8) is the hot-bucket guard this operator
    was missing while ``lsh_candidate_pairs`` had one: a band bucket of
    k fingerprints emits k(k-1)/2 candidate pairs, and boilerplate-
    heavy corpora concentrate simhashes — one 16-bit bucket holding an
    exact-duplicate cluster turns the band join quadratic. Buckets
    above the cap are dropped from candidate generation only (run
    ``exact_dedup`` first so identical content never reaches near-dup
    banding). ``None`` (default) keeps exact pigeonhole recall for
    oracle-gated runs."""
    n_bands = max_hamming + 1
    width = TX.SIMHASH64_BITS // n_bands
    spans = [
        (b * width, width if b < n_bands - 1 else TX.SIMHASH64_BITS - b * width)
        for b in range(n_bands)
    ]
    hashes = simhash64_table(docs, id_col, text_col)
    banded = hashes.select(
        "doc_id",
        "simhash64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash64"), start)
                        .bitwiseAND(F.lit((1 << w) - 1) if w < 64 else F.lit(-1))
                        .alias("bucket"),
                    )
                    for b, (start, w) in enumerate(spans)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash64", "bk.band", "bk.bucket")
    # the banded table feeds both self-join sides (and the bucket-size
    # aggregate when capped) — persist so the per-token md5 fingerprint
    # aggregation runs once, not 2-3× (same rationale as
    # lsh_candidate_pairs' persist). Same-session A/B at sf0.1:
    # capped ~2.5 s → ~2.1 s; uncapped neutral-to-better (the pair
    # distinct dominates there)
    scope, own = scope_or_own(scope)
    banded = scope.persist(banded)
    if max_bucket_size is not None:
        # window-count cap (optimization round 11; previously a
        # groupBy-count + left-semi join): one exchange on
        # (band, bucket) computes the bucket size AND leaves the kept
        # rows partitioned exactly as the candidate self-join needs
        # them, so both join sides reuse that exchange instead of
        # paying the aggregate's shuffle plus a re-shuffle of banded
        # through the semi join (plan: 10 → 6 exchanges). Also robust
        # at corpus scale: the semi-join's under-cap bucket list grows
        # with the corpus (most buckets are small) and would stop
        # broadcasting, while the window is always exactly one
        # full-banded shuffle. Semantics identical: keep rows whose
        # (band, bucket) holds ≤ max_bucket_size fingerprints.
        w_cap = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(w_cap))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = banded.select(
        F.col("doc_id").alias("i"), F.col("simhash64").alias("h_i"), "band", "bucket"
    )
    right = banded.select(
        F.col("doc_id").alias("j"), F.col("simhash64").alias("h_j"), "band", "bucket"
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
    )
    if max_bucket_size is None:
        # first-agreeing-band guard (optimization round 11, the
        # simhash_near_dups_auto treatment): both fingerprints ride
        # every candidate row, so each row decides locally whether its
        # band is the pair's lowest agreeing band and the multi-band
        # ``.distinct()`` exchange disappears. NOT applicable under the
        # hot-bucket cap: a dropped bucket can silence the lowest
        # agreeing band and the pair must then survive via a colder
        # one, which this local test cannot see — the capped path
        # keeps the distinct.
        def _agree(start: int, w: int):
            mask = F.lit((1 << w) - 1) if w < 64 else F.lit(-1)
            return (
                F.shiftrightunsigned(F.col("h_i"), start).bitwiseAND(mask)
                == F.shiftrightunsigned(F.col("h_j"), start).bitwiseAND(mask)
            )

        first_agree = F.lit(0)
        for t in range(len(spans) - 1, -1, -1):
            first_agree = F.when(_agree(*spans[t]), F.lit(t)).otherwise(first_agree)
        pairs = pairs.filter(F.col("band") == first_agree).select(
            "i", "j", "h_i", "h_j"
        )
    else:
        pairs = pairs.select("i", "j", "h_i", "h_j").distinct()
    hamming = F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j")))
    out = (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )
    return scope.attach(out) if own else out


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
    any block count, which is what lets the block count scale with N
    while the registered output (and its brute-force oracle) stays
    bit-identical."""
    from itertools import combinations

    spans = simhash_block_spans(n_blocks, bits)
    keep = n_blocks - max_hamming
    masks = []
    for subset in combinations(range(n_blocks), keep):
        m = 0
        for b in subset:
            start, w = spans[b]
            m |= ((1 << w) - 1) << start
        masks.append(m)
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
    """N-aware block count for :func:`simhash_near_dups_auto` — the
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
    it belong on the 64-bit family (:func:`simhash64_near_dups`)."""
    from math import comb

    d = max_hamming
    for n_blocks in range(d + 1, max_blocks + 1):
        min_width = (n_blocks - d) * (bits // n_blocks) + max(
            0, (bits % n_blocks) - d
        )
        if comb(n_blocks, d) * int(n) <= SIMHASH_TARGET_PER_DOC * (1 << min_width):
            return n_blocks
    return max_blocks


def simhash_near_dups_auto(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """:func:`simhash_near_dups` with the pigeonhole block count sized
    to the corpus (one cheap count job first) — the scale treatment the
    32-bit family was missing while the 64-bit one had its hot-bucket
    cap and rhp got N-aware masking (VERDICT r10 #1).

    Candidate generation keys each of C(B, d) bands on a masked
    fingerprint (:func:`simhash_subset_masks`); because every
    hamming ≤ d pair agrees on at least one full (B−d)-subset, recall
    is EXACT at every block count and the output — after the exact
    hamming post-filter — is identical to the brute-force O(n²)
    definition. The registered query therefore reuses the uncapped
    variant's DuckDB oracle verbatim: N only moves the candidate-mass
    constant, never the answer, so no parameter needs cross-engine
    re-derivation (contrast ``rhp_auto``, whose banding is lossy and
    whose oracle re-derives the mask from COUNT(*)).

    Cost model: C(B,d) narrow (doc_id, band, key) rows per document
    (≤ 56 at the B=8 cap) against random collision mass held at
    ``SIMHASH_TARGET_PER_DOC`` per document — linear candidates at every
    N the 32-bit fingerprint can serve, vs the fixed family's Θ(N²/256)."""
    if n_blocks is None:
        n = docs.count()
        n_blocks = simhash_blocks_for(n, max_hamming)
    masks = simhash_subset_masks(n_blocks, max_hamming)
    hashes = simhash_table(docs, id_col, text_col)
    banded = hashes.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.col("simhash").bitwiseAND(F.lit(m)).alias("key"),
                    )
                    for t, m in enumerate(masks)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    # both self-join sides read the banded table: persist so the
    # per-token md5 fingerprint aggregation runs once (the
    # simhash64_near_dups precedent)
    scope, own = scope_or_own(scope)
    banded = scope.persist(banded)
    left = banded.select(
        F.col("doc_id").alias("i"), F.col("simhash").alias("h_i"), "band", "key"
    )
    right = banded.select(
        F.col("doc_id").alias("j"), F.col("simhash").alias("h_j"), "band", "key"
    )
    # first-agreeing-band guard (optimization round 11): a pair that
    # agrees on k of the C(B,d) masked subsets used to surface k times
    # and pay a corpus-wide ``.distinct()`` exchange to dedup. Both
    # fingerprints ride every candidate row, so each row can decide
    # locally whether ITS band is the pair's lowest agreeing band —
    # a chain of bitwise mask comparisons inside codegen — and emit
    # exactly once. The distinct's full shuffle of the multi-band
    # candidate mass disappears (the largest exchange of this plan
    # after the banded self-join itself).
    first_agree = F.lit(0)
    for t in range(len(masks) - 1, -1, -1):
        m = F.lit(masks[t])
        first_agree = F.when(
            F.col("h_i").bitwiseAND(m) == F.col("h_j").bitwiseAND(m), F.lit(t)
        ).otherwise(first_agree)
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("i") < F.col("j"))
        .filter(F.col("band") == first_agree)
        .select("i", "j", "h_i", "h_j")
    )
    hamming = F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j")))
    out = (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )
    return scope.attach(out) if own else out


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs (i < j) with simhash hamming distance ≤ ``max_hamming``.

    Candidate generation by the pigeonhole principle: split the 32
    bits into ``max_hamming + 1`` blocks — a pair within distance d
    must agree exactly on at least one block — so a band join finds
    every qualifying pair without an n² scan.

    FIXED-BAND REFEREE (VERDICT r10 #1): at d=3 the four 8-bit blocks
    give only 256 buckets per band, so random collisions grow
    Θ(N²/256) — measured pair exponent ~1.5 and exactly 10.0× wall on
    10× data at sf1. The production/registered path is
    :func:`simhash_near_dups_auto`, whose block count grows with the
    corpus while producing the IDENTICAL output (lossless banding);
    this fixed shape stays as the equivalence referee.
    """
    from kingsfoil_seed_data_ingestor_spark.functions.text import SIMHASH_BITS

    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    spans = [
        (b * width, width if b < n_bands - 1 else SIMHASH_BITS - b * width)
        for b in range(n_bands)
    ]
    hashes = simhash_table(docs, id_col, text_col)
    banded = hashes.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), start)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("byte"),
                    )
                    for b, (start, w) in enumerate(spans)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.byte")
    left = banded.select(F.col("doc_id").alias("i"), F.col("simhash").alias("h_i"), "band", "byte")
    right = banded.select(F.col("doc_id").alias("j"), F.col("simhash").alias("h_j"), "band", "byte")
    pairs = (
        left.join(right, ["band", "byte"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", "h_i", "h_j")
        .distinct()
    )
    hamming = F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


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
