"""LLM training-data pipeline queries over ``documents``/``embeddings``.

The extension surface (SURVEY.md §7.2 step 10): dedup (exact, n-gram
Jaccard, MinHash-LSH, SimHash), similarity search (brute-force +
IVF-partitioned), text analysis (tokens, quality, lang-ID,
fingerprints), multimodal byte-column metadata.

Every query has a DuckDB oracle generated from the SAME constants
(thresholds, stopword lists, formulas) by the SQL-fragment builders
below, so the two implementations cannot drift apart silently. Where
the Spark plan uses a sub-quadratic algorithm (inverted index, LSH,
banding), the oracle is the O(n²) brute-force definition — the point
of the check is that the scalable plan returns the exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import text as TX
from kingsfoil_seed_data_ingestor_spark.operators import ann_index as ANN
from kingsfoil_seed_data_ingestor_spark.operators import multimodal as MM
from kingsfoil_seed_data_ingestor_spark.operators import sampling as SMP
from kingsfoil_seed_data_ingestor_spark.operators import similarity as SIM
from kingsfoil_seed_data_ingestor_spark.operators import components as CC
from kingsfoil_seed_data_ingestor_spark.operators import skew as SK
from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope
from kingsfoil_seed_data_ingestor_spark.plans.core import register
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

# ----------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) mirroring functions/text.py
# ----------------------------------------------------------------------

SQL_TOKENS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


def sql_shingles(n: int = 3) -> str:
    parts = " || ' ' || ".join(f"toks[i+{k + 1}]" for k in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(range(len(toks)-{n - 1}), i -> {parts})) "
        f"ELSE []::VARCHAR[] END"
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(len({a})), "
        f"i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE), (x, y) -> x + y)"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def sql_hits(langwords: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in langwords)
    return f"len(list_filter(toks, t -> list_contains([{arr}], lower(t))))"


SQL_NORMALIZED = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SIMHASH_SUMS = ", ".join(
    f"SUM(((strpos('0123456789abcdef', substr(md5(tok), {b + 1}, 1)) - 1) % 2) * 2 - 1)"
    f" AS _sh{b}"
    for b in range(TX.SIMHASH_BITS)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"CASE WHEN _sh{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(TX.SIMHASH_BITS)
)
#: per-doc simhash as a CTE body (expects a `documents`-shaped view)
SQL_SIMHASH_TABLE = f"""
    SELECT doc_id, CAST({_SIMHASH_ASSEMBLE} AS BIGINT) AS simhash
    FROM (
        SELECT doc_id, {_SIMHASH_SUMS}
        FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents)
        GROUP BY doc_id
    )
"""

_SIMHASH64_SUMS = ", ".join(
    (
        f"SUM(((strpos('0123456789abcdef', substr(md5(tok), {b + 1}, 1)) - 1) % 2) * 2 - 1)"
        f" AS _sh{b}"
        if b < 32
        else f"SUM(((strpos('0123456789abcdef', substr(md5('x' || tok), {b - 31}, 1)) - 1)"
        f" % 2) * 2 - 1) AS _sh{b}"
    )
    for b in range(64)
)
_SIMHASH64_ASSEMBLE = (
    " + ".join(f"CASE WHEN _sh{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(63))
    + " + CASE WHEN _sh63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
)
#: per-doc 64-bit simhash as a CTE body (two md5 digests per token;
#: bit 63 enters as −2⁶³ so the value stays inside signed BIGINT)
SQL_SIMHASH64_TABLE = f"""
    SELECT doc_id, CAST({_SIMHASH64_ASSEMBLE} AS BIGINT) AS simhash64
    FROM (
        SELECT doc_id, {_SIMHASH64_SUMS}
        FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents)
        GROUP BY doc_id
    )
"""

_JACCARD_PAIRS_CTE = f"""
    t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, {sql_shingles(3)} AS sh FROM t),
    sz AS (SELECT doc_id, sh, len(sh) AS n FROM s WHERE len(sh) > 0),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.sh, b.sh)) AS common, a.n AS ni, b.n AS nj
        FROM sz a JOIN sz b ON a.doc_id < b.doc_id
    )
"""

#: word-3-gram Jaccard ≥ 0.5 edges, the pair set the text components
#: queries close
_SQL_JACCARD_EDGES = f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT i, j FROM p WHERE common::DOUBLE / (ni + nj - common) >= 0.5
"""


def sql_closure(pairs_sql: str, id_col: str, label_col: str) -> str:
    """DuckDB oracle for connected components over a pair set: one
    ``(id_col, label_col)`` row per node of an edge, labelled with the
    smallest id in its component (what ``operators.components``
    computes), via a recursive reachability CTE.

    ``pairs_sql`` is a query returning undirected edges as ``(i, j)``.
    It is MATERIALIZED: otherwise DuckDB inlines it (usually an O(n²)
    brute-force pair query) into every reference AND every recursive
    iteration of ``reach``, multiplying the n² work per iteration."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
        SELECT i AS src, j AS dst FROM pairs
        UNION ALL
        SELECT j AS src, i AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
        SELECT node, node AS lbl FROM nodes
        UNION
        SELECT e.dst AS node, r.lbl AS lbl
        FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS {id_col}, MIN(lbl) AS {label_col}
    FROM reach GROUP BY node
    """


# ----------------------------------------------------------------------
# text analysis
# ----------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (
        SELECT lang, {SQL_TOKENS} AS toks,
               regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS pieces
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           round(SUM(len(toks))::DOUBLE / COUNT(*), 6) AS avg_tokens,
           CAST(MAX(len(toks)) AS BIGINT) AS max_tokens,
           CAST(SUM(len(pieces)) AS BIGINT) AS total_bpe_pieces
    FROM t GROUP BY lang
    """,
    doc="Token counting (whitespace + BPE-ish regex) aggregated per "
    "language — all JVM-side array expressions, one shuffle on the "
    "grouping key.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            TX.token_count(F.col("text")).cast("long").alias("n_tok"),
            TX.bpe_piece_count(F.col("text")).cast("long").alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.sum("n_tok") / F.count(F.lit(1)), 6).alias("avg_tokens"),
            F.max("n_tok").alias("max_tokens"),
            F.sum("n_bpe").alias("total_bpe_pieces"),
        )
    )


_SQL_QUALITY = """
    least(n_tok / 50.0, 1.0) * 0.5
    + least(CASE WHEN n_tok > 0 THEN stop_hits::DOUBLE / n_tok ELSE 0.0 END * 5.0, 1.0) * 0.5
    - least(
        (CASE WHEN n_chars_ > 0 THEN punct_chars::DOUBLE / n_chars_ ELSE 0.0 END) * 4.0
        + (CASE WHEN n_chars_ > 0 THEN digit_chars::DOUBLE / n_chars_ ELSE 0.0 END) * 2.0,
        1.0) * 0.25
"""


@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
        SELECT source, {SQL_TOKENS} AS toks, length(text) AS n_chars_,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct_chars,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars
        FROM documents
    ), m AS (
        SELECT source, len(toks) AS n_tok,
               {sql_hits(TX.STOPWORDS["en"])} AS stop_hits,
               n_chars_, punct_chars, digit_chars
        FROM t
    ), q AS (
        SELECT source, greatest(least(({_SQL_QUALITY}), 1.0), 0.0) AS score FROM m
    )
    SELECT source, COUNT(*) AS n_docs,
           round(AVG(score), 6) AS avg_quality,
           round(MIN(score), 6) AS min_quality,
           CAST(COUNT(*) FILTER (score < 0.5) AS BIGINT) AS n_low_quality
    FROM q GROUP BY source
    """,
    doc="Composite quality scoring (length/stopword/punctuation/digit "
    "signals) per source — the filter stage of a pretraining pipeline.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    score = TX.quality_score(F.col("text"))
    return (
        docs.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_quality"),
            F.round(F.min("score"), 6).alias("min_quality"),
            F.sum(F.when(F.col("score") < 0.5, 1).otherwise(0)).alias("n_low_quality"),
        )
    )


def _sql_langid() -> str:
    ratios = []
    for lang in sorted(TX.STOPWORDS):
        ratios.append(
            f"CASE WHEN len(toks) > 0 THEN {sql_hits(TX.STOPWORDS[lang])}::DOUBLE"
            f" / len(toks) ELSE 0.0 END AS r_{lang}"
        )
    langs = sorted(TX.STOPWORDS)
    m = "greatest(" + ", ".join(f"r_{lg}" for lg in langs) + ")"
    first_max = " ".join(f"WHEN r_{lg} = m THEN '{lg}'" for lg in langs)
    return f"""
    WITH t AS (SELECT lang, {SQL_TOKENS} AS toks FROM documents),
    r AS (SELECT lang, {', '.join(ratios)} FROM t),
    p AS (
        SELECT lang, {m} AS m, * FROM r
    ), pred AS (
        SELECT lang,
               CASE WHEN m <= 0.1 THEN 'unknown' {first_max} ELSE 'unknown' END
               AS predicted
        FROM p
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY lang, predicted
    """


@register(
    "text_langid",
    oracle=_sql_langid(),
    doc="Heuristic language ID (stopword-ratio argmax, alphabetical "
    "first-max tie-break, 0.1 floor) — confusion counts of labeled "
    "lang vs predicted.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ratios = TX.lang_ratio_columns(F.col("text"))
    with_ratios = docs.select(
        "lang", *[expr.alias(f"r_{lg}") for lg, expr in ratios.items()]
    )
    predicted = TX.langid_from_ratios(
        {lg: F.col(f"r_{lg}") for lg in ratios}
    )
    return (
        with_ratios.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH sh AS ({SQL_SIMHASH_TABLE})
    SELECT d.doc_id, md5({SQL_NORMALIZED}) AS fingerprint, sh.simhash
    FROM documents d JOIN sh ON sh.doc_id = d.doc_id
    WHERE d.doc_id < 20
    """,
    doc="Document fingerprinting: md5 content hash of normalized text "
    "+ 32-bit simhash (md5-nibble-parity construction, engine-portable).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    hashes = DD.simhash_table(docs)
    fp = docs.select(
        "doc_id", TX.content_fingerprint(F.col("text")).alias("fingerprint")
    )
    return fp.join(hashes, "doc_id").select("doc_id", "fingerprint", "simhash")


_SQL_ROLLING = f"""
    CASE WHEN length({SQL_NORMALIZED}) = 0 THEN 0 ELSE list_reduce(
        list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split({SQL_NORMALIZED}, ''),
                           c -> CAST(ascii(c) AS BIGINT))),
        (h, c) -> (h * {TX.ROLLING_BASE} + c) % {TX.ROLLING_MOD}) END
"""


@register(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id, {_SQL_ROLLING} AS rh
    FROM documents WHERE doc_id < 50
    """,
    doc="Rabin-Karp rolling-hash document fingerprint: the left fold "
    "h = h*257 + codepoint mod 2^31-1 over normalized text — the "
    "incremental hash whose windowed form powers content-defined "
    "chunking. Value-checked against DuckDB's independent list_reduce "
    "fold. The per-doc fold is partition-local (no shuffle at all).",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", TX.rolling_fingerprint(F.col("text")).alias("rh"))


def _sql_ratio(lang: str) -> str:
    return (
        f"CASE WHEN len(toks) > 0 THEN {sql_hits(TX.STOPWORDS[lang])}::DOUBLE"
        f" / len(toks) ELSE 0.0 END"
    )


_FUNNEL_LANGS = sorted(TX.STOPWORDS)
_SQL_FUNNEL_PRED = "CASE WHEN mr <= 0.1 THEN 'unknown' " + " ".join(
    f"WHEN r_{lg} = mr THEN '{lg}'" for lg in _FUNNEL_LANGS
) + " ELSE 'unknown' END"
_FUNNEL_FINAL = "predicted = 'en' AND score >= 0.5 AND n_tok BETWEEN 10 AND 1000"


@register(
    "text_quality_funnel",
    oracle=f"""
    WITH t AS (SELECT source, text, {SQL_TOKENS} AS toks FROM documents),
    m AS (
        SELECT source, len(toks) AS n_tok,
               {sql_hits(TX.STOPWORDS["en"])} AS stop_hits,
               length(text) AS n_chars_,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct_chars,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
               {", ".join(f"{_sql_ratio(lg)} AS r_{lg}" for lg in _FUNNEL_LANGS)}
        FROM t
    ),
    d AS (
        SELECT source, n_tok,
               greatest(least(({_SQL_QUALITY}), 1.0), 0.0) AS score,
               greatest({", ".join(f"r_{lg}" for lg in _FUNNEL_LANGS)}) AS mr,
               {", ".join(f"r_{lg}" for lg in _FUNNEL_LANGS)}
        FROM m
    ),
    p AS (SELECT source, n_tok, score, {_SQL_FUNNEL_PRED} AS predicted FROM d)
    SELECT source, COUNT(*) AS n_total,
           CAST(COUNT(*) FILTER (predicted = 'en') AS BIGINT) AS n_lang_en,
           CAST(COUNT(*) FILTER (predicted = 'en' AND score >= 0.5) AS BIGINT)
               AS n_quality,
           CAST(COUNT(*) FILTER ({_FUNNEL_FINAL}) AS BIGINT) AS n_final,
           round(COUNT(*) FILTER ({_FUNNEL_FINAL})::DOUBLE / COUNT(*), 6) AS keep_rate
    FROM p GROUP BY source
    """,
    doc="C4-style corpus cleaning funnel: per-source survival counts "
    "through language-ID → quality-score → length-window filters, all "
    "computed in ONE scan with conditional aggregation (no per-stage "
    "passes, one shuffle on the grouping key). The funnel shape — "
    "monotone n_total ≥ n_lang_en ≥ n_quality ≥ n_final — is what a "
    "pretraining-mix dashboard reads.",
)
def text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ratios = TX.lang_ratio_columns(F.col("text"))
    base = docs.select(
        "source",
        TX.token_count(F.col("text")).alias("n_tok"),
        TX.quality_score(F.col("text")).alias("score"),
        *[expr.alias(f"r_{lg}") for lg, expr in ratios.items()],
    )
    pred = TX.langid_from_ratios({lg: F.col(f"r_{lg}") for lg in ratios})
    staged = base.select("source", "n_tok", "score", pred.alias("predicted"))
    is_en = F.col("predicted") == "en"
    is_q = is_en & (F.col("score") >= 0.5)
    is_final = is_q & F.col("n_tok").between(10, 1000)

    def cnt(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        cnt(is_en).alias("n_lang_en"),
        cnt(is_q).alias("n_quality"),
        cnt(is_final).alias("n_final"),
        F.round(cnt(is_final) / F.count(F.lit(1)), 6).alias("keep_rate"),
    )


@register(
    "text_length_quantiles",
    oracle=f"""
    WITH t AS (SELECT lang, len({SQL_TOKENS}) AS n_tok FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           round(quantile_cont(n_tok, 0.5), 6) AS p50,
           round(quantile_cont(n_tok, 0.9), 6) AS p90,
           round(quantile_cont(n_tok, 0.99), 6) AS p99,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok
    FROM t GROUP BY lang
    """,
    doc="Per-language token-count distribution: exact linear-interpolated "
    "quantiles (Spark `percentile` ≡ DuckDB `quantile_cont`, same "
    "definition, value-hash-comparable). Exact percentile sorts within "
    "each group — fine for dashboard-sized groups; at 100 TB swap in "
    "approx_percentile (t-digest, mergeable, bounded memory) when the "
    "±ε contract allows.",
)
def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select("lang", TX.token_count(F.col("text")).cast("long").alias("n_tok"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("n_tok", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("n_tok", F.lit(0.99)), 6).alias("p99"),
        F.max("n_tok").alias("max_tok"),
    )


#: bottom-k sample size for the quantile sketch: rank error is
#: O(sqrt(p(1-p)/k)) ≈ 0.044 at the median for k=128
QSK_K = 128
QSK_PROBS = (0.10, 0.50, 0.90, 0.99)


@register(
    "text_length_quantile_sketch",
    oracle=f"""
    WITH d AS (SELECT doc_id, n_chars FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    hv AS (
        SELECT n_chars, doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM d
    ),
    samp AS (SELECT n_chars FROM hv ORDER BY h, doc_id LIMIT {QSK_K}),
    sr AS (SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars) AS r FROM samp),
    ks AS (SELECT CAST(MAX(r) AS BIGINT) AS k_sample FROM sr),
    probs AS (
        SELECT CAST(p AS DOUBLE) AS p
        FROM (VALUES {', '.join(f'({p})' for p in QSK_PROBS)}) t(p)
    ),
    est AS (
        SELECT p, k_sample, sr.n_chars AS est_len
        FROM probs CROSS JOIN ks
        JOIN sr ON sr.r = CAST(CEIL(p * k_sample) AS BIGINT)
    ),
    hist AS (
        SELECT n_chars,
               CAST(SUM(COUNT(*)) OVER (ORDER BY n_chars) AS BIGINT) AS cum
        FROM d GROUP BY n_chars
    ),
    exact AS (
        SELECT p, MIN(hist.n_chars) AS exact_len
        FROM probs CROSS JOIN tot
        JOIN hist ON hist.cum >= CEIL(p * n)
        GROUP BY p
    ),
    cle AS (
        SELECT e.p, COALESCE(MAX(h2.cum), 0) AS c
        FROM est e LEFT JOIN hist h2 ON h2.n_chars <= e.est_len
        GROUP BY e.p
    )
    SELECT e.p, e.est_len, x.exact_len,
           round(abs(cle.c / n - e.p), 6) AS rank_err,
           e.k_sample, tot.n AS n_docs
    FROM est e
    JOIN exact x ON x.p = e.p
    JOIN cle ON cle.p = e.p
    CROSS JOIN tot
    """,
    doc="Mergeable QUANTILE sketch, hash-checked cross-engine "
    "including the estimates — the order-statistics companion to the "
    "HLL/KMV cardinality sketches (VERDICT r6 #8). Construction: a "
    "bottom-k coordinated sample — keep the k=128 documents with the "
    "SMALLEST 60-bit md5(doc_id) hashes (the md5-threshold sampler "
    "idiom) and estimate quantile p as the sample's nearest-rank "
    "value at ceil(p·k). The sketch is a true mergeable summary: "
    "union of two sketches = re-take the k smallest of the "
    "concatenation (commutative, associative, idempotent — the same "
    "merge law as KMV), so partial sketches combine across 100 TB "
    "partitions in one map-side-combinable top-k "
    "(TakeOrderedAndProject), no global sort. Unlike KLL/GK its "
    "decisions are hash-determined, not stream-order-dependent, "
    "which is what makes the estimate itself cross-engine "
    "hash-checkable. Error witnesses ride along per row: the EXACT "
    "nearest-rank quantile (distinct-value histogram + cumulative "
    "count — the referee cost the sketch replaces at scale) and "
    "rank_err = |F(est) - p| (measured ≤ 0.06 at sf0.1; pytest "
    "floor 0.12 ≈ 1.4/sqrt(k)).",
)
def text_length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plan slimming (optimization round 11, guide §5/§2.4): the two
    # SMALL derived frames each feed two branches — the ranked sample
    # (ks + est) and the distinct-length histogram (exact + rank-err) —
    # and recomputing either costs a full corpus scan; scoped persists
    # cut the before-plan's NINE parquet scans to three. The 2-column
    # BASE is deliberately NOT cached: measured at sf0.1, caching it
    # (and the 7-row est) cost more in fill barriers than the saved
    # pruned-column scans (~2.7 s vs ~1.9 s) — the remaining scans are
    # pushdown-pruned 2-column reads. The p-keyed assembly joins are
    # ≤7-row frames whose derived-plan size estimates the planner gets
    # wrong — explicit broadcast hints replace the two SortMergeJoins
    # the before-plan paid on them (values identical, hash-matched at
    # 3 SFs).
    scope = CacheScope()
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    hv = docs.select(
        "n_chars",
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # distributed top-k by hash (TakeOrderedAndProject): the sketch
    samp = hv.orderBy("h", "doc_id").limit(QSK_K).select("n_chars")
    # rank inside the sample: ≤ k rows, the single-partition window is
    # bounded by construction; persisted — ks and est both read it
    sr = scope.persist(
        samp.select(
            "n_chars", F.row_number().over(W.orderBy("n_chars")).alias("r")
        )
    )
    ks = sr.agg(F.max("r").cast("long").alias("k_sample"))
    probs = spark.createDataFrame([(p,) for p in QSK_PROBS], "p double")
    est = (
        probs.crossJoin(F.broadcast(ks))
        .join(
            F.broadcast(sr),
            F.col("r") == F.ceil(F.col("p") * F.col("k_sample")),
        )
        .select("p", "k_sample", F.col("n_chars").alias("est_len"))
    )
    # exact referee: distinct-value histogram + running count — the
    # window is over DISTINCT lengths (bounded), never the raw rows
    hist = scope.persist(
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "n_chars",
            F.sum("cnt").over(W.orderBy("n_chars")).cast("long").alias("cum"),
        )
    )
    exact = (
        probs.crossJoin(F.broadcast(tot))
        .join(hist, F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
        .groupBy("p")
        .agg(F.min("n_chars").alias("exact_len"))
    )
    cle = (
        F.broadcast(est).alias("e")
        .join(hist.alias("h2"), F.col("h2.n_chars") <= F.col("e.est_len"), "left")
        .groupBy("e.p")
        .agg(F.coalesce(F.max("h2.cum"), F.lit(0)).alias("c"))
    )
    return scope.attach(
        est.join(F.broadcast(exact), "p")
        .join(F.broadcast(cle), "p")
        .crossJoin(F.broadcast(tot))
        .select(
            "p",
            "est_len",
            "exact_len",
            F.round(F.abs(F.col("c") / F.col("n") - F.col("p")), 6).alias(
                "rank_err"
            ),
            "k_sample",
            F.col("n").alias("n_docs"),
        )
    )


#: training-mix rates for the stratified-sampling query: even-numbered
#: sources kept at 50 %, odd at 10 % — the wiki-vs-web weighting shape
SAMPLE_RATES = {f"src{i}": (0.5 if i % 2 == 0 else 0.1) for i in range(20)}


def _sql_sample_case() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN '{SMP.hash_threshold(r)}'"
        for s, r in sorted(SAMPLE_RATES.items())
    )
    return f"CASE source {whens} ELSE '{SMP.hash_threshold(0.0)}' END"


@register(
    "sample_stratified",
    oracle=f"""
    SELECT source, COUNT(*) AS n_sampled
    FROM documents
    WHERE md5(text) < {_sql_sample_case()}
    GROUP BY source
    """,
    doc="Reproducible training-mix sampling: keep each source stratum "
    "at its own rate by comparing md5(content) against a fixed-width "
    "hex threshold — numeric-uniform, stable across runs AND engines "
    "(the oracle selects the bit-identical sample set). One CASE over "
    "the stratum column; no shuffle before the reporting aggregate.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        SMP.stratified_sample(docs, "text", "source", SAMPLE_RATES)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


#: A-ES weighted sample size (documents table: 500 docs at the oracle
#: SF, so the 100-row sample is a real selection, not a pass-through)
AES_K = 100


@register(
    "corpus_sample_weighted",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, 1 + (n_chars % 5) AS weight,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM documents
    ),
    k AS (
        SELECT doc_id, weight,
               ln((hv + 1) / {SMP.AES_U_DENOM!r}) / weight AS key
        FROM h
    )
    SELECT doc_id, CAST(weight AS INT) AS weight, round(key, 6) AS aes_key
    FROM k ORDER BY key DESC, doc_id LIMIT {AES_K}
    """,
    doc="Deterministic weighted sampling without replacement "
    "(Efraimidis–Spirakis A-ES): key = ln(u)/w over the engine-"
    "portable 60-bit md5 uniform, top-k by key — quality-weighted "
    "corpus selection that is reproducible across runs AND engines "
    "(the oracle recomputes the identical keys and selects the "
    "identical rows; weight here is a 1-5 length-derived quality "
    "proxy). Scale shape: map-side key expression + distributed "
    "top-k (TakeOrderedAndProject) — no corpus shuffle, no window. "
    "The md5-threshold sampler covers uniform/stratified rates; this "
    "is its weighted twin for importance-weighted training mixes.",
)
def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return SMP.weighted_sample_topk(
        docs, AES_K, (F.lit(1) + F.col("n_chars") % 5).cast("double")
    )


#: the decontamination check plants one KNOWN leak: eval doc -1 is the
#: first N tokens of train doc 42 — the testdata's organic eval stand-in
#: (docs 0-4) shares no 8-gram with any train doc, so without a planted
#: leak the oracle would only ever agree on silence
DECON_LEAK_SRC_ID = 42
DECON_LEAK_TOKENS = 27


@register(
    "text_decontaminate",
    oracle=f"""
    WITH ev_base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 5
        UNION ALL
        SELECT -1 AS doc_id,
               array_to_string(list_slice({SQL_TOKENS}, 1, {DECON_LEAK_TOKENS}), ' ') AS text
        FROM documents WHERE doc_id = {DECON_LEAK_SRC_ID}
    ), t AS (
        SELECT doc_id, {SQL_TOKENS} AS toks FROM documents WHERE doc_id >= 5
    ), s AS (
        SELECT doc_id, {sql_shingles(8)} AS sh FROM t
    ), te AS (
        SELECT doc_id, {SQL_TOKENS} AS toks FROM ev_base
    ), se AS (
        SELECT doc_id, {sql_shingles(8)} AS sh FROM te
    ), tr AS (
        SELECT doc_id AS train_id, unnest(sh) AS g FROM s
    ), ev AS (
        SELECT doc_id AS eval_id, unnest(sh) AS g FROM se
    )
    SELECT train_id, eval_id, COUNT(*) AS shared_ngrams
    FROM tr JOIN ev USING (g)
    GROUP BY train_id, eval_id
    """,
    doc="Benchmark decontamination: every (train, eval) pair sharing "
    "≥ 1 word 8-gram, found by the inverted-index join (explode grams, "
    "join on gram — never the |train|×|eval| pair space; the tiny eval "
    "posting list broadcasts). Docs 0-4 stand in as the eval set, plus "
    "one planted leak (eval -1 = a truncated copy of train doc 42) so "
    "the check proves the detector FINDS overlap — including the "
    "partial-overlap gram count — rather than agreeing on zero rows.",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # slice from the CANONICAL tokenizer so the planted leak can never
    # drift from what contamination_pairs itself tokenizes
    toks = TX.tokens(F.col("text"))
    planted = docs.filter(F.col("doc_id") == DECON_LEAK_SRC_ID).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, DECON_LEAK_TOKENS)).alias("text"),
    )
    eval_set = (
        docs.filter(F.col("doc_id") < 5).select("doc_id", "text").unionByName(planted)
    )
    return SMP.contamination_pairs(docs.filter(F.col("doc_id") >= 5), eval_set, n=8)


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {SQL_TOKENS} AS toks FROM documents WHERE doc_id < 20
    ), g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
               ELSE []::VARCHAR[] END AS grams
        FROM t
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
                ELSE 0.0 END AS rep_ratio
    FROM g
    """,
    doc="Within-document repetition (Gopher-style quality rule): the "
    "fraction of duplicate word-3-grams inside each document — "
    "boilerplate and degenerate loops score high and get filtered "
    "before training. Pure per-row array math (no shuffle at all "
    "beyond the scan): total grams vs distinct grams per doc.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    t = TX.tokens(F.col("text"))
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(" ", F.slice(t, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = docs.select("doc_id", grams.alias("grams")).select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct"),
        F.when(
            F.size("grams") > 0,
            F.round(
                1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )
    return out


#: incremental dedup split point: docs below are the "historical corpus"
#: (their fingerprints form the store), docs at/above are the new batch
INCR_SPLIT_ID = 250
#: planted re-uploads: these historical docs arrive again in the new
#: batch under fresh ids (+100000) — the corpus has no organic exact dup
#: crossing the split at sf0.01, so without planting, the check would
#: only agree on silence (same pattern as the decontamination leak)
INCR_REUPLOAD_IDS = (3, 7)


@register(
    "dedup_incremental",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, source, text FROM documents
        WHERE doc_id IN {INCR_REUPLOAD_IDS}
    ), fp AS (
        SELECT doc_id, source, md5({SQL_NORMALIZED}) AS fp FROM base
    ), store AS (
        SELECT fp, MIN(doc_id) AS keeper_id FROM fp WHERE doc_id < {INCR_SPLIT_ID}
        GROUP BY fp
    )
    SELECT f.doc_id, f.source, s.keeper_id
    FROM fp f JOIN store s USING (fp)
    WHERE f.doc_id >= {INCR_SPLIT_ID}
    """,
    doc="Incremental dedup — the production shape: a new batch is "
    "checked against the HISTORICAL fingerprint store instead of "
    "re-deduping the whole corpus (docs < 250 stand in as the store; "
    "the rest plus two planted re-uploads of historical docs are the "
    "incoming batch — the corpus has no organic exact dup crossing the "
    "split, so the planting proves the store join FINDS collisions). "
    "One keyed join of new fingerprints against the store; at 100 TB "
    "the store is a bucketed table on the fingerprint so each daily "
    "batch joins co-located without reshuffling history.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    reuploads = docs.filter(F.col("doc_id").isin(*INCR_REUPLOAD_IDS)).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    )
    base = docs.select("doc_id", "source", "text").unionByName(reuploads)
    fp = base.select(
        "doc_id", "source", TX.content_fingerprint(F.col("text")).alias("fp")
    )
    store = (
        fp.filter(F.col("doc_id") < INCR_SPLIT_ID)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    return (
        fp.filter(F.col("doc_id") >= INCR_SPLIT_ID)
        .join(store, "fp")
        .select("doc_id", "source", "keeper_id")
    )


#: PII patterns — Java regex and RE2 agree on this subset (character
#: classes, bounded repetition, \b word boundaries)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
#: docs that get PII planted (the synthetic corpus contains none — an
#: all-zero redaction count would only prove the engines agree on
#: silence, same reasoning as the decontamination leak)
PII_PLANT_IDS = (2, 5)
PII_SUFFIX = " Contact jane.doe@example.com or 555-123-4567 ssn 123-45-6789"


def pii_redact(col) -> "F.Column":
    """The production redaction expression (email → SSN → phone, in
    that order so overlapping digit shapes can't double-fire). Shared
    by the registered query and its unit test so the test exercises
    THIS expression, not a private copy."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL, "[EMAIL]"),
            PII_SSN,
            "[SSN]",
        ),
        PII_PHONE,
        "[PHONE]",
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id IN {PII_PLANT_IDS}
                    THEN text || '{PII_SUFFIX}' ELSE text END AS text
        FROM documents WHERE doc_id < 10
    ), counted AS (
        SELECT doc_id, text,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
               len(regexp_extract_all(text, '{PII_SSN}')) AS n_ssns
        FROM base
    )
    SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
           CAST(n_phones AS INT) AS n_phones, CAST(n_ssns AS INT) AS n_ssns,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_SSN}', '[SSN]', 'g'),
               '{PII_PHONE}', '[PHONE]', 'g')) AS redacted_md5
    FROM counted
    """,
    doc="PII scrubbing — the redaction pass every training corpus runs "
    "before the mix is frozen: count and replace emails, phone "
    "numbers, and SSNs with typed placeholders, entirely in native "
    "regexp expressions (single scan, no shuffle, no Python). SSNs "
    "redact before phones so the overlapping digit shapes can't "
    "double-fire. The corpus has no organic PII, so two docs get a "
    "planted contact line (same planted-evidence reasoning as "
    "decontamination); the oracle hash-checks the REDACTED TEXT "
    "itself, not just the counts.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    text = F.when(
        F.col("doc_id").isin(*PII_PLANT_IDS), F.concat(F.col("text"), F.lit(PII_SUFFIX))
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", text.alias("text"))
    redacted = pii_redact(F.col("text"))
    return base.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count("text", F.lit(PII_SSN)).cast("int").alias("n_ssns"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ), toks AS (
        SELECT doc_id, lower(tok) AS term FROM t
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), doclen AS (
        SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(doclen.n_toks * dfreq.df AS DOUBLE) AS score
        FROM tf
        JOIN doclen USING (doc_id)
        JOIN dfreq USING (term)
        CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term, round(score, 6) AS tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rank FROM scored
    ) WHERE rank <= 3 AND doc_id < 10
    """,
    doc="Per-document top-3 characteristic terms by tf-idf over the "
    "full corpus (document frequencies computed corpus-wide, output "
    "limited to docs 0-9). Inverted-index shape: explode tokens, one "
    "groupBy per statistic, broadcast the corpus total. idf is the "
    "LINEAR N/df variant: the score is then a ratio of exact integers "
    "— one IEEE division, bit-identical in any engine — where log-idf "
    "would inherit libm's last-ulp variance and make the cross-engine "
    "hash gate flaky. Within-doc ranking is what the query reports; "
    "swap in log1p-idf for cross-doc score comparisons at deployment.",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double")
            / (F.col("n_toks") * F.col("df")).cast("double"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 10))
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.round("score", 6).alias("tfidf"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ), toks AS (
        SELECT doc_id, lower(tok) AS term FROM t
    ), vocab AS (
        SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ), tot AS (
        SELECT COUNT(*) AS n FROM toks
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(vocab.cnt) AS BIGINT) AS sum_cnt,
           round(AVG(ln(vocab.cnt::DOUBLE / tot.n)), 6) AS avg_logprob
    FROM toks JOIN vocab USING (term) CROSS JOIN tot
    GROUP BY toks.doc_id
    """,
    doc="Unigram language-model quality score: each document's mean "
    "log-probability under the corpus's own unigram distribution — "
    "the classic cheap 'model-based' quality signal (rare-token-heavy "
    "and boilerplate docs separate immediately). Inverted-index shape: "
    "explode tokens, corpus-count shuffle on the term, rejoin, one "
    "aggregate per doc. sum_cnt is an exact-integer witness column so "
    "the hash gate does not rest on libm alone; avg_logprob is rounded "
    "to 6 decimals, far above the engines' last-ulp log variance. At "
    "100 TB the vocabulary count is the only corpus-wide shuffle; the "
    "head of the distribution can broadcast with a cold-tail fallback "
    "join when the term table outgrows one executor.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    docs = load(spark, sf_dir, "documents")
    toks = scope.persist(
        docs.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
        ).select("doc_id", F.lower("tok").alias("term"))
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = toks.join(vocab, "term").crossJoin(F.broadcast(tot))
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("cnt").alias("sum_cnt"),
        F.round(F.avg(F.log(F.col("cnt").cast("double") / F.col("n"))), 6).alias(
            "avg_logprob"
        ),
    )
    return scope.attach(out)


#: token budget per packed training sequence (toy-sized for the corpus)
PACK_BUDGET = 256


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, len({SQL_TOKENS}) AS n_tok FROM documents
    ), c AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM t
    ), b AS (
        -- FLOOR, not CAST: DuckDB's double->BIGINT cast rounds while
        -- Spark's truncates; floor agrees everywhere for positives
        SELECT source, CAST(FLOOR((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin_id,
               n_tok
        FROM c
    )
    -- CAST: DuckDB SUM(BIGINT) yields HUGEINT; Spark emits long —
    -- the driver's value hash is type-sensitive (same fix as dedup_apply)
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
    FROM b GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
    doc="Sequence packing — the step that turns a cleaned corpus into "
    "fixed-budget training sequences: docs stream in id order per "
    "source, a running token total assigns each doc to bin "
    "floor(tokens_before/budget) (greedy contiguous packing, overflow "
    "allowed at bin boundaries), then per-bin fill stats. The running "
    "sum is the two-phase bucketed prefix sum (operators/skew.py), NOT "
    "a per-source window: a source stratum is unbounded at 100 TB and "
    "Window.partitionBy('source') would funnel it through one task — "
    "the bucketed form spreads phase 1 across doc-id buckets and only "
    "reduces one narrow offset row per bucket per source. The oracle "
    "states the semantics as the plain window; a pytest property test "
    "pins the two formulations equal row for row.",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", TX.token_count(F.col("text")).alias("n_tok"))
    c = SK.bucketed_prefix_sum(
        t, partition_by=["source"], order_col="doc_id", val_col="n_tok",
        out_col="cum", bucket_rows=1024,
    )
    b = c.select(
        "source",
        F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET).cast("long").alias("bin_id"),
        "n_tok",
    )
    return (
        b.groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("bin_tokens"))
        .orderBy("source", "bin_id")
    )


@register(
    "dedup_apply",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source, md5({SQL_NORMALIZED}) AS fp FROM documents
    ), keep AS (
        SELECT fp, MIN(doc_id) AS keeper_id FROM fp GROUP BY fp
    )
    SELECT f.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (f.doc_id = k.keeper_id) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (f.doc_id <> k.keeper_id) AS BIGINT) AS n_removed
    FROM fp f JOIN keep k USING (fp)
    GROUP BY f.source
    """,
    doc="Dedup APPLICATION — not just the report: every doc resolves "
    "against its content-fingerprint group's keeper (min id) and the "
    "cleaned corpus = rows where doc_id = keeper_id. Reported as "
    "per-source kept/removed counts so the result is stable; the "
    "keeper join is the same single fingerprint shuffle as dedup_exact "
    "plus one broadcastable keeper table.",
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", TX.content_fingerprint(F.col("text")).alias("fingerprint")
    )
    # keeper selection comes from the exact-dedup OPERATOR, not a local
    # re-implementation — if the keeper rule ever changes, plan and
    # operator change together
    keep = DD.exact_dedup(docs).select("fingerprint", "keeper_id")
    joined = fp.join(keep, "fingerprint")
    is_keeper = F.col("doc_id") == F.col("keeper_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(is_keeper, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~is_keeper, 1).otherwise(0)).cast("long").alias("n_removed"),
    )


# ----------------------------------------------------------------------
# deduplication
# ----------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    WITH f AS (
        SELECT source, md5({SQL_NORMALIZED}) AS fp FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs
    FROM f GROUP BY source
    """,
    doc="Exact dedup via normalized-content md5 hash-groupBy, reported "
    "per source. One shuffle on the 128-bit fingerprint.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("source", TX.content_fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT i, j, round(common::DOUBLE / (ni + nj - common), 6) AS jaccard
    FROM p WHERE common::DOUBLE / (ni + nj - common) >= 0.5
    """,
    doc="Near-dup pairs at word-3-gram Jaccard ≥ 0.5. Spark side is the "
    "scalable inverted-index plan (explode shingles → self-join on "
    "shingle → count); oracle is the O(n²) definition. Only pairs "
    "sharing a shingle ever materialize.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.jaccard_pairs(load(spark, sf_dir, "documents"), n=3, threshold=0.5)


#: doc-frequency cap for the guarded variant — chosen to BITE on the
#: testdata (99th-pct shingle df is 4 at sf0.01), so the oracle pins the
#: guard's semantics, not a no-op configuration
JACCARD_DF_CAP = 3


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, unnest({sql_shingles(3)}) AS sh FROM t),
    keep AS (
        SELECT sh FROM (SELECT sh, COUNT(*) AS c FROM s GROUP BY sh)
        WHERE c <= {JACCARD_DF_CAP}
    ),
    ps AS (SELECT s.doc_id, s.sh FROM s JOIN keep USING (sh)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM ps GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS common
        FROM ps a JOIN ps b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i, j,
           round(common::DOUBLE / (zi.n + zj.n - common), 6) AS jaccard
    FROM shared
    JOIN sz zi ON zi.doc_id = i
    JOIN sz zj ON zj.doc_id = j
    WHERE common::DOUBLE / (zi.n + zj.n - common) >= 0.5
    """,
    doc="The hot-shingle guard under the oracle gate: Jaccard over "
    "posting lists with document frequency capped at "
    f"{JACCARD_DF_CAP} — the standard defense against boilerplate "
    "shingles whose posting lists would otherwise explode the "
    "inverted-index self-join quadratically at corpus scale. The cap "
    "deliberately BITES at the parity-test SF (28 → 24 pairs at "
    "sf0.001; 99th-pct shingle df ≈ 4), and the oracle applies the "
    "identical cap to the brute-force definition, "
    "so the guard's exact semantics (sizes and similarities computed "
    "over the CAPPED sets) are cross-engine-pinned rather than just "
    "documented. Plan: one extra df aggregate + semi-join on the "
    "shingle hash before the pair join — both ride the existing "
    "shingle partitioning.",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.jaccard_pairs(
        load(spark, sf_dir, "documents"),
        n=3,
        threshold=0.5,
        max_doc_freq=JACCARD_DF_CAP,
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT i, j, round(common::DOUBLE / (ni + nj - common), 6) AS jaccard
    FROM p WHERE common::DOUBLE / (ni + nj - common) >= 0.8
    """,
    doc="MinHash(128)+LSH(32×4) candidates verified by exact Jaccard "
    "≥ 0.8 — the linear-scale near-dup path (miss probability ≤ 5e-8 "
    "per qualifying pair; verification removes all false positives). "
    "Oracle is brute force: the check asserts LSH loses nothing.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_near_dups(load(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "dedup_components",
    oracle=sql_closure(_SQL_JACCARD_EDGES, "doc_id", "component_id"),
    doc="Duplicate-CLUSTER formation: similarity is not transitive, so "
    "near-dup pairs (word-3-gram Jaccard ≥ 0.5) are closed into "
    "connected components by distributed min-label propagation "
    "(operators/components.py) — component id = smallest doc id, the "
    "deterministic keeper. Each iteration is one (node,label)-narrow "
    "join + min-aggregate; dup clusters are near-cliques so 2-3 "
    "iterations converge. The oracle recomputes the closure via a "
    "recursive CTE, pinning the transitive grouping itself.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    docs = load(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, n=3, threshold=0.5, scope=scope)
    return scope.attach(
        CC.connected_components(pairs, src="i", dst="j", scope=scope)
    )


#: DuckDB oracle for :func:`dedup_components_chain` — chains make the
#: closure CLOSED-FORM (component = chain head = min doc_id of the
#: (lang, 24-rank-block) group), no recursion needed. Exercised by
#: ``tests/test_llm_ops.py::test_dedup_components_chain_oracle_parity``
#: instead of the registry: the star loop's ~5 rounds cost a fixed
#: ~2 s/round of local-mode scheduling, which would make this the
#: slowest bench entry while demonstrating nothing about shuffle volume
#: — the round-count bound itself is asserted directly in pytest.
CHAIN_COMPONENTS_ORACLE = """
    WITH ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS r,
               lang
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, lang, CAST(FLOOR((r - 1) / 24) AS BIGINT) AS blk
        FROM ranked
    ),
    chains AS (
        SELECT lang, blk, COUNT(*) AS n, MIN(doc_id) AS head
        FROM blocks GROUP BY lang, blk
    )
    SELECT b.doc_id AS doc_id, c.head AS component_id
    FROM blocks b JOIN chains c ON b.lang = c.lang AND b.blk = c.blk
    WHERE c.n >= 2
"""


def dedup_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on an ADVERSARIAL-DIAMETER graph via the
    pure small-star/large-star path (Kiveris et al. SoCC'14,
    operators/components.py): documents are chained into 24-long paths
    (consecutive doc_ids per language, capped per 24-rank block), so
    min-label propagation would need ~23 full-shuffle rounds where the
    alternating algorithm stars each chain in ~log2(24)≈5. Single-member
    blocks have no edge and are correctly absent. Pytest-gated (hash
    parity vs ``CHAIN_COMPONENTS_ORACLE`` + round-count assert)."""
    return _components_chain(spark, sf_dir, stats=None)


def _components_chain(
    spark: SparkSession, sf_dir: str, stats: dict | None = None
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy("doc_id")
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("r")
    )
    edges = (
        ranked.select(
            F.col("doc_id").alias("i"),
            F.lead("doc_id").over(w).alias("j"),
            "r",
        )
        # edge r→r+1 only within a 24-rank block: r % 24 == 0 is a
        # block boundary, NULL lead is a partition end
        .where(F.col("j").isNotNull() & (F.col("r") % 24 != 0))
        .select("i", "j")
    )
    return CC.connected_components(
        edges, src="i", dst="j", fast_rounds=0, stats=stats
    )


#: brute-force hamming ≤ 3 over the 32-bit fingerprint — shared by the
#: N-aware registered query and the fixed-band referee: the multi-block
#: pigeonhole banding is LOSSLESS (see operators/text_dedup.
#: simhash_subset_masks), so both plans define the same answer and the
#: oracle needs no banding parameter at all.
_SQL_SIMHASH_PAIRS = f"""
    WITH sh AS MATERIALIZED ({SQL_SIMHASH_TABLE})
    SELECT a.doc_id AS i, b.doc_id AS j,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """

#: the same brute-force definition over the 64-bit two-digest
#: fingerprint
_SQL_SIMHASH64_PAIRS = f"""
    WITH sh AS MATERIALIZED ({SQL_SIMHASH64_TABLE})
    SELECT a.doc_id AS i, b.doc_id AS j,
           CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
    """


def _simhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    scope: CacheScope,
    n_blocks: int | None = None,
    bits: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The hamming ≤ 3 pairs every SimHash query registers, from the
    ``bits``-wide fingerprint keyed on :func:`simhash_subset_masks` of
    ``n_blocks`` blocks — ``None`` sizes the block count from the
    corpus (one cheap count job first). The query wrapper owns
    ``scope`` because its result derives from the kernel's (the
    _embed_dedup precedent; optimization round 11): an attach on the
    kernel's inner frame dies with that frame once a ``.select`` wraps
    it, silently unpersisting the banded table — both self-join sides
    then recompute the per-token md5 fingerprint aggregation."""
    docs = load(spark, sf_dir, "documents")
    if n_blocks is None:
        n_blocks = DD.simhash_blocks_for(docs.count())
    hashes = DD.simhash64_table(docs) if bits == 64 else DD.simhash_table(docs)
    masks = DD.simhash_subset_masks(n_blocks, bits=bits)
    return (
        DD.simhash_candidates(hashes, masks, max_bucket_size, scope)
        .filter(F.col("hamming") <= 3)
        .select("i", "j", F.col("hamming").cast("int").alias("hamming"))
    )


def _simhash_groups(pairs: DataFrame, scope: CacheScope) -> DataFrame:
    """Close a pair set into (doc_id, group_id = smallest member)."""
    pairs = scope.persist(pairs.select("i", "j"))
    return scope.attach(
        CC.connected_components(pairs, src="i", dst="j", scope=scope).select(
            "doc_id", F.col("component_id").alias("group_id")
        )
    )


@register(
    "dedup_simhash_auto",
    oracle=_SQL_SIMHASH_PAIRS,
    doc="SimHash near-dup pairs at hamming ≤ 3 over the 32-bit "
    "fingerprint — N-AWARE candidate generation (VERDICT r10 #1): the "
    "corpus count picks the pigeonhole block count B (smallest B in "
    "[4, 8] with C(B,3)·N ≤ 16·2^min_subset_width), and each of C(B,3) "
    "bands keys on the fingerprint masked to one (B−3)-block subset. "
    "Every hamming ≤ 3 pair agrees on some clean subset, so the "
    "banding is lossless and the output equals the brute-force O(n²) "
    "definition at every N — the oracle IS that definition, unchanged. "
    "Random candidate mass stays ≤ 16·N by construction vs the fixed "
    "4×8-bit family's measured Θ(N²/256) (~1.5 pair exponent, 10.0× "
    "wall on 10× data at sf1); tests/test_scaling_slopes.py gates the "
    "candidate exponent.",
)
def dedup_simhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return scope.attach(_simhash_pairs(spark, sf_dir, scope))


@register(
    "dedup_simhash_groups",
    oracle=sql_closure(
        f"SELECT i, j FROM ({_SQL_SIMHASH_PAIRS})", "doc_id", "group_id"
    ),
    doc="SimHash near-dup GROUPS — the linear-output form a large-scale "
    "pipeline consumes: hamming ≤ 3 pairs from the N-aware multi-block "
    "banding (dedup_simhash_auto's candidate stage) closed into "
    "connected components, returning (doc_id, group_id = smallest "
    "member) for every document in any group — ≤ N rows REGARDLESS of "
    "cluster structure. On templated corpora the pair SET itself is "
    "Θ(cluster²) (a data property — SCALING_r11 measures the answer "
    "exponent at 2.0), so downstream keeper selection / dedup filters "
    "should join this group map, never the edge list; the quadratic "
    "mass stays internal to the banded join and is never handed to a "
    "consumer. Oracle recomputes the closure over the brute-force "
    "hamming graph via a recursive CTE.",
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return _simhash_groups(_simhash_pairs(spark, sf_dir, scope), scope)


@register(
    "dedup_simhash",
    # fixed-band referee: the 4×8-bit banding has 256 buckets/band —
    # Θ(N²/256) random collisions, measured ~1.5 pair exponent. Kept as
    # the equivalence referee for dedup_simhash_auto (identical output
    # by the lossless-banding argument).
    oracle=_SQL_SIMHASH_PAIRS,
    doc="SimHash near-dup pairs at hamming ≤ 3 over the 32-bit "
    "fingerprint, FIXED 4×8-bit pigeonhole banding — the referee twin "
    "of dedup_simhash_auto (same oracle, same answer; quadratic "
    "candidate mass, so not the scale path).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return scope.attach(_simhash_pairs(spark, sf_dir, scope, n_blocks=4))


@register(
    "dedup_simhash64",
    oracle=_SQL_SIMHASH64_PAIRS,
    doc="64-bit SimHash near-dup pairs at hamming ≤ 3: 16-bit pigeonhole "
    "bands (65 536 buckets/band vs the 32-bit variant's 256) keep the "
    "candidate join fine-grained at billion-document scale. Oracle is "
    "the O(n²) definition over the same two-digest construction.",
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return scope.attach(_simhash_pairs(spark, sf_dir, scope, n_blocks=4, bits=64))


@register(
    "dedup_simhash64_groups",
    oracle=sql_closure(
        f"SELECT i, j FROM ({_SQL_SIMHASH64_PAIRS})", "doc_id", "group_id"
    ),
    doc="64-bit SimHash near-dup GROUPS — the production pairing at "
    "corpus scale: the wide fingerprint's 16-bit pigeonhole bands keep "
    "candidate generation fine-grained at billion-document corpora "
    "(65 536 buckets/band), and the group-map interface keeps the "
    "OUTPUT linear (≤ N rows) no matter how large the duplicate "
    "clusters grow — downstream keeper selection joins this, never the "
    "Θ(cluster²) edge list. Connected components close the hamming ≤ 3 "
    "graph by min-label propagation; the oracle recomputes the closure "
    "over the brute-force 64-bit hamming graph.",
)
def dedup_simhash64_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return _simhash_groups(
        _simhash_pairs(spark, sf_dir, scope, n_blocks=4, bits=64), scope
    )


#: hot-bucket guard for the capped simhash query — deliberately BITES
#: at every oracle SF (uncapped→capped pairs: 20→17 at sf0.001, 14→13
#: at sf0.01, 227→90 at sf0.1), so the cap's exact semantics — which
#: band buckets drop, which pairs survive via a COLD band — are
#: cross-engine-pinned, not just documented (the JACCARD_DF_CAP
#: precedent applied to pigeonhole banding)
SIMHASH64_BUCKET_CAP = 3

#: the capped pigeonhole banding brute-force: band buckets holding more
#: than the cap drop out of candidate generation, and a pair survives
#: through any cold band it agrees on
_SQL_SIMHASH64_CAPPED_PAIRS = f"""
    WITH sh AS MATERIALIZED ({SQL_SIMHASH64_TABLE}),
    banded AS MATERIALIZED (
        SELECT doc_id, simhash64, b.band,
               (simhash64 >> (b.band * 16)) & 65535 AS bucket
        FROM sh, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    ok AS (
        SELECT band, bucket FROM banded
        GROUP BY band, bucket HAVING count(*) <= {SIMHASH64_BUCKET_CAP}
    ),
    kept AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket)),
    cand AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
               a.simhash64 AS hi, b.simhash64 AS hj
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT i, j, CAST(bit_count(xor(hi, hj)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(hi, hj)) <= 3
    """


@register(
    "dedup_simhash64_capped",
    oracle=_SQL_SIMHASH64_CAPPED_PAIRS,
    doc="The round-8 hot-bucket guard under the oracle gate: 64-bit "
    "SimHash pigeonhole banding with band buckets larger than "
    f"{SIMHASH64_BUCKET_CAP} fingerprints dropped from candidate "
    "generation (a boilerplate cluster of k identical fingerprints "
    "emits k(k-1)/2 pairs per band — the quadratic hot spot at corpus "
    "scale; see the measured SimHash tail slope in PERF_NOTES §r8). "
    "The oracle reproduces the banding, the cap, AND the survive-via-"
    "a-cold-band semantics brute-force, so the guard is hash-pinned. "
    "Spark keys each band on the fingerprint masked in place (x & "
    "(0xFFFF << s), a signed long) where DuckDB extracts (x >> s) & "
    "0xFFFF; within a band the two keys are in bijection, so bucket "
    "sizes and collisions agree bit-for-bit.",
)
def dedup_simhash64_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return scope.attach(
        _simhash_pairs(spark, sf_dir, scope, 4, 64, SIMHASH64_BUCKET_CAP)
    )


@register(
    "dedup_simhash64_groups_capped",
    oracle=sql_closure(
        f"SELECT i, j FROM ({_SQL_SIMHASH64_CAPPED_PAIRS})", "doc_id", "group_id"
    ),
    doc="The skew-guarded group map (optimization round 12, VERDICT r11 "
    "'What's wrong' #5): dedup_simhash64_groups' pair mass is "
    "Θ(cluster²) INTERNALLY on template-heavy corpora — correct but "
    "expensive when one boilerplate cluster dominates. This twin "
    "closes the HOT-BUCKET-CAPPED pair set (band buckets larger than "
    f"{SIMHASH64_BUCKET_CAP} fingerprints dropped from candidate "
    "generation, the dedup_simhash64_capped semantics) into connected "
    "components, so candidate mass is bounded by bands·N·cap — linear "
    "by construction (the capped pair slope is gated in "
    "tests/test_scaling_slopes.py) — and the group map stays ≤ N rows "
    "with a bounded-work interior. Dropping edges can only SPLIT "
    "groups (each capped group is contained in exactly one uncapped "
    "group — pinned in pytest), which is the documented trade: a "
    "giant template cluster may surface as several groups whose "
    "representatives survive dedup, in exchange for a candidate join "
    "no single hot fingerprint can blow up. Oracle reproduces the "
    "banding, the cap, and the closure brute-force.",
)
def dedup_simhash64_groups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    return _simhash_groups(
        _simhash_pairs(spark, sf_dir, scope, 4, 64, SIMHASH64_BUCKET_CAP), scope
    )


# ----------------------------------------------------------------------
# similarity search
# ----------------------------------------------------------------------

KNN_QUERY_IDS = [0, 1, 2, 3, 4]

_SQL_KNN_SCORED = f"""
    q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
    ),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id, v.label,
               {sql_cosine('q.qv', 'v.embedding')} AS score
        FROM q JOIN embeddings v ON v.vec_id <> q.query_id
    )
"""


@register(
    "embed_knn_bruteforce",
    oracle=f"""
    WITH {_SQL_KNN_SCORED}
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(score, 6) AS cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Exact top-5 cosine neighbors per query vector, brute force. "
    "Query side broadcast; dot products are left-to-right double folds "
    "so scores are bit-identical across engines. The reduction is a "
    "per-query partial top-k, not a global sort.",
)
def embed_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.knn_bruteforce(load(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, k=5)


def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over the PERSISTED trained IVF index
    (operators/ann_index.py): the deterministic k-means quantizer
    (8 lists, 3 Lloyd iterations) trains ONCE per corpus and persists
    centroids + cluster-partitioned assignments as tables; this is the
    search path — route each query to its nprobe=3 nearest inverted
    lists, scan only those assignment partitions (file-level pruning),
    exact top-5 inside. Build-if-stale is keyed on the source parquet
    stamp + params; training determinism (integer-scaled centroid
    updates) makes the index a pure function of the data.

    Retired from the registry in round 7 (VERDICT r6 #3): the trained
    quantizer is iterative (Lloyd) — not SQL-expressible, so its driver
    check could only ever be rows-only, and the frozen-codebook twin
    embed_ann_ivf_frozen hash-checks the same search shape end to end.
    Pytest gates stay: recall@10 ≥ 0.9 vs brute force (measured
    0.94-0.96), a frozen-golden neighbor table at sf0.01, and the
    build/search split tests."""
    idx = ANN.ensure_ivf_index(
        load(spark, sf_dir, "embeddings"),
        f"{sf_dir}/embeddings.parquet",
        n_clusters=8,
        iters=3,
    )
    return ANN.search_ivf_index(spark, idx, KNN_QUERY_IDS, k=5, nprobe=3)


def embed_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over int8-quantized PERSISTED inverted lists (the
    faiss IVF-SQ8 layout): pass 1 scores the FLOAT query against the
    byte payload only — parquet column pruning means the probed
    partitions are read at 1 B/lane, a 4× scan reduction that is the
    entire point at 100 TB — and keeps a 4k-deep shortlist; pass 2
    rescores the shortlist against the float embeddings for an exact
    final top-k in brute-force tie order (operators/ann_index.py).

    Retired from the registry in round 7 alongside embed_ann_ivf (same
    rationale; embed_ann_ivf_sq8_frozen hash-checks the quantized
    search shape). Pytest gates stay: recall@5 vs brute force and
    exact agreement of the rescored scores."""
    idx = ANN.ensure_ivf_sq8_index(
        load(spark, sf_dir, "embeddings"),
        f"{sf_dir}/embeddings.parquet",
        n_clusters=8,
        iters=3,
    )
    return ANN.search_ivf_sq8_index(spark, idx, KNN_QUERY_IDS, k=5, nprobe=3)


@register(
    "embed_ann_ivf_medoid",
    oracle=f"""
    WITH reps AS (
        SELECT e.label AS part, e.embedding AS rep_vec
        FROM embeddings e
        JOIN (SELECT label, MIN(vec_id) AS mid FROM embeddings GROUP BY label) r
          ON e.vec_id = r.mid
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
    ),
    routed AS (
        SELECT query_id, qv, part,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY {sql_cosine('qv', 'rep_vec')} DESC, part
               ) AS rn
        FROM q CROSS JOIN reps
    ),
    probe AS (SELECT query_id, qv, part FROM routed WHERE rn = 1),
    scored AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               {sql_cosine('p.qv', 'v.embedding')} AS score
        FROM probe p JOIN embeddings v
          ON v.label = p.part AND v.vec_id <> p.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(score, 6) AS cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="IVF-style ANN with an UNTRAINED quantizer: route each query "
    "to the partition of its nearest deterministic representative "
    "(min-id medoid per label, nprobe=1), brute-force only inside — a "
    "1/nlist scan instead of a full scan. Kept beside the k-means path "
    "because its routing is closed-form, so the full search (routing + "
    "probe + top-k) is SQL-expressible and hash-checked against the "
    "DuckDB oracle — it pins the IVF search *shape* end to end while "
    "embed_ann_ivf carries the trained quantizer.",
)
def embed_ann_ivf_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.knn_ivf(load(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, k=5)


# ----------------------------------------------------------------------
# frozen-codebook IVF: the TRAINED quantizer's search path, hash-checked
# ----------------------------------------------------------------------

FROZEN_NPROBE = 3


def _sql_cb_lit(cent: "list[float]") -> str:
    return "[" + ", ".join(f"{v:.17e}" for v in cent) + "]"


def _sql_cb_score(vec: str, cent: "list[float]") -> str:
    lit = _sql_cb_lit(cent)
    return f"({sql_dot(vec, lit)} / sqrt({sql_dot(lit, lit)}))"


def _sql_cb_assign_case(nc: int) -> str:
    whens = []
    for c in range(nc - 1):
        cond = " AND ".join(f"s{c} >= s{j}" for j in range(c + 1, nc))
        whens.append(f"WHEN {cond} THEN {c}")
    return "CASE " + " ".join(whens) + f" ELSE {nc - 1} END"


def _frozen_ivf_body(k: int) -> str:
    """CTE chain for the frozen-codebook IVF search, ending in
    ``ann_topk(query_id, rank, neighbor_id, score)`` — shared by the
    search oracle (k=5) and the recall oracle (k=10)."""
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01 as CB,
    )

    nc = len(CB)
    s_exprs = ",\n               ".join(
        f"{_sql_cb_score('embedding', CB[i])} AS s{i}" for i in range(nc)
    )
    rs_case = "CASE c.cluster " + " ".join(
        f"WHEN {i} THEN s{i}" for i in range(nc)
    ) + " END"
    vals = ", ".join(f"({i})" for i in range(nc))
    ids = ", ".join(str(i) for i in KNN_QUERY_IDS)
    return f"""s AS (
        SELECT vec_id, embedding,
               {s_exprs}
        FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, embedding, {_sql_cb_assign_case(nc)} AS cluster FROM s
    ),
    routed AS (
        SELECT query_id, qv, cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY rs DESC, cluster
               ) AS rn
        FROM (
            SELECT vec_id AS query_id, embedding AS qv, c.cluster,
                   {rs_case} AS rs
            FROM s CROSS JOIN (VALUES {vals}) AS c(cluster)
            WHERE vec_id IN ({ids})
        )
    ),
    probe AS (SELECT query_id, qv, cluster FROM routed WHERE rn <= {FROZEN_NPROBE}),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {sql_cosine('p.qv', 'a.embedding')} AS score
        FROM probe p JOIN assigned a
          ON a.cluster = p.cluster AND a.vec_id <> p.query_id
    ),
    ann_topk AS (
        SELECT query_id, rank, neighbor_id, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rank FROM scored
        ) WHERE rank <= {k}
    )"""


def _frozen_ivf_oracle() -> str:
    return f"""
    WITH {_frozen_ivf_body(5)}
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
           round(score, 6) AS cosine
    FROM ann_topk
    """


def _frozen_recall_oracle(k: int = 10) -> str:
    ids = ", ".join(str(i) for i in KNN_QUERY_IDS)
    return f"""
    WITH {_frozen_ivf_body(k)},
    bq AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id IN ({ids})
    ),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               {sql_cosine('bq.qv', 'v.embedding')} AS score
        FROM bq JOIN embeddings v ON v.vec_id <> bq.query_id
    ),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS r FROM bscored
        ) WHERE r <= {k}
    ),
    hits AS (
        SELECT a.query_id, COUNT(*) AS n_hits
        FROM ann_topk a
        JOIN brute b
          ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        GROUP BY a.query_id
    ),
    perq AS (
        SELECT q2.query_id, COALESCE(h.n_hits, 0) AS n_hits
        FROM (SELECT DISTINCT query_id FROM brute) q2
        LEFT JOIN hits h ON h.query_id = q2.query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({k} AS INT) AS k,
           CAST({FROZEN_NPROBE} AS INT) AS nprobe,
           round(AVG(n_hits::DOUBLE / {k}), 6) AS avg_recall
    FROM perq
    """


@register(
    "embed_ann_ivf_frozen",
    oracle=_frozen_ivf_oracle(),
    doc="IVF search with the TRAINED coarse quantizer as a frozen "
    "codebook (operators/codebook.py: the exact kmeans_centroids "
    "output over the sf0.01 embeddings, k=8/iters=3 — the same "
    "quantizer embed_ann_ivf's persisted index trains, shipped as "
    "source literals the way production systems ship a "
    "sample-trained codebook). With literal centroids the WHOLE "
    "search is closed-form: assignment (argmax of dot/||c||, ties → "
    "lowest cluster, ||v|| dropped as a row-constant factor in both "
    "engines), top-nprobe routing, cluster-probed exact cosine "
    "top-5 — all Column expressions with identical left-fold SQL "
    "twins, so unlike the numpy-assigned index path this query is "
    "hash-checked end to end at every SF. "
    "test_frozen_codebook_matches_training pins the literals to the "
    "live trainer; recall floors in tests/test_llm_ops.py cover "
    "native (sf0.01) and transfer (sf0.001) corpora.",
)
def embed_ann_ivf_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01,
    )

    return SIM.knn_ivf_frozen(
        load(spark, sf_dir, "embeddings"),
        FROZEN_IVF_SF0_01,
        KNN_QUERY_IDS,
        k=5,
        nprobe=FROZEN_NPROBE,
    )


def _frozen_sq8_oracle(shortlist_k: int = 20) -> str:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01 as CB,
    )

    nc = len(CB)
    s_exprs = ",\n               ".join(
        f"{_sql_cb_score('embedding', CB[i])} AS s{i}" for i in range(nc)
    )
    rs_case = "CASE c.cluster " + " ".join(
        f"WHEN {i} THEN s{i}" for i in range(nc)
    ) + " END"
    vals = ", ".join(f"({i})" for i in range(nc))
    ids = ", ".join(str(i) for i in KNN_QUERY_IDS)
    # per-element forms mirroring ann_index.with_sq8_columns exactly:
    # scale_d from the double-cast embedding, round-half-up bytes,
    # dequantized qnorm from scale_d, stored scale = float(scale_d)
    abs_max = (
        "list_max(list_transform(range(len(embedding)), "
        "i -> abs(embedding[i+1]::DOUBLE)))"
    )
    qv = (
        "CASE WHEN scale_d > 0 THEN list_transform(range(len(embedding)), "
        "i -> CAST(floor(embedding[i+1]::DOUBLE / scale_d + 0.5) AS BIGINT)) "
        "ELSE list_transform(range(len(embedding)), i -> CAST(0 AS BIGINT)) END"
    )
    qsq = (
        "list_reduce(list_transform(range(len(qv)), "
        "i -> qv[i+1]::DOUBLE * qv[i+1]::DOUBLE), (a, x) -> a + x)"
    )
    qdot = (
        "list_reduce(list_transform(range(len(p.qv_f)), "
        "i -> p.qv_f[i+1]::DOUBLE * a.qv[i+1]::DOUBLE), (a2, x) -> a2 + x)"
    )
    qlen = (
        "sqrt(list_reduce(list_transform(range(len(p.qv_f)), "
        "i -> p.qv_f[i+1]::DOUBLE * p.qv_f[i+1]::DOUBLE), (a2, x) -> a2 + x))"
    )
    return f"""
    WITH s AS (
        SELECT vec_id, embedding,
               {s_exprs}
        FROM embeddings
    ),
    a0 AS (
        SELECT vec_id, embedding, {_sql_cb_assign_case(nc)} AS cluster,
               {abs_max} / 127.0 AS scale_d
        FROM s
    ),
    a1 AS (
        SELECT vec_id, embedding, cluster, scale_d, {qv} AS qv FROM a0
    ),
    assigned AS (
        SELECT vec_id, embedding, cluster,
               CAST(CAST(scale_d AS FLOAT) AS DOUBLE) AS scale,
               scale_d * sqrt({qsq}) AS qnorm, qv
        FROM a1
    ),
    routed AS (
        SELECT query_id, qv_f, cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY rs DESC, cluster
               ) AS rn
        FROM (
            SELECT vec_id AS query_id, embedding AS qv_f, c.cluster,
                   {rs_case} AS rs
            FROM s CROSS JOIN (VALUES {vals}) AS c(cluster)
            WHERE vec_id IN ({ids})
        )
    ),
    probe AS (SELECT query_id, qv_f, cluster FROM routed WHERE rn <= {FROZEN_NPROBE}),
    approx AS (
        SELECT p.query_id, p.qv_f, a.vec_id AS neighbor_id,
               a.scale * ({qdot}) / (({qlen}) * a.qnorm) AS approx_score
        FROM probe p JOIN assigned a
          ON a.cluster = p.cluster AND a.vec_id <> p.query_id
    ),
    short AS (
        SELECT query_id, qv_f, neighbor_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY approx_score DESC, neighbor_id
            ) AS srn FROM approx
        ) WHERE srn <= {shortlist_k}
    ),
    scored AS (
        SELECT sh.query_id, sh.neighbor_id,
               {sql_cosine('sh.qv_f', 'v.embedding')} AS score
        FROM short sh JOIN embeddings v ON v.vec_id = sh.neighbor_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(score, 6) AS cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """


@register(
    "embed_ann_ivf_sq8_frozen",
    oracle=_frozen_sq8_oracle(shortlist_k=20),
    doc="IVF-SQ8 two-pass search with the frozen trained codebook: "
    "pass 1 scores the float query against ROUND-HALF-UP int8 "
    "quantized list vectors (scale = max|v|/127 per vector, "
    "dequantized qnorm precomputed, the stored scale passes through "
    "float32 exactly as the persisted index stores it) keeping a "
    "shortlist of 4k; pass 2 exact-rescores the shortlist for the "
    "final top-5 in brute-force tie order. Every step — assignment, "
    "routing, quantization, asymmetric score, rescore — is a Column "
    "expression with an identical left-fold SQL twin, so the ENTIRE "
    "faiss-style quantized search shape is hash-checked cross-engine "
    "at every SF (the persisted-index twin embed_ann_ivf_sq8 keeps "
    "the build/search split and its pytest recall gate).",
)
def embed_ann_ivf_sq8_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01,
    )

    return SIM.knn_ivf_sq8_frozen(
        load(spark, sf_dir, "embeddings"),
        FROZEN_IVF_SF0_01,
        KNN_QUERY_IDS,
        k=5,
        nprobe=FROZEN_NPROBE,
        shortlist=4,
    )


@register(
    "embed_ann_recall_frozen",
    oracle=_frozen_recall_oracle(k=10),
    doc="Honesty metric for the frozen-codebook IVF path, fully "
    "hash-checked: recall@10 of the closed-form frozen search "
    "(operators/codebook.py literals, nprobe=3) against exact brute "
    "force, averaged over the probe queries. Both sides of the metric "
    "— the ANN top-10 and the brute-force top-10 — are "
    "SQL-expressible, so unlike the retired in-session-trained "
    "embed_ann_recall this recall NUMBER itself is cross-engine "
    "verified (VERDICT r6 #3): the oracle recomputes assignment, "
    "routing, probe, top-k, and the hit-count average in DuckDB and "
    "the value hashes must match. The trained persisted-index paths "
    "(embed_ann_ivf/_sq8/_recall) remain as pytest-gated plan "
    "builders: golden neighbor tables + recall ≥ 0.9 floors.",
)
def embed_ann_recall_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01,
    )

    # wrapper owns the scope because the recall comparison derives
    # from the ANN result (the _embed_dedup precedent): an attach on
    # the inner frame would die with it and unpersist the scored base
    # before this plan drains
    scope = CacheScope()
    vectors = load(spark, sf_dir, "embeddings")
    ann = SIM.knn_ivf_frozen(
        vectors, FROZEN_IVF_SF0_01, KNN_QUERY_IDS, k=10, nprobe=FROZEN_NPROBE,
        scope=scope,
    )
    return scope.attach(
        SIM.recall_vs_bruteforce(
            vectors, ann, KNN_QUERY_IDS, k=10, nprobe=FROZEN_NPROBE
        )
    )


def embed_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PERSISTED trained-IVF search (8 lists, 3 Lloyd
    iterations, nprobe=3) vs exact brute force. Pytest-gated (recall
    floor ≥ 0.9, measured ≥ 0.94 at sf0.001/0.01/0.1); retired from the
    registry in round 7 — the iterative quantizer has no SQL oracle,
    and embed_ann_recall_frozen hash-checks the same recall shape
    end to end."""
    vectors = load(spark, sf_dir, "embeddings")
    idx = ANN.ensure_ivf_index(
        vectors, f"{sf_dir}/embeddings.parquet", n_clusters=8, iters=3
    )
    ann = ANN.search_ivf_index(spark, idx, KNN_QUERY_IDS, k=10, nprobe=3)
    return SIM.recall_vs_bruteforce(vectors, ann, KNN_QUERY_IDS, k=10, nprobe=3)


#: cosine threshold for embedding near-dup pairs — sits in the upper
#: tail of the synthetic corpus (no pair within 1e-9 of it at any SF,
#: so the >= comparison is engine-independent despite FP reduction
#: order differing between numpy GEMM and DuckDB's left-fold)
EMBED_DUP_THRESHOLD = 0.42

_SQL_EMBED_COS = sql_cosine("i.embedding", "j.embedding")

_SQL_EMBED_DEDUP = f"""
    WITH scored AS (
        SELECT j.vec_id AS dup_id, i.vec_id AS kept_id,
               {_SQL_EMBED_COS} AS cosine
        FROM embeddings i JOIN embeddings j ON i.vec_id < j.vec_id
        WHERE {_SQL_EMBED_COS} >= {EMBED_DUP_THRESHOLD}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY dup_id ORDER BY kept_id
        ) AS rn FROM scored
    )
    SELECT dup_id, kept_id, round(cosine, 6) AS cosine
    FROM ranked WHERE rn = 1
    """


def _embed_dedup(spark: SparkSession, sf_dir: str, block_rows: int) -> DataFrame:
    # wrapper owns the scope because it derives from the operator's
    # result: the tile cache must live until THIS plan drains
    scope = CacheScope()
    pairs = SIM.near_dup_pairs_exact(
        load(spark, sf_dir, "embeddings"), EMBED_DUP_THRESHOLD,
        block_rows=block_rows, scope=scope,
    )
    w = W.partitionBy("dup_id").orderBy(F.asc("kept_id"))
    return scope.attach(
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("dup_id", "kept_id", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "dedup_embed_cosine",
    oracle=_SQL_EMBED_DEDUP,
    doc="Embedding-cosine near-dup dedup, keep-first-by-id: every "
    "vector whose cosine to some lower-id vector clears the threshold "
    "is a dup of the smallest such keeper. Exact all-pairs via the "
    "distributed block-grid GEMM (operators/similarity."
    "near_dup_pairs_exact): rows bucket into id-hashed tiles, the "
    "upper-triangle tile grid joins, and a numpy GEMM scores one cell "
    "per task — zero driver-side collection, per-task memory bounded "
    "by two tiles at any N.",
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embed_dedup(spark, sf_dir, block_rows=512)


@register(
    "dedup_embed_cosine_tiled",
    oracle=_SQL_EMBED_DEDUP,
    doc="Stress variant of dedup_embed_cosine: block_rows=96 forces a "
    "≥6-block grid (≥21 GEMM cells) even at sf0.01, proving the "
    "multi-tile path — diagonal-cell triangle masks, off-diagonal "
    "min/max id orientation, cell-level disjointness — returns "
    "bit-identical pairs to the brute-force oracle.",
)
def dedup_embed_cosine_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embed_dedup(spark, sf_dir, block_rows=96)


#: deterministic input cap for the QUADRATIC REFEREE queries (VERDICT
#: r10 #4): the fixed-band/exact-GEMM referees exist to pin the scale
#: families' semantics, not to be re-measured at every corpus size —
#: uncapped, the two worst burned 227 s (43 %) of the sf1 full-suite
#: sweep and would make an sf3 sweep impractical. Each referee now runs
#: on the ``REFEREE_CAP_N`` LOWEST vec_ids — a deterministic, engine-
#: independent sample derived identically in the Spark plan
#: (``referee_capped``) and the DuckDB oracle (ORDER BY vec_id LIMIT) —
#: so referee cost is O(1) in sf while oracle hashes keep matching at
#: every sf. 5 000 = the full sf0.1 table: no driver-SF result changes,
#: the cap bites only at sf ≥ 1 (cross-engine bite semantics are pinned
#: by tests/test_llm_ops.py::test_referee_cap_bites_identically).
REFEREE_CAP_N = 5000


def referee_capped(emb: DataFrame, cap: int = REFEREE_CAP_N) -> DataFrame:
    """The ``cap`` lowest-``vec_id`` rows — TakeOrderedAndProject keeps
    the id selection distributed; the broadcast semi-join keeps the
    embedding scan pruned (ids only cross the wire twice)."""
    ids = emb.select("vec_id").orderBy("vec_id").limit(cap)
    return emb.join(F.broadcast(ids), "vec_id", "left_semi")


def _sql_referee_src(cap: int) -> str:
    return f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {cap})"


#: random-hyperplane LSH family for the compute-bounded embed-dedup
#: path — the ±1 plane matrix is a deterministic public constant
#: (md5-parity), so both engines are generated from the same literals
RHP_N_PLANES, RHP_BANDS, RHP_DIM = 16, 4, 64
RHP_PLANES = SIM.rhp_sign_planes(RHP_N_PLANES, RHP_DIM)
_RHP_ROWS = RHP_N_PLANES // RHP_BANDS


def sql_plane(plane: "list[float]") -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"


def sql_rhp_bucket(planes: "list[list[float]]", b: int, rows: int) -> str:
    """Band ``b``'s bucket of a fixed RHP family: bit r of the sign
    word over planes ``b·rows + r`` of ``embedding`` (shared by the
    fixed-band referees here and in plans/corpus.py)."""
    terms = [
        f"(CASE WHEN {sql_dot('embedding', sql_plane(planes[b * rows + r]))}"
        f" > 0 THEN {1 << r} ELSE 0 END)"
        for r in range(rows)
    ]
    return " + ".join(terms)


def _sql_embed_rhp_referee(cap: int) -> str:
    return f"""
    WITH bits AS (
        SELECT vec_id, embedding,
               {", ".join(f"{sql_rhp_bucket(RHP_PLANES, b, _RHP_ROWS)} AS b{b}" for b in range(RHP_BANDS))}
        FROM {_sql_referee_src(cap)}
    ),
    cand AS (
        SELECT a.vec_id AS kept_id, b.vec_id AS dup_id,
               a.embedding AS ei, b.embedding AS ej
        FROM bits a JOIN bits b
          ON a.vec_id < b.vec_id
         AND ({" OR ".join(f"a.b{b} = b.b{b}" for b in range(RHP_BANDS))})
    )
    SELECT dup_id, kept_id, round({sql_cosine('ei', 'ej')}, 6) AS cosine
    FROM cand
    WHERE {sql_cosine('ei', 'ej')} >= {EMBED_DUP_THRESHOLD}
    """


def _embed_rhp_referee(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    scope = CacheScope()
    pairs = SIM.near_dup_pairs_rhp(
        referee_capped(load(spark, sf_dir, "embeddings"), cap),
        EMBED_DUP_THRESHOLD,
        n_planes=RHP_N_PLANES,
        bands=RHP_BANDS,
        dim=RHP_DIM,
        scope=scope,
    )
    return scope.attach(
        pairs.select("dup_id", "kept_id", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "dedup_embed_cosine_rhp",
    # the sf1 bench sweep (BENCH_SF1.json) caught this FIXED
    # 4-band×4-bit family at 75.9 s for 20k vectors: with a constant
    # 16-bucket band, random collisions are Θ(N²/16) — quadratic with a
    # constant that stopped being small, the same verdict as the
    # blocked clusters family. dedup_embed_cosine_rhp_auto (below) is
    # the production successor with the N-aware masked band width.
    # This variant stays registered as the fixed-band referee.
    oracle=_sql_embed_rhp_referee(REFEREE_CAP_N),
    doc="Random-hyperplane LSH pre-blocked embedding near-dup, FIXED "
    "4 bands × 4 sign bits (deprecated-for-scale; kept as the "
    "fixed-band referee whose banding appears literally in the "
    "cross-engine SQL). With constant band width the random collision "
    "mass grows Θ(N²/2^r); the registered scale path is "
    "dedup_embed_cosine_rhp_auto. Input capped to the REFEREE_CAP_N "
    "lowest vec_ids identically in both engines (VERDICT r10 #4) so "
    "the referee costs O(1) in sf — no bite at driver SFs, sf ≥ 1 "
    "sweeps stay runnable.",
)
def dedup_embed_cosine_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embed_rhp_referee(spark, sf_dir, REFEREE_CAP_N)


#: N-aware variant: fixed 8-band plane pool of 24-bit words, bucket
#: masked to r = min{r in [4,24] : 2^r·16 ≥ 8·N} low bits — the same
#: integer rule (operators/similarity.rhp_mask_bits) the registered
#: clusters family uses, so the DuckDB oracle derives the identical r
#: from a COUNT(*) scalar subquery (plans/corpus.py:1089 precedent)
RHP_AUTO_BANDS, RHP_AUTO_MAX_R, RHP_AUTO_TARGET = 8, 24, 16
RHP_AUTO_PLANES = SIM.rhp_sign_planes(RHP_AUTO_BANDS * RHP_AUTO_MAX_R, RHP_DIM)


def sql_signed_sum(col: str, plane: "list[float]") -> str:
    """Flat signed sum equal to ``dot(col, plane)`` for a ±1 sign plane
    — ``(0.0 + col[1] - col[2] + ...)``. Bit-identical to the Arrow
    kernel's accumulation (``acc = 0; acc += v_i * p_i`` — multiplying
    by ±1.0 IS identity/negation in IEEE754, and SQL's left-associative
    ``+``/``-`` chain reproduces the fold order exactly), but ~200×
    faster in DuckDB than the ``list_reduce`` lambda form: the 192-dot
    bits CTE of the auto-banded oracle measured 215 s at sf0.001 with
    lambdas vs ~1 s as flat vectorized arithmetic."""
    terms = "".join(
        f" {'+' if v > 0 else '-'} {col}[{i + 1}]" for i, v in enumerate(plane)
    )
    return f"(0.0{terms})"


def sql_rhp_auto_bucket(planes: "list[list[float]]", b: int, max_r: int) -> str:
    """Band ``b``'s bucket of an N-aware RHP family: the ``max_r``-bit
    sign word over planes ``b·max_r + j``, masked to the low r bits
    read from the oracle's ``params`` CTE (shared with
    plans/corpus.py)."""
    terms = [
        f"(CASE WHEN {sql_signed_sum('embedding', planes[b * max_r + j])}"
        f" > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(max_r)
    ]
    return (
        f"(({' + '.join(terms)}) & ((CAST(1 AS BIGINT) << (SELECT r FROM params)) - 1))"
    )


@register(
    "dedup_embed_cosine_rhp_auto",
    oracle=f"""
    WITH params AS MATERIALIZED (
        SELECT CAST(COALESCE(MIN(r), {RHP_AUTO_MAX_R}) AS INT) AS r
        FROM range(4, {RHP_AUTO_MAX_R + 1}) t(r)
        WHERE (CAST(1 AS BIGINT) << r) * {RHP_AUTO_TARGET}
              >= {RHP_AUTO_BANDS} * (SELECT COUNT(*) FROM embeddings)
    ),
    bits AS MATERIALIZED (
        SELECT vec_id, embedding,
               {", ".join(f"{sql_rhp_auto_bucket(RHP_AUTO_PLANES, b, RHP_AUTO_MAX_R)} AS b{b}" for b in range(RHP_AUTO_BANDS))}
        FROM embeddings
    ),
    cand AS (
        SELECT a.vec_id AS kept_id, b.vec_id AS dup_id,
               a.embedding AS ei, b.embedding AS ej
        FROM bits a JOIN bits b
          ON a.vec_id < b.vec_id
         AND ({" OR ".join(f"a.b{b} = b.b{b}" for b in range(RHP_AUTO_BANDS))})
    )
    SELECT dup_id, kept_id, round({sql_cosine('ei', 'ej')}, 6) AS cosine
    FROM cand
    WHERE {sql_cosine('ei', 'ej')} >= {EMBED_DUP_THRESHOLD}
    """,
    doc="N-AWARE random-hyperplane embedding near-dup — the registered "
    "100 TB pairs path (round 10; BENCH_SF1 caught the fixed family at "
    "75.9 s / 20k vectors). Each of 8 bands hashes a 24-bit sign word "
    "over a fixed 192-plane pool, masked to its low r bits with "
    "r = min{r in [4,24] : 2^r·16 ≥ 8·N} — integer arithmetic both "
    "engines evaluate from COUNT(*) at runtime, so the oracle pins "
    "candidate generation AND verification of the same family the "
    "engine runs at any size. Random collision mass stays ≤ 16·N "
    "candidates by construction (measured family exponent 1.09 over "
    "100×, SCALING_r10.json rhp_auto_cand).",
)
def dedup_embed_cosine_rhp_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    emb = load(spark, sf_dir, "embeddings")
    # sizing count reads parquet metadata — no scan; same COUNT(*)
    # scalar the oracle computes
    n = emb.count()
    r = SIM.rhp_mask_bits(
        n, RHP_AUTO_BANDS, RHP_AUTO_TARGET, lo=4, hi=RHP_AUTO_MAX_R
    )
    pairs = SIM.near_dup_pairs_rhp(
        emb,
        EMBED_DUP_THRESHOLD,
        n_planes=RHP_AUTO_BANDS * RHP_AUTO_MAX_R,
        bands=RHP_AUTO_BANDS,
        dim=RHP_DIM,
        scope=scope,
        bucket_mask=(1 << r) - 1,
    )
    return scope.attach(
        pairs.select("dup_id", "kept_id", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "dedup_fuzzy_apply",
    oracle=f"""
    WITH comp AS ({sql_closure(_SQL_JACCARD_EDGES, "doc_id", "component_id")})
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (
               coalesce(c.component_id, d.doc_id) = d.doc_id
           ) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (
               coalesce(c.component_id, d.doc_id) <> d.doc_id
           ) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN comp c USING (doc_id)
    GROUP BY d.source
    """,
    doc="FUZZY dedup application end to end: near-dup pairs (3-gram "
    "Jaccard ≥ 0.5) close into connected components, the component's "
    "min doc id becomes the keeper, and every document resolves "
    "against it (singletons keep themselves via the left join — no "
    "giant keeper table for the unduplicated majority, which at 100 TB "
    "is nearly the whole corpus). Per-source kept/removed counts; the "
    "oracle recomputes the full chain through a recursive CTE.",
)
def dedup_fuzzy_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    docs = load(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, n=3, threshold=0.5, scope=scope)
    comp = CC.connected_components(pairs, src="i", dst="j", scope=scope)
    joined = docs.select("doc_id", "source").join(comp, "doc_id", "left")
    keeper = F.coalesce(F.col("component_id"), F.col("doc_id"))
    is_keeper = keeper == F.col("doc_id")
    out = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(is_keeper, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~is_keeper, 1).otherwise(0)).cast("long").alias("n_removed"),
    )
    return scope.attach(out)


@register(
    "corpus_prune_perplexity",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ), toks AS (
        SELECT doc_id, lower(tok) AS term FROM t
    ), vocab AS (
        SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ), tot AS (
        SELECT COUNT(*) AS n FROM toks
    ), scored AS (
        SELECT toks.doc_id,
               round(AVG(ln(vocab.cnt::DOUBLE / tot.n)), 6) AS lp
        FROM toks JOIN vocab USING (term) CROSS JOIN tot
        GROUP BY toks.doc_id
    ), banded AS (
        SELECT d.lang, s.lp,
               NTILE(10) OVER (
                   PARTITION BY d.lang ORDER BY s.lp, s.doc_id
               ) AS band
        FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (band BETWEEN 2 AND 9) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (band < 2 OR band > 9) AS BIGINT) AS n_dropped,
           MIN(lp) FILTER (band BETWEEN 2 AND 9) AS kept_min_lp,
           MAX(lp) FILTER (band BETWEEN 2 AND 9) AS kept_max_lp
    FROM banded GROUP BY lang
    """,
    doc="CCNet-style perplexity-band pruning: score every document by "
    "mean unigram log-probability, decile-band per language (ordered "
    "on the ROUNDED score + doc id, so both engines band identically "
    "despite libm last-ulp variance), and drop the extreme bands — "
    "head deciles are boilerplate/repetition, tail deciles are noise. "
    "One corpus-wide term-count shuffle + one window per language "
    "stratum; at 100 TB replace NTILE with approx_percentile "
    "band edges (documented trade: exact deciles need a per-stratum "
    "sort, approximate edges are a single pass).",
)
def corpus_prune_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    scope = CacheScope()
    docs = load(spark, sf_dir, "documents")
    toks = scope.persist(
        docs.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
        ).select("doc_id", F.lower("tok").alias("term"))
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("n"))), 6
            ).alias("lp")
        )
    )
    banded = scored.join(docs.select("doc_id", "lang"), "doc_id").withColumn(
        "band",
        F.ntile(10).over(W.partitionBy("lang").orderBy("lp", "doc_id")),
    )
    in_band = F.col("band").between(2, 9)
    out = banded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(in_band, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~in_band, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.min(F.when(in_band, F.col("lp"))).alias("kept_min_lp"),
        F.max(F.when(in_band, F.col("lp"))).alias("kept_max_lp"),
    )
    return scope.attach(out)


# ----------------------------------------------------------------------
# multimodal byte columns
# ----------------------------------------------------------------------


@register(
    "multimodal_bytes_meta",
    oracle=f"""
    WITH b AS (
        SELECT source, encode(text) AS payload, md5(text) AS content_md5
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes,
           round(SUM(octet_length(payload))::DOUBLE / COUNT(*), 6) AS avg_bytes,
           COUNT(DISTINCT content_md5) AS n_distinct_payloads
    FROM b GROUP BY source
    """,
    doc="Multimodal columns modeled as opaque binary payloads with "
    "typed metadata: per-source byte accounting + payload-level dedup "
    "counts. The binary column is real (encode → BinaryType); decode/"
    "feature-extraction runs via the mapInPandas operators in "
    "operators/multimodal.py (real BMP/WAV codecs, stubs otherwise).",
)
def multimodal_bytes_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.md5(F.col("text")).alias("content_md5"),
    )
    size = F.length("payload").cast("long")
    return (
        b.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(size).alias("total_bytes"),
            F.max(size).alias("max_bytes"),
            F.round(F.sum(size) / F.count(F.lit(1)), 6).alias("avg_bytes"),
            F.countDistinct("content_md5").alias("n_distinct_payloads"),
        )
    )


@register(
    "multimodal_bmp_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           round(list_avg(list_transform(range(w*h*3),
                 k -> (doc_id*31 + k*7) % 256)) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="REAL image codec path end to end: a deterministic RGB pattern "
    "per doc is written through the pure-Python 24-bit BMP encoder "
    "(bottom-up rows, BGR, 4-byte padding), shipped as a binary "
    "column, then byte-level parsed back by the independent decoder "
    "inside the Arrow kernel. The oracle recomputes width/height/mean "
    "from the pattern's closed form — a header or padding bug on "
    "either side breaks the hash.",
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_bmp_assets(docs)
    return MM.extract_image_features(assets).select(
        "asset_id", "width", "height", "mean_luma"
    )


@register(
    "multimodal_png_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id, 7 + doc_id % 6 AS w, 5 + doc_id % 4 AS h,
               3 + doc_id % 2 AS c
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(c AS INT) AS channels,
           round(list_avg(list_transform(range(w*h*c),
                 k -> (doc_id*37 + k*11) % 256)) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="REAL PNG codec path end to end (retires the r5 verdict's one "
    "'missing' item): a deterministic RGB/RGBA pattern per doc is "
    "written through the pure-Python PNG encoder (zlib DEFLATE, "
    "critical chunks, per-row filter cycling through all five spec "
    "filters), shipped as a binary column, then byte-level parsed "
    "back — chunk walk, CRC verify, inflate, unfilter — by the "
    "independent decoder inside the Arrow kernel. The oracle "
    "recomputes width/height/channels/mean from the pattern's closed "
    "form, so a chunk, filter, or channel bug on either side breaks "
    "the hash.",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_png_assets(docs)
    return MM.extract_image_features(assets).select(
        "asset_id", "width", "height", "channels", "mean_luma"
    )


@register(
    "multimodal_jpeg_decode",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(9 + doc_id % 8 AS INT) AS width,
           CAST(7 + doc_id % 5 AS INT) AS height,
           CAST(3 AS INT) AS channels
    FROM documents WHERE doc_id < 20
    """,
    doc="REAL baseline JPEG codec path end to end: a smooth "
    "deterministic gradient per doc goes through the pure-Python "
    "encoder (YCbCr 4:4:4, 8x8 DCT, quantization, canonical Huffman "
    "DC-diff/AC-RLE entropy coding, 0xFF00 stuffing), ships as a "
    "binary column, and is parsed back by the independent decoder "
    "(marker walk, DHT/DQT table reads, Huffman decode, dequant, "
    "IDCT) inside the Arrow kernel. JPEG is lossy, so the oracle "
    "hashes only the exactly-known metadata (dims/channels); pixel "
    "fidelity is pytest-bounded (tests/test_llm_ops.py: mean within "
    "1/255 and max error within 8/255 of the wrap-free gradient "
    "pattern — measured 0.28 and 4).",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_jpeg_assets(docs)
    return MM.extract_image_features(assets).select(
        "asset_id", "width", "height", "channels"
    )


@register(
    "multimodal_wav_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id, 400 + (doc_id % 7) * 160 AS n
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(8000 AS INT) AS sample_rate,
           round(n / 8000.0, 6) AS duration_sec,
           round(sqrt(list_avg(list_transform(range(n),
                 i -> pow(((doc_id*13 + i*97) % 2048) - 1024, 2)))), 6) AS rms_level
    FROM p
    """,
    doc="REAL audio codec path end to end: a deterministic PCM-16 tone "
    "per doc through the pure-Python WAV encoder, parsed back by the "
    "independent chunk-walking RIFF decoder (sample rate, duration, "
    "integer-exact RMS). Oracle recomputes from the closed form.",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_wav_assets(docs)
    return MM.extract_audio_features(assets).select(
        "asset_id", "sample_rate", "duration_sec", "rms_level"
    )


#: G.711 mu-law companding, SQL form (mirrors codecs.mulaw_compress →
#: mulaw_expand exactly — integer arithmetic end to end)
_SQL_MULAW_E = (
    "CASE WHEN a < 256 THEN 0 WHEN a < 512 THEN 1 WHEN a < 1024 THEN 2 "
    "WHEN a < 2048 THEN 3 WHEN a < 4096 THEN 4 WHEN a < 8192 THEN 5 "
    "WHEN a < 16384 THEN 6 ELSE 7 END"
)


@register(
    "multimodal_wav_mulaw",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, 300 + (doc_id % 5) * 100 AS n
        FROM documents WHERE doc_id < 20
    ),
    raw AS (
        SELECT doc_id, n, i, ((doc_id*131 + i*17) % 65536) - 32768 AS v
        FROM p, unnest(range(n)) AS u(i)
    ),
    st AS (
        SELECT doc_id, n, i,
               CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn,
               least(abs(v), 32635) + 132 AS a
        FROM raw
    ),
    ex AS (SELECT doc_id, n, i, sgn, a, {_SQL_MULAW_E} AS e FROM st),
    de AS (
        SELECT doc_id, n, i,
               sgn * (((((a >> (e + 3)) & 15) * 8 + 132) << e) - 132) AS dec
        FROM ex
    ),
    lagged AS (
        SELECT doc_id, i, dec,
               lag(dec) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM de
    ),
    zc AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i > 0 AND (dec < 0) <> (prev < 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
        FROM lagged GROUP BY doc_id
    ),
    feat AS (
        SELECT doc_id, MAX(n) AS n,
               round(sqrt(SUM(dec * dec) * 1.0 / MAX(n)), 6) AS rms_level
        FROM de GROUP BY doc_id
    )
    SELECT feat.doc_id AS asset_id,
           CAST(8000 AS INT) AS sample_rate,
           round(n / 8000.0, 6) AS duration_sec,
           rms_level,
           zc.n_crossings
    FROM feat JOIN zc ON feat.doc_id = zc.doc_id
    """,
    doc="REAL G.711 mu-law codec path end to end: a full-range int16 "
    "pattern per doc is companded through the pure-Python mu-law WAV "
    "encoder (format 7, 1 byte/sample), shipped as a binary column, "
    "and expanded back by the independent chunk-walking decoder "
    "inside the Arrow kernel. Mu-law is lossy but INTEGER-EXACT — "
    "decode(encode(x)) is a closed-form integer function — so unlike "
    "JPEG the oracle recomputes the companding round trip itself and "
    "hash-checks reconstructed-amplitude features (integer-exact RMS, "
    "zero crossings), not just metadata. A bias, clip, exponent-range "
    "or mantissa bug on either side breaks the hash.",
)
def multimodal_wav_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_mulaw_assets(docs)
    return MM.extract_audio_features(assets).select(
        "asset_id", "sample_rate", "duration_sec", "rms_level", "n_crossings"
    )


@register(
    "multimodal_wav_zcr",
    oracle="""
    WITH p AS (
        SELECT doc_id, 400 + (doc_id % 7) * 160 AS n
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(list_sum(list_transform(range(1, n),
                i -> CASE WHEN (((doc_id*13 + (i-1)*97) % 2048) - 1024 < 0)
                          != (((doc_id*13 + i*97) % 2048) - 1024 < 0)
                     THEN 1 ELSE 0 END)) AS BIGINT) AS n_crossings,
           round(list_sum(list_transform(range(1, n),
                i -> CASE WHEN (((doc_id*13 + (i-1)*97) % 2048) - 1024 < 0)
                          != (((doc_id*13 + i*97) % 2048) - 1024 < 0)
                     THEN 1 ELSE 0 END))::DOUBLE / (n - 1), 6) AS zcr
    FROM p
    """,
    doc="Zero-crossing rate per audio asset — an integer-exact DSP "
    "feature (count of sign flips between adjacent PCM samples) "
    "computed inside the Arrow decode kernel; the oracle recomputes "
    "the count from the tone's closed form, so sample order, "
    "endianness, or chunk-walk bugs in the codec break the hash.",
)
def multimodal_wav_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_wav_assets(docs)
    feats = MM.extract_audio_features(assets)
    return feats.select(
        "asset_id",
        "n_crossings",
        F.round(
            F.col("n_crossings")
            / (F.col("duration_sec") * F.col("sample_rate") - 1),
            6,
        ).alias("zcr"),
    )


@register(
    "multimodal_wav_frames",
    oracle="""
    WITH p AS (
        SELECT doc_id, 400 + (doc_id % 7) * 160 AS n
        FROM documents WHERE doc_id < 20
    ), f AS (
        SELECT doc_id, n,
               unnest(range(least((n + 159) // 160, 8))) AS frame_no
        FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(least(n - frame_no * 160, 160) AS INT) AS n_samples,
           round(sqrt(list_avg(list_transform(
                 range(frame_no * 160, least(frame_no * 160 + 160, n)),
                 i -> pow(((doc_id*13 + i*97) % 2048) - 1024, 2)))), 6) AS rms
    FROM f
    """,
    doc="REAL frame sampling: each WAV splits into ≤8 frames of 160 "
    "PCM samples (20 ms at 8 kHz; last frame partial) with per-frame "
    "RMS from exact integer sums — the windowed-DSP fan-out a VAD or "
    "loudness gate runs on. The oracle recomputes every frame from the "
    "tone's closed form, pinning frame boundaries, the partial-frame "
    "length, and the frame cap.",
)
def multimodal_wav_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_wav_assets(docs)
    return MM.sample_audio_frames(assets, frame_len=160, max_frames=8)


@register(
    "multimodal_bmp_resize",
    oracle="""
    WITH p AS (
        SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(5 AS INT) AS width,
           CAST(4 AS INT) AS height,
           round(list_avg(list_transform(range(60),
                 m -> (doc_id*31
                       + (((m // 15) * h // 4 * w + (m // 3) % 5 * w // 5) * 3
                          + m % 3) * 7) % 256)) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="REAL image resize path end to end: pattern BMPs are decoded, "
    "nearest-neighbor-resampled to 5×4 with a vectorized numpy gather, "
    "re-encoded, and decoded again by the feature kernel. The oracle "
    "recomputes the resampled mean from the closed form — source pixel "
    "for output (x,y) is (x*w//5, y*h//4) — so a mapping, row-order, "
    "or re-encode bug on either side breaks the hash.",
)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    resized = MM.resize_images(MM.render_bmp_assets(docs), width=5, height=4)
    feats = MM.extract_image_features(
        resized.select(
            "asset_id",
            F.lit("image/bmp").alias("media_type"),
            "payload",
            F.length("payload").cast("long").alias("byte_size"),
        )
    )
    return feats.select("asset_id", "width", "height", "mean_luma")


@register(
    "multimodal_gif_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id, 6 + doc_id % 7 AS w, 4 + doc_id % 5 AS h,
               2 + doc_id % 15 AS ncol
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(3 AS INT) AS channels,
           round(list_avg(list_transform(range(w*h),
                 k -> ((((doc_id*13 + k*5) % ncol) * 53 % 256)
                     + (((doc_id*13 + k*5) % ncol) * 97 % 256)
                     + (((doc_id*13 + k*5) % ncol) * 31 % 256)) / 3.0))
                 / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="REAL GIF codec path end to end (retires the image half of the "
    "r6 verdict's last media gate): a deterministic palette-indexed "
    "pattern per doc — palette sizes 2..16 so code widths vary — is "
    "written through the pure-Python GIF89a encoder (global color "
    "table, variable-width LZW with clear/EOI and dictionary reset, "
    "sub-block framing), shipped as a binary column, then parsed back "
    "by the independent decoder (block walk, extension skip, LZW with "
    "the KwKwK case) inside the Arrow kernel. GIF is lossless, so the "
    "oracle recomputes width/height/mean from the pattern's closed "
    "form — a palette, code-width, or framing bug on either side "
    "breaks the hash.",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_gif_assets(docs)
    return MM.extract_image_features(assets).select(
        "asset_id", "width", "height", "channels", "mean_luma"
    )


@register(
    "multimodal_tiff_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id, 5 + doc_id % 9 AS w, 3 + doc_id % 6 AS h
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(3 AS INT) AS channels,
           round(list_avg(list_transform(range(w*h*3),
                 k -> (doc_id*29 + k*13) % 256)) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="REAL baseline-TIFF codec path end to end (retires the TIFF "
    "half of the remaining image gate): a deterministic RGB pattern "
    "per doc is written through the pure-Python TIFF 6.0 encoder "
    "(II header, tag table, MULTI-strip pixel layout so offset/count "
    "arrays are exercised), shipped as a binary column, then parsed "
    "back by the independent decoder (both byte orders, IFD walk, "
    "inline-vs-offset tag values, strip reassembly) inside the Arrow "
    "kernel. TIFF is lossless, so the oracle recomputes "
    "width/height/mean from the pattern's closed form — a tag, "
    "byte-order, or strip bug on either side breaks the hash.",
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_tiff_assets(docs)
    return MM.extract_image_features(assets).select(
        "asset_id", "width", "height", "channels", "mean_luma"
    )


# ----------------------------------------------------------------------
# multimodal BULK workloads (round 7, VERDICT r6 #4): sf-proportional
# ----------------------------------------------------------------------
#
# The per-codec queries above decode 20 assets each — capability
# proofs. These two run the full encode→ship→decode→feature→aggregate
# pipeline over ONE ASSET PER DOCUMENT (so the workload scales with
# sf: 500 → 5 000 → … assets), giving the multimodal family a real
# THROUGHPUT signal in bench.py. Both use integer-exact codecs (PNG,
# G.711 mu-law) so the aggregates — not just metadata — hash-check
# cross-engine; per-asset doubles are squeezed through DECIMAL before
# summing so the reduction is order-independent.


@register(
    "multimodal_image_bulk",
    oracle="""
    WITH p AS (
        SELECT doc_id, 7 + doc_id % 6 AS w, 5 + doc_id % 4 AS h,
               3 + doc_id % 2 AS c
        FROM documents
    ),
    per AS (
        SELECT doc_id, w, h, c,
               CAST(round(list_avg(list_transform(range(w*h*c),
                    k -> (doc_id*37 + k*11) % 256)) / 255.0, 6)
                    AS DECIMAL(18,6)) AS ml
        FROM p
    )
    SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(c AS INT) AS channels,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           round(CAST(SUM(ml) AS DOUBLE), 6) AS sum_mean_luma
    FROM per GROUP BY w, h, c
    """,
    doc="BULK image codec throughput: one PNG per document (encode → "
    "binary column → independent decode → features → aggregate), "
    "sf-proportional. PNG is lossless, so the oracle recomputes every "
    "asset's mean luma from the pattern's closed form and the "
    "AGGREGATED sums hash-check — per-asset doubles go through "
    "DECIMAL(18,6) so the sum is shuffle-order-independent. The "
    "render stage repartitions to the session parallelism: the pure-"
    "Python codec work is the bottleneck and must fan out across "
    "executors, not sit on the source file's split count.",
)
def multimodal_image_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    feats = MM.extract_image_features(MM.render_png_assets(docs))
    return feats.groupBy("width", "height", "channels").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.round(
            F.sum(F.col("mean_luma").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_mean_luma"),
    )


@register(
    "multimodal_audio_bulk",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, 300 + (doc_id % 5) * 100 AS n
        FROM documents
    ),
    raw AS (
        SELECT doc_id, n, i, ((doc_id*131 + i*17) % 65536) - 32768 AS v
        FROM p, unnest(range(n)) AS u(i)
    ),
    st AS (
        SELECT doc_id, n, i,
               CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn,
               least(abs(v), 32635) + 132 AS a
        FROM raw
    ),
    ex AS (SELECT doc_id, n, i, sgn, a, {{MULAW_E}} AS e FROM st),
    de AS (
        SELECT doc_id, n, i,
               sgn * (((((a >> (e + 3)) & 15) * 8 + 132) << e) - 132) AS dec
        FROM ex
    ),
    lagged AS (
        SELECT doc_id, n, i, dec,
               lag(dec) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM de
    ),
    feat AS (
        SELECT doc_id, MAX(n) AS n,
               CAST(round(sqrt(SUM(dec * dec) * 1.0 / MAX(n)), 6)
                    AS DECIMAL(18,6)) AS rms,
               CAST(SUM(CASE WHEN i > 0 AND (dec < 0) <> (prev < 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS zc
        FROM lagged GROUP BY doc_id
    )
    SELECT round(n / 8000.0, 6) AS duration_sec,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(zc) AS BIGINT) AS total_crossings,
           round(CAST(SUM(rms) AS DOUBLE), 6) AS sum_rms
    FROM feat GROUP BY n
    """.replace("{MULAW_E}", _SQL_MULAW_E),
    doc="BULK audio codec throughput: one G.711 mu-law clip per "
    "document (compand → RIFF container → independent chunk-walk "
    "decode → integer-exact RMS/zero-crossing features → aggregate), "
    "sf-proportional. Mu-law reconstruction is integer-exact, so the "
    "oracle recomputes the companding round trip for EVERY sample of "
    "EVERY asset and the aggregated crossing counts and "
    "decimal-squeezed RMS sums hash-check cross-engine.",
)
def multimodal_audio_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    feats = MM.extract_audio_features(MM.render_mulaw_assets(docs))
    return feats.groupBy("duration_sec").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_crossings").alias("total_crossings"),
        F.round(
            F.sum(F.col("rms_level").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_rms"),
    )


def _kmeans_profile_oracle() -> str:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01 as CB,
    )

    nc = len(CB)
    s_exprs = ",\n               ".join(
        f"{_sql_cb_score('embedding', CB[i])} AS s{i}" for i in range(nc)
    )
    greatest = "greatest(" + ", ".join(f"s{i}" for i in range(nc)) + ")"
    return f"""
    WITH s AS (
        SELECT vec_id, label, embedding,
               {s_exprs}
        FROM embeddings
    ),
    a AS (
        SELECT label AS _lab,
               {_sql_cb_assign_case(nc)} AS cluster,
               CAST(round({greatest} / sqrt({sql_dot('embedding', 'embedding')}), 9)
                    AS DECIMAL(18,12)) AS _cos
        FROM s
    ),
    per AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               SUM(_cos) AS sc
        FROM a GROUP BY cluster
    ),
    lab AS (
        SELECT cluster, _lab, CAST(COUNT(*) AS BIGINT) AS ln
        FROM a GROUP BY cluster, _lab
    ),
    top AS (
        SELECT cluster, _lab AS top_label, ln AS top_label_n
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY cluster ORDER BY ln DESC, _lab
            ) AS r FROM lab
        ) WHERE r = 1
    )
    SELECT p.cluster, p.n_vectors, t.top_label, t.top_label_n,
           round(CAST(t.top_label_n AS DOUBLE) / p.n_vectors, 6) AS purity,
           round(CAST(CAST(sc AS DECIMAL(24,12)) AS DOUBLE) / p.n_vectors, 6)
               AS avg_cosine
    FROM per p JOIN top t ON p.cluster = t.cluster
    ORDER BY p.cluster
    """


@register(
    "corpus_kmeans_clusters",
    oracle=_kmeans_profile_oracle(),
    doc="Corpus topic clustering with the frozen k-means codebook "
    "(operators/similarity.py frozen_cluster_profile): hard-assign "
    "every embedding to its nearest trained centroid and profile "
    "each cluster — size, majority source label + purity, and mean "
    "cosine tightness. This is the cluster-based curation pass of a "
    "training-data pipeline (topic bucketing, cluster balancing, "
    "semantic filtering) expressed as the assignment half of k-means "
    "with training factored into the shipped codebook, so the WHOLE "
    "pass is closed-form and hash-checks cross-engine (assignment "
    "argmax, greatest-score cosine, per-row-rounded decimal mean). "
    "Plan: one embeddings scan computes all 8 centroid scores "
    "in-line; both aggregates are map-side partial on ≤ 8·|labels| "
    "groups; the majority-label window runs at aggregate scale. "
    "Nothing shuffles at vector scale — at 100 TB this is a single "
    "pass over the embedding column.",
)
def corpus_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.codebook import (
        FROZEN_IVF_SF0_01,
    )

    return SIM.frozen_cluster_profile(
        load(spark, sf_dir, "embeddings"), FROZEN_IVF_SF0_01
    )


_SQL_ALAW_SEG = (
    "CASE WHEN x13 < 32 THEN 0 WHEN x13 < 64 THEN 1 WHEN x13 < 128 THEN 2 "
    "WHEN x13 < 256 THEN 3 WHEN x13 < 512 THEN 4 WHEN x13 < 1024 THEN 5 "
    "WHEN x13 < 2048 THEN 6 ELSE 7 END"
)


@register(
    "multimodal_wav_alaw",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, 320 + (doc_id % 6) * 80 AS n
        FROM documents WHERE doc_id < 20
    ),
    raw AS (
        SELECT doc_id, n, i, ((doc_id*197 + i*23) % 65536) - 32768 AS v
        FROM p, unnest(range(n)) AS u(i)
    ),
    st AS (
        SELECT doc_id, n, i, v,
               (CASE WHEN v >= 0 THEN v ELSE -v - 1 END) >> 3 AS x13
        FROM raw
    ),
    sg AS (SELECT doc_id, n, i, v, x13, {_SQL_ALAW_SEG} AS seg FROM st),
    mv AS (
        SELECT doc_id, n, i, v, seg,
               (CASE WHEN seg < 2 THEN x13 >> 1 ELSE x13 >> seg END) & 15 AS m
        FROM sg
    ),
    de AS (
        SELECT doc_id, n, i,
               (CASE WHEN v >= 0 THEN 1 ELSE -1 END)
               * (CASE WHEN seg = 0 THEN m*16 + 8
                       ELSE (m*16 + 264) << (seg - 1) END) AS dec
        FROM mv
    ),
    lagged AS (
        SELECT doc_id, i, dec,
               lag(dec) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM de
    ),
    zc AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i > 0 AND (dec < 0) <> (prev < 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
        FROM lagged GROUP BY doc_id
    ),
    feat AS (
        SELECT doc_id, MAX(n) AS n,
               round(sqrt(SUM(dec * dec) * 1.0 / MAX(n)), 6) AS rms_level
        FROM de GROUP BY doc_id
    )
    SELECT feat.doc_id AS asset_id,
           CAST(8000 AS INT) AS sample_rate,
           round(n / 8000.0, 6) AS duration_sec,
           rms_level,
           zc.n_crossings
    FROM feat JOIN zc ON feat.doc_id = zc.doc_id
    """,
    doc="REAL G.711 A-law codec path end to end — the E1-telephony "
    "twin of the mu-law query: a full-range int16 pattern per doc is "
    "companded through the pure-Python A-law WAV encoder (format 6, "
    "1 byte/sample), shipped as a binary column, and expanded back by "
    "the independent chunk-walking decoder inside the Arrow kernel. "
    "A-law is lossy but INTEGER-EXACT (13-bit magnitude, 8 segments, "
    "4-bit mantissa, 0x55 toggle mask), so the oracle recomputes the "
    "companding round trip in closed form and hash-checks "
    "reconstructed-amplitude features (integer-exact RMS, zero "
    "crossings). A segment-boundary, mantissa-shift, or mask bug on "
    "either side breaks the hash; full-range parity with the classic "
    "g711.c scalar reference is pinned in pytest.",
)
def multimodal_wav_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    assets = MM.render_alaw_assets(docs)
    return MM.extract_audio_features(assets).select(
        "asset_id", "sample_rate", "duration_sec", "rms_level", "n_crossings"
    )


#: per-source document cap — the "per-domain quota" of web-corpus
#: curation. Selection order inside a stratum is the md5 of the text
#: (deterministic, content-uniform, engine-identical), doc_id breaking
#: the (practically impossible) digest tie.
SOURCE_QUOTA = 40


@register(
    "corpus_source_quota",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY md5(text), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {SOURCE_QUOTA} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > {SOURCE_QUOTA} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rn <= {SOURCE_QUOTA} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source quota capping — the per-domain cap of web-corpus "
    "curation (keep at most N documents per domain so no single "
    "source dominates the mix), complementing rate-based "
    "sample_stratified: a cap bounds ABSOLUTE contribution, a rate "
    "scales it. Selection inside each stratum orders by md5(text) — "
    "deterministic, content-uniform, engine-identical — so the kept "
    "set is reproducible across runs and engines, and the oracle "
    "hash-checks kept/dropped counts AND the kept character mass. "
    "Plan: one shuffle on source for the ranking window; a skewed "
    "mega-source would take the salted two-phase decomposition of "
    "events_topk_salted (rank within (source, salt) first, keep "
    "<= N per lane, re-rank survivors — exact for top-N selection).",
)
def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("source", "n_chars", "text", "doc_id")
    w = W.partitionBy("source").orderBy(F.md5("text"), F.asc("doc_id"))
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= SOURCE_QUOTA
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "documents_length_histogram",
    oracle="""
    SELECT CAST(length(bin(CAST(n_chars AS BIGINT))) AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Power-of-two length histogram — the standard distribution "
    "profile for corpus length fields (each bucket spans [2^(k-1), "
    "2^k)): the bucket is the INTEGER BIT LENGTH of n_chars "
    "(length of its binary rendering), not floor(log2(x)) on doubles "
    "— float log2 can ulp-flip at exact powers of two and break the "
    "cross-engine hash; bit length is integer-exact in both engines. "
    "Plan: one scan of one column, a ~15-group map-side-partial "
    "aggregate — at 100 TB this is the cheapest possible full-corpus "
    "profile, and the log-scale buckets stay balanced no matter how "
    "heavy the length tail is (a linear-bucket histogram needs a "
    "second pass to size its buckets; the quantile sketch "
    "text_length_quantile_sketch is the arbitrary-quantile path).",
)
def documents_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("n_chars")
    )
    bucket = F.length(F.bin(F.col("n_chars"))).cast("int")
    return (
        docs.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("log2_bucket")
    )
