"""Shingle builders: row-local n-grams and write-once, zstd shuffles.

The posting lists are built inside each document's row after one
``(doc_id, text)`` repartition. These tests pin that they equal the
``lead()``-window formulation they replaced, that the near-dup plans
keep no ``Window`` and no posting exchange, that the session's
shuffle writer passes each shuffle byte to ``write`` once, and that it
compresses the text repartition with zstd.
"""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import text as TX
from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope
from tools.gen_scaling_data import gen_documents

#: the 31-word vocabulary of the test corpus (documents.parquet)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
]

EDGE_TEXTS = [
    "",
    "   ",
    None,
    "one two",
    "a\t\tb\n\nc  d\t\n e",
    "\tlead tab then words here",
    "a b c a b c a b c a b c",
    "x x x x x x",
]


def _window_postings(docs, n, hashed, distinct=True):
    """The ``lead()``-window formulation the row-local builders replaced:
    hashed (``shingle_hash_table``) or space-joined (``shingle_table``)."""
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "tok")
    )
    tok = F.xxhash64("tok") if hashed else F.col("tok")
    toks = toks.select("doc_id", "pos", tok.alias("t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", k).over(w) for k in range(1, n)]
    gram = F.xxhash64(*parts) if hashed else F.concat_ws(" ", *parts)
    grams = toks.select(
        "doc_id", F.when(parts[-1].isNotNull(), gram).alias("g")
    ).filter(F.col("g").isNotNull())
    return grams.distinct() if distinct else grams


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def corpus_docs(spark):
    texts = gen_documents(3000, 1, VOCAB).column("text").to_pylist()
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


@pytest.mark.parametrize("distinct", [True, False])
@pytest.mark.parametrize("n", [1, 3])
def test_hash_postings_equal_window_formulation_on_edge_texts(edge_docs, n, distinct):
    got = _multiset(DD.shingle_hash_table(edge_docs, n, distinct=distinct))
    assert got == _multiset(_window_postings(edge_docs, n, True, distinct))
    # repeated grams of doc 6 survive as a multiset only without distinct
    assert any(c > 1 for c in got.values()) != distinct


@pytest.mark.parametrize("distinct", [True, False])
def test_hash_postings_equal_window_formulation_on_corpus(corpus_docs, distinct):
    got = _multiset(DD.shingle_hash_table(corpus_docs, 3, distinct=distinct))
    assert got == _multiset(_window_postings(corpus_docs, 3, True, distinct))


@pytest.mark.parametrize("n", [3, 8])
def test_string_postings_equal_window_formulation(edge_docs, corpus_docs, n):
    for docs in (edge_docs, corpus_docs):
        got = _multiset(DD.shingle_table(docs, n))
        assert got == _multiset(_window_postings(docs, n, False))


# ----------------------------------------------------------------------
# plan shape
# ----------------------------------------------------------------------


def _plan_nodes(node):
    """Every operator of an executed plan, descending into AQE's final
    plan, query stages and the plans of cached relations."""
    kind = node.getClass().getSimpleName()
    yield node
    if kind == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif kind == "InMemoryTableScanExec":
        kids = [node.relation().cachedPlan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        yield from _plan_nodes(k)


def _doc_id_exchanges(df):
    """(the ``doc_id``-keyed shuffles, operator names) of the final plan
    of ``df``'s last execution."""
    exchanges, names = [], set()
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        names.add(node.nodeName())
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            keys = re.search(r"hashpartitioning\(([^)]*)\)", node.simpleString(25))
            if keys and re.search(r"\bdoc_id#", keys.group(1)):
                exchanges.append(node)
    return exchanges, names


@pytest.mark.parametrize("op", ["minhash_near_dups", "jaccard_pairs"])
def test_near_dup_plans_shuffle_text_not_postings(spark, op):
    texts = gen_documents(400, 1, VOCAB).column("text").to_pylist()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    with CacheScope() as scope:
        out = getattr(DD, op)(docs, scope=scope)
        assert out.collect()
        exchanges, names = _doc_id_exchanges(out)
        origins = [e.shuffleOrigin().toString() for e in exchanges]
        # the text is tokenized once, above the exchange: no filter
        # inferred from the explode splits it on the map side
        below = [
            n.simpleString(1000) for e in exchanges for n in _plan_nodes(e.child())
        ]
    assert not {n for n in names if "Window" in n}, names
    assert origins and set(origins) == {"REPARTITION_BY_COL"}, origins
    assert not [s for s in below if "split(" in s], below


# ----------------------------------------------------------------------
# write-once, zstd-compressed shuffle files
# ----------------------------------------------------------------------


def _wchar(pid):
    for line in Path(f"/proc/{pid}/io").read_text().splitlines():
        if line.startswith("wchar:"):
            return int(line.split()[1])
    raise AssertionError(f"no wchar in /proc/{pid}/io")


def _shuffle_data_files(spark):
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    files = {}
    for d in env.blockManager().diskBlockManager().localDirs():
        for p in Path(d.getPath()).rglob("shuffle_*.data"):
            files[p] = p.stat().st_size
    return files


def test_shuffle_bytes_written_once(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0"
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        df = (
            spark.range(0, 400_000, numPartitions=4)
            .select(
                F.xxhash64("id").alias("k"),
                F.xxhash64(F.col("id") + 1).alias("v"),
            )
            .groupBy("k")
            .agg(F.max("v").alias("v"))
        )
        before_files = _shuffle_data_files(spark)
        before = _wchar(pid)
        df.write.format("noop").mode("overwrite").save()
        written = _wchar(pid) - before
        after_files = _shuffle_data_files(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    data_bytes = sum(s for p, s in after_files.items() if p not in before_files)
    assert data_bytes > 4_000_000, data_bytes
    assert written < 1.5 * data_bytes, (written, data_bytes, written / data_bytes)


def test_text_repartition_shuffle_bytes_zstd(corpus_docs):
    """The session compresses shuffle blocks with zstd. The
    ``(doc_id, text)`` repartition of ``jaccard_pairs`` over
    ``gen_documents(3000, 1)`` (31 words, 4 shuffle partitions) writes
    252,933 shuffle bytes with it; the lz4 default wrote 511,543."""
    with CacheScope() as scope:
        out = DD.jaccard_pairs(corpus_docs, scope=scope)
        assert out.collect()
        exchanges, _ = _doc_id_exchanges(out)
        # the persisted postings' plan is reached once per join branch
        written = {
            e.id(): e.metrics().apply("shuffleBytesWritten").value() for e in exchanges
        }
    assert len(written) == 1, written
    assert 0 < sum(written.values()) <= 300_000, written
