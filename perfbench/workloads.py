"""The benchmark workloads: their inputs, operations and checks.

An ``Op`` is one call into a layer's public function plus the action that
forces its full result.  ``run`` returns a digest: for DataFrame results an
all-column, order-insensitive fingerprint (so Catalyst cannot prune any
projected column, as it would under ``count()``); for the crawler and the
pool, the aggregate itself.  ``checked_run`` is ``run`` for the first pass
of a run; it also returns an untimed check against an independent
reference (the operator's DuckDB oracle, or the generator's ground truth).
The digest it returns is the one every later repeat must reproduce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import gen

TPCH_SIZES = gen.TableSizes(sf=0.01, docs=500, embeddings=500)
CORPUS_SIZES = gen.TableSizes(sf=0.002, docs=1200, embeddings=800,
                              dup_share=0.1)
CRAWL_FILES = 400

_HASH_MOD = 2_147_483_647   # sum of <2^31 terms cannot overflow for 2^32 rows


def _hashable(col: str, dt: T.DataType):
    """xxhash64 rejects map types; hash their JSON form instead."""
    c = F.col(f"`{col}`")
    return F.to_json(c) if "map<" in dt.simpleString() else c


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of every column of ``df``.

    A ``pmod``-reduced sum: a plain ``sum(xxhash64(...))`` overflows
    under ANSI mode."""
    cols = [_hashable(f.name, f.dataType) for f in df.schema.fields]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))),
                   F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


Check = Callable[[], list[str]]


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[SparkSession, "Inputs"], Any]
    checked_run: Callable[[SparkSession, "Inputs"], tuple[Any, Check]]


@dataclass
class Inputs:
    """Paths of one generated input set plus what the checks need."""
    tables: str = ""
    crawl: str = ""
    truth: gen.CrawlTruth | None = None
    rows: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    why: str
    make: Callable[[str, int], Inputs]
    ops: list[Op]
    units: Callable[[Inputs], int]
    unit_name: str
    shuffle: bool = False   # run the ops in a seeded order each pass


# ---- query ops (operators.*) ---------------------------------------------

def query_op(name: str) -> Op:
    """An operator from the registry, checked against its DuckDB oracle."""
    from go_mapreduce_crawler_spark.operators import all_oracles, all_queries

    fn = all_queries()[name]
    sql = all_oracles()[name]

    def run(spark, inp):
        # Looked up per call, so an instrumented registry is honoured.
        return fingerprint(all_queries()[name](spark, inp.tables))

    def checked_run(spark, inp):
        df = all_queries()[name](spark, inp.tables)
        digest = fingerprint(df)       # compiles exactly the timed plan

        def check():
            # Re-reads the same DataFrame (a streaming replay is not run
            # again); the checked rows must carry the warm-up's digest.
            from tests.oracle_utils import compare_big, duck_connection

            df.persist()
            con = duck_connection(inp.tables)
            try:
                problems = compare_big(df, con, sql, name)
                if fingerprint(df) != digest:
                    problems.append(f"{name}: checked result's fingerprint "
                                    "differs from the warm-up's")
                return problems
            finally:
                con.close()
                df.unpersist()
        return digest, check

    layer = fn.__module__.replace("go_mapreduce_crawler_spark.", "", 1)
    return Op(name, layer, run, checked_run)


def _make_tables(sizes: gen.TableSizes):
    def make(root: str, seed: int) -> Inputs:
        d = os.path.join(root, "tables")
        return Inputs(tables=d, rows=gen.write_tables(d, seed, sizes))
    return make


# ---- crawl ops (sources, crawler, pool) ------------------------------------

def truth_op(name: str, layer: str, run, truth: Callable[[Inputs], Any]) -> Op:
    """An op whose digest is compared with a value computed in Python."""
    def checked_run(spark, inp):
        got = run(spark, inp)

        def check():
            want = truth(inp)
            return [] if got == want else [
                f"{name}: got {str(got)[:200]}, want {str(want)[:200]}"]
        return got, check

    return Op(name, layer, run, checked_run)


_SCHEMA = T.StructType([T.StructField("data", T.LongType())])


def _make_corpus(root: str, seed: int) -> Inputs:
    """The curation tables plus the JSON tree the crawl ops read."""
    inp = _make_tables(CORPUS_SIZES)(root, seed)
    inp.crawl = os.path.join(root, "tree")
    inp.truth = gen.write_crawl_tree(inp.crawl, seed, CRAWL_FILES)
    inp.rows["files"] = inp.truth.n_files
    return inp


def _cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


def _files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def _crawl(seam: bool):
    def run(spark, inp):
        from go_mapreduce_crawler_spark.crawler import CrawlConfig, Crawler
        from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem

        n = _cores(spark)
        res = Crawler(spark, CrawlConfig(search_workers=n, file_workers=n)
                      ).collect(inp.crawl, _SCHEMA,
                                filesystem=LocalFileSystem() if seam else None)
        return res.value.get("data_sum"), res.n_files, res.n_corrupt
    return run


def _crawl_truth(inp):
    t = inp.truth
    return t.data_sum, t.n_files, t.n_corrupt


def _list_files(spark, inp):
    from go_mapreduce_crawler_spark.sources.crawl import list_files
    return tuple(sorted(r.path.replace("file:", "", 1) for r in
                        list_files(spark, inp.crawl).collect()))


def _pool_accumulate(spark, inp):
    """Pool.transform with a Python callable (path -> depth below the
    root), folded by Pool.accumulate."""
    from go_mapreduce_crawler_spark.pool import Pool
    from go_mapreduce_crawler_spark.sources.crawl import list_files

    base = inp.crawl.rstrip("/").count("/")

    def depth(pdf):
        import pandas as pd
        paths = pdf["path"].str.replace(r"^file:/+", "/", regex=True)
        return pd.DataFrame({"path": paths,
                             "depth": paths.str.count("/") - base})

    pool = Pool(spark)
    depths = pool.transform(list_files(spark, inp.crawl), depth,
                            schema="path string, depth long")
    row = pool.accumulate(depths, F.sum("depth").alias("s"),
                          F.count(F.lit(1)).alias("n"),
                          workers=_cores(spark)).collect()[0]
    return int(row["s"]), int(row["n"])


def _true_depths(inp):
    base = inp.crawl.rstrip("/").count("/")
    files = _files(inp.crawl)
    return sum(p.count("/") - base for p in files), len(files)


# ---- the workloads ---------------------------------------------------------

TPCH_QUERIES = (
    "q1_pricing_summary", "window_tumbling_events", "asof_purchase_view",
    "join_salted_skew", "behavior_session_paths", "cdc_merge_apply",
    "stream_trending_topk_replay",
)

CORPUS_QUERIES = (
    "corpus_clean_pipeline", "text_repetition_gopher", "dedup_minhash_lsh",
    "knn_bruteforce_cosine", "quality_classifier_hashed",
)


def all_workloads() -> dict[str, Workload]:
    ws = [
        Workload(
            "corpus_curation",
            "ingest and curation: the reference's crawl of a tree of tiny "
            "JSON files, bound by per-file listing and open, then the "
            "LLM-data pipeline, bound by executor CPU in text, dedup and "
            "similarity kernels",
            _make_corpus,
            [truth_op("sources_list_files", "sources", _list_files,
                      lambda inp: tuple(sorted(_files(inp.crawl)))),
             truth_op("crawl_native", "crawler", _crawl(False), _crawl_truth),
             truth_op("crawl_fs_seam", "crawler", _crawl(True), _crawl_truth),
             truth_op("pool_accumulate", "pool", _pool_accumulate,
                      _true_depths)]
            + [query_op(n) for n in CORPUS_QUERIES],
            lambda inp: inp.rows["documents"] + inp.rows["files"],
            "docs + files"),
        Workload(
            "tpch_interactive",
            "short relational, window, as-of and sessionize queries bound "
            "by planning and per-action scheduling",
            _make_tables(TPCH_SIZES),
            [query_op(n) for n in TPCH_QUERIES],
            lambda inp: inp.rows["lineitem"] + inp.rows["events"],
            "fact rows", shuffle=True),
    ]
    return {w.name: w for w in ws}
