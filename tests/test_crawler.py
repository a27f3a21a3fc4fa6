"""Crawler/Pool parity tests — the reference's own test strategy
(SURVEY.md §5) translated: golden tree sum=300 (app.go:54), D×F grid
sum=D*F (crawler_test.go:64-107), error-injection matrix
(crawler_test.go:395-455), BFS listing, standalone Transform/Accumulate
(pool_test.go), zero-file tree -> neutral element."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_mapreduce_crawler_spark.crawler import Crawler, CrawlConfig
from go_mapreduce_crawler_spark.pool import Pool
from go_mapreduce_crawler_spark.sources.crawl import list_files
from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem, walk

SCHEMA = T.StructType([T.StructField("data", T.LongType())])


def _write(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        if isinstance(obj, str):
            f.write(obj)
        else:
            json.dump(obj, f)


@pytest.fixture()
def golden_tree(tmp_path):
    """The committed golden layout: tests/{1,2/inner,3/inner1/inner2}."""
    root = str(tmp_path / "golden")
    _write(f"{root}/1/1.json", {"data": 100})
    _write(f"{root}/2/inner/2.json", {"data": 100})
    _write(f"{root}/3/inner1/inner2/3.json", {"data": 100})
    return root


@pytest.fixture()
def grid_tree(tmp_path):
    root = str(tmp_path / "grid")
    for d in range(10):
        for f_ in range(10):
            _write(f"{root}/dir{d}/f{f_}.json", {"data": 1})
    return root


def test_golden_sum_300(spark, golden_tree):
    res = Crawler(spark).collect(golden_tree, SCHEMA)
    assert res.value == {"data_sum": 300}
    assert res.n_files == 3
    assert res.error is None


def test_grid_sum(spark, grid_tree):
    res = Crawler(spark).collect(grid_tree, SCHEMA)
    assert res.value == {"data_sum": 100}
    assert res.n_files == 100


def test_custom_agg(spark, grid_tree):
    res = Crawler(spark).collect(
        grid_tree, SCHEMA,
        {"n": F.count(F.lit(1)), "mx": F.max("data")})
    assert res.value == {"n": 100, "mx": 1}


def test_corrupt_file_contributes_neutral_element(spark, golden_tree):
    """crawler.go:173-199: bad record -> zero value, pipeline continues,
    error is reported alongside the (partial) result."""
    _write(f"{golden_tree}/bad/bad.json", "{not valid json!!")
    res = Crawler(spark).collect(golden_tree, SCHEMA)
    assert res.value == {"data_sum": 300}
    assert res.n_files == 4
    assert res.n_corrupt == 1
    assert res.error is not None and "bad.json" in res.error


def test_missing_field_is_zero(spark, tmp_path):
    """encoding/json semantics: missing field -> zero value."""
    root = str(tmp_path / "m")
    _write(f"{root}/a.json", {"data": 5})
    _write(f"{root}/b.json", {"other": 7})
    res = Crawler(spark).collect(root, SCHEMA)
    assert res.value == {"data_sum": 5}
    assert res.n_files == 2
    # a value-less (but valid) record is not an error in the reference
    assert res.n_corrupt == 0


def test_empty_tree_neutral_result(spark, tmp_path):
    """Zero files -> zero-value result (crawler.go:231 zero-init)."""
    root = str(tmp_path / "empty")
    os.makedirs(f"{root}/a/b")
    res = Crawler(spark).collect(root, SCHEMA)
    assert res.value == {"data_sum": 0}
    assert res.n_files == 0


def test_accumulator_workers_config(spark, grid_tree):
    res = Crawler(spark, CrawlConfig(accumulator_workers=4)).collect(
        grid_tree, SCHEMA)
    assert res.value == {"data_sum": 100}


def test_walk_levels_workers_and_readdir_errors(grid_tree):
    """pyfs.walk, the seam's level-synchronous BFS (pool.go:168-196):
    the thread count per level changes nothing in the sorted result, and
    a raising read_dir is recorded while only its subtree is skipped."""
    one = walk(LocalFileSystem(), grid_tree, workers=1)
    four = walk(LocalFileSystem(), grid_tree, workers=4)
    assert one == four
    files, errors = four
    assert len(files) == 100 and files == sorted(files) and errors == []

    files, errors = walk(_faulty_fs(dir_fail=("/dir3",)), grid_tree, workers=4)
    assert len(files) == 90
    assert not any("/dir3/" in f for f in files)
    assert [d for d, _ in errors] == [f"{grid_tree}/dir3"]
    assert "injected ReadDir error" in errors[0][1]


# One file per case -> Go json.Decoder.Decode into
# struct{Data int64; Flag bool} (crawler.go:189-199), whose error makes the
# crawler keep the zero value: (data_sum, n_files, n_corrupt).
_DECODE_SCHEMA = T.StructType([T.StructField("data", T.LongType()),
                               T.StructField("flag", T.BooleanType())])
_DECODE_CASES = {
    "pretty_object": ('{\n  "data": 7\n}\n', (7, 1, 0)),
    "two_objects": ('{"data": 1}\n{"data": 2}\n', (1, 1, 0)),
    "top_level_array": ('[{"data": 1}, {"data": 2}]', (0, 1, 1)),
    "scalar": ("5", (0, 1, 1)),
    "string_in_long": ('{"data": "7"}', (0, 1, 1)),
    "true_in_long": ('{"data": true}', (0, 1, 1)),
    "float_in_long": ('{"data": 1.5}', (0, 1, 1)),
    "good_field_then_bad": ('{"data": 3, "flag": 1}', (0, 1, 1)),
}


@pytest.mark.parametrize("case", sorted(_DECODE_CASES))
def test_native_and_seam_decode_alike(spark, tmp_path, case):
    """Both Crawler paths decode a file the way Go's json.Decoder does:
    the first JSON value, which must be an object whose fields have the
    declared types — anything else fails the whole file, including the
    fields that did decode."""
    body, want = _DECODE_CASES[case]
    root = str(tmp_path / case)
    _write(f"{root}/f.json", body)
    got = []
    for fs in (None, LocalFileSystem()):
        res = Crawler(spark).collect(root, _DECODE_SCHEMA, filesystem=fs)
        got.append((res.value["data_sum"], res.n_files, res.n_corrupt))
    assert got == [want, want]


def test_list_files_spark_native(spark, golden_tree):
    df = list_files(spark, golden_tree, glob="*.json")
    assert df.count() == 3


def test_pool_list_bfs_levels(spark):
    """pool_test.go:93-115: 1 root + children expansion."""
    def searcher(x):
        return [x * 10 + i for i in range(1, 3)] if x < 100 else []
    pool = Pool(spark)
    out = pool.list(1, searcher, workers=4)
    assert 1 in out and 12 in out and 121 in out
    assert len(out) == 1 + 2 + 4  # levels: 1 | 11,12 | 111,112,121,122


def test_pool_transform_columns(spark):
    """pool_test.go:300-315: transform increments each element."""
    pool = Pool(spark)
    df = spark.range(10).toDF("x")
    out = pool.transform(df, [ (F.col("x") + 1).alias("y") ])
    assert sorted(r.y for r in out.collect()) == list(range(1, 11))


def test_pool_transform_pandas(spark):
    pool = Pool(spark)
    df = spark.range(10).toDF("x")
    out = pool.transform(df, lambda pdf: pdf.assign(y=pdf.x + 1), schema="x long, y long")
    assert sorted(r.y for r in out.collect()) == list(range(1, 11))


def test_pool_accumulate_sum(spark):
    """pool_test.go:206-226: sum preserved across partials."""
    pool = Pool(spark)
    df = spark.range(1, 11).toDF("x")
    row = pool.accumulate(df, F.sum("x").alias("s")).collect()[0]
    assert row.s == 55


def test_cancellation_job_group(spark):
    """Cancellation parity (crawler_test.go:24-58: mid-walk timeout
    surfaces as the context error): a canceled job group interrupts the
    running action, which raises; the session stays usable after."""
    import time
    from py4j.protocol import Py4JJavaError

    from go_mapreduce_crawler_spark.cancel import cancel_after, job_group

    slow = (spark.range(0, 1 << 36, 1, 8)
            .selectExpr("avg(xxhash64(id)) s"))  # minutes of work if not canceled
    t0 = time.monotonic()
    with pytest.raises(Py4JJavaError) as err, \
            job_group(spark, "cancel-test") as gid:
        cancel_after(spark, gid, 2.0)
        slow.collect()
    assert "cancel" in str(err.value).lower()
    assert time.monotonic() - t0 < 60
    # clean drain: the session still runs jobs afterwards
    assert spark.range(10).count() == 10


def test_pool_partials_at_most_one_per_partition(spark):
    """pool_test.go:55-73 collectRestricted: <= W partials for W workers."""
    pool = Pool(spark)
    df = spark.range(1, 101).toDF("x").repartition(5)
    partials = pool.partials(
        df, {"s": 0},
        lambda acc, pdf: {"s": acc["s"] + int(pdf.x.sum())},
        schema="s long")
    rows = partials.collect()
    assert len(rows) <= 5
    assert sum(r.s for r in rows) == 5050


def test_unreadable_file_contributes_neutral_element(spark, golden_tree):
    """Reference error matrix (crawler_test.go:395-455) open-error /
    read-error kinds: a file the scan cannot READ at all (here: a
    truncated gzip the codec chokes on mid-stream, vs a decode failure
    the PERMISSIVE parser catches) must still contribute the neutral
    element and a recorded error while the pipeline continues — not fail
    the job."""
    os.makedirs(f"{golden_tree}/io", exist_ok=True)
    with open(f"{golden_tree}/io/broken.json.gz", "wb") as f:
        f.write(b"\x1f\x8b\x08 this is not a valid gzip stream")
    res = Crawler(spark).collect(golden_tree, SCHEMA)
    assert res.value == {"data_sum": 300}
    assert res.n_files == 4
    assert res.n_corrupt == 1
    assert res.error is not None and "broken.json.gz" in res.error


def test_unreadable_and_corrupt_files_both_counted(spark, golden_tree):
    """Both failure channels at once — decode failure (PERMISSIVE
    _corrupt_record) and read failure (scan skip + listing diff) — each
    contributes the neutral element; the recorded error is the
    deterministic lexicographic first."""
    _write(f"{golden_tree}/bad/bad.json", "{not valid json!!")
    os.makedirs(f"{golden_tree}/io", exist_ok=True)
    with open(f"{golden_tree}/io/broken.json.gz", "wb") as f:
        f.write(b"\x1f\x8b\x08 this is not a valid gzip stream")
    res = Crawler(spark).collect(golden_tree, SCHEMA)
    assert res.value == {"data_sum": 300}
    assert res.n_files == 5
    assert res.n_corrupt == 2
    assert res.error is not None


def test_transform_recovers_per_record(spark):
    """pool.go:225-243 + crawler.go:164-171: a transformer that panics on
    one record must yield the default (zero value) for THAT record only —
    every healthy record still transforms, the task does not fail."""
    import pandas as pd

    df = spark.range(0, 8, 1, 2).toDF("x")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["x"] == 5).any():
            raise RuntimeError("poison record")
        return pd.DataFrame({"y": pdf["x"] * 10})

    out = Pool(spark).transform(df, kernel, schema="y long",
                                default={"y": -1})
    got = sorted(r.y for r in out.collect())
    assert got == [-1, 0, 10, 20, 30, 40, 60, 70]


def test_transform_without_default_fails_fast(spark):
    """Left default=None, a raising kernel is a task failure (fail-fast),
    not silent data loss."""
    import pandas as pd

    df = spark.range(0, 4).toDF("x")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        raise RuntimeError("boom")

    with pytest.raises(Exception):
        Pool(spark).transform(df, kernel, schema="y long").collect()


# ---- Pluggable FileSystem seam (reference internal/fs/filesystem.go) ----

def _faulty_fs(open_fail=(), open_panic=(), dir_fail=(), dir_panic=()):
    """Fault-injecting FileSystem — the Spark analogue of the reference's
    gomock FileSystem (crawler_test.go:395-455 runWithErrors).  The class
    is defined in function scope so cloudpickle serializes it BY VALUE
    (a module-level test class pickles by reference to the test module,
    which executor workers cannot import)."""
    from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem

    class FaultyFS:
        def __init__(self):
            self._fs = LocalFileSystem()

        def read_dir(self, path):
            if any(path.endswith(p) for p in dir_fail):
                raise OSError(f"injected ReadDir error: {path}")
            if any(path.endswith(p) for p in dir_panic):
                raise RuntimeError(f"injected ReadDir panic: {path}")
            return self._fs.read_dir(path)

        def open(self, path):
            if any(path.endswith(p) for p in open_fail):
                raise OSError(f"injected Open error: {path}")
            if any(path.endswith(p) for p in open_panic):
                raise RuntimeError(f"injected Open panic: {path}")
            return self._fs.open(path)

        def join(self, *parts):
            return self._fs.join(*parts)

    return FaultyFS()


def test_fs_seam_golden_sum(spark, golden_tree):
    """The pluggable-FS path computes the same golden result as the
    Spark-native path (fs.FileSystem parity, filesystem.go:19-41)."""
    from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem

    res = Crawler(spark).collect(golden_tree, SCHEMA,
                                 filesystem=LocalFileSystem())
    assert res.value == {"data_sum": 300}
    assert res.n_files == 3
    assert res.error is None


def test_fs_seam_error_matrix(spark, golden_tree):
    """The reference's five error kinds (crawler_test.go:395-455), each
    injected through the FileSystem seam: open-error, open-panic,
    read-error -> that FILE contributes the zero value; readdir-error,
    readdir-panic -> that SUBTREE is skipped with a recorded error.  In
    every case the pipeline continues and returns (result, error)."""
    # file-level faults: 1/1.json fails, other two files still sum
    for kind in ("open_fail", "open_panic"):
        fs = _faulty_fs(**{kind: ("1/1.json",)})
        res = Crawler(spark).collect(golden_tree, SCHEMA, filesystem=fs)
        assert res.value == {"data_sum": 200}, kind
        assert res.n_files == 3 and res.n_corrupt == 1, kind
        assert res.error is not None and "1.json" in res.error, kind

    # dir-level faults: subtree under 3/ unreachable, crawl continues
    for kind in ("dir_fail", "dir_panic"):
        fs = _faulty_fs(**{kind: ("/3",)})
        res = Crawler(spark).collect(golden_tree, SCHEMA, filesystem=fs)
        assert res.value == {"data_sum": 200}, kind
        assert res.n_files == 2 and res.n_dir_errors == 1, kind
        assert res.error is not None and "readdir" in res.error.lower(), kind


def test_fs_seam_corrupt_json_still_neutral(spark, golden_tree):
    """Decode failure through the seam (json.Decode error kind,
    crawler.go:189-199): zero value + recorded error, like the native
    path."""
    from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem

    _write(f"{golden_tree}/bad/bad.json", "{not valid json!!")
    _write(f"{golden_tree}/bad/wrongtype.json", {"data": "a string"})
    res = Crawler(spark).collect(golden_tree, SCHEMA,
                                 filesystem=LocalFileSystem())
    assert res.value == {"data_sum": 300}
    assert res.n_files == 5
    assert res.n_corrupt == 2
    assert res.error is not None


# ---- Python Data Source: spark.read.format("crawl") ----

def test_crawl_datasource_reads_tree(spark, golden_tree):
    """The declarative face of the crawl (Spark 4 Python Data Source):
    format("crawl") lists through the FS seam and yields one row per
    file; from_json/get_json_object on top reproduces the golden sum —
    the whole reference pipeline as a declarative plan."""
    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource

    spark.dataSource.register(CrawlDataSource)
    df = (spark.read.format("crawl")
          .option("path", golden_tree)
          .option("files_per_task", "2")
          .load())
    assert df.columns == ["path", "content", "error"]
    rows = df.collect()
    assert len(rows) == 3 and all(r.error is None for r in rows)
    total = (df.select(F.get_json_object(F.col("content").cast("string"),
                                         "$.data").cast("long").alias("v"))
             .agg(F.sum("v")).collect()[0][0])
    assert total == 300


def test_crawl_datasource_error_rows(spark, golden_tree):
    """Fault injection through the make_fs subclass hook (the reference's
    mock-FS harness shape): open failures yield (path, null content,
    error) ROWS — the scan completes, errors are data."""
    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource

    fs = _faulty_fs(open_fail=("1/1.json",), dir_fail=("/3",))

    class ChaosCrawlSource(CrawlDataSource):
        @classmethod
        def name(cls):
            return "crawl_chaos"

        def make_fs(self):
            return fs

    spark.dataSource.register(ChaosCrawlSource)
    df = spark.read.format("crawl_chaos").option("path", golden_tree).load()
    rows = {r.path: r for r in df.collect()}
    errs = [r for r in rows.values() if r.error is not None]
    # 1/1.json -> open-error row; dir 3 -> readdir-error row (its
    # subtree is unreachable, so 3.json yields no row); 2.json reads fine
    assert len(rows) == 3 and len(errs) == 2
    assert any("open error" in r.error for r in errs)
    assert any("readdir error" in r.error for r in errs)
    good = [r for r in rows.values() if r.error is None]
    assert all(r.content is not None for r in good) and len(good) == 1


def test_crawl_datasource_pushes_path_filters_into_listing(spark, golden_tree, tmp_path):
    """col('path').startswith(...) must prune whole directory subtrees
    BEFORE any readdir (the custom-source analogue of partition
    pruning), and endswith must drop files at the listing.  Observed via
    a filesystem that logs every read_dir to a file (the listing runs in
    the driver-side data source worker, which shares the local disk)."""
    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource
    from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem

    log = str(tmp_path / "readdir.log")

    class LoggingFS(LocalFileSystem):
        def read_dir(self, path):
            with open(log, "a") as fh:
                fh.write(path + "\n")
            return super().read_dir(path)

    fs = LoggingFS()

    class LoggingCrawlSource(CrawlDataSource):
        @classmethod
        def name(cls):
            return "crawl_logged"

        def make_fs(self):
            return fs

    spark.dataSource.register(LoggingCrawlSource)
    df = (spark.read.format("crawl_logged").option("path", golden_tree)
          .option("pushdown", "true").load()
          .filter(F.col("path").startswith(f"{golden_tree}/1"))
          .filter(F.col("path").endswith(".json")))
    rows = df.collect()
    assert [r.path for r in rows] == [f"{golden_tree}/1/1.json"]
    visited = set(open(log).read().split())
    assert f"{golden_tree}/1" in visited
    # subtrees 2/ and 3/ pruned before a single readdir
    assert f"{golden_tree}/2" not in visited
    assert f"{golden_tree}/3" not in visited
    # and the pushed filters leave no residual StartsWith/EndsWith in the
    # plan (only the implied isnotnull survives, which we don't consume)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" not in plan and "EndsWith" not in plan, plan[:800]


def test_special_char_filenames_not_miscounted(spark, tmp_path):
    """A readable file whose name needs URI encoding (space) must count
    once, clean — input_file_name() percent-encodes while binaryFile's
    path column does not, and a key mismatch in the unreadable-file
    anti-join would double-count it as scanned AND unreadable."""
    root = str(tmp_path / "enc")
    _write(f"{root}/a b.json", {"data": 5})
    _write(f"{root}/plain.json", {"data": 7})
    res = Crawler(spark).collect(root, SCHEMA)
    assert res.value == {"data_sum": 12}
    assert res.n_files == 2
    assert res.n_corrupt == 0
    assert res.error is None
