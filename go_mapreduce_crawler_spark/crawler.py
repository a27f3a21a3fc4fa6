"""Crawler — parity with the reference's only entry point,
``Crawler[T, R].Collect`` (reference internal/filecrawler/crawler.go:204-255).

Semantics reproduced (SURVEY.md §2.1 op 6, §2.2 error-handling row):

* Recursively enumerate all files under ``root`` (List + Searcher).
* JSON-decode each file into a record of caller-declared schema
  (Transform; crawler.go:158-201).  Both read paths — Spark's connectors
  and the pluggable FileSystem seam — produce the same ``(_file,
  content)`` frame, one row per file, and ONE decoder (``_decode``) turns
  it into records: ``from_json`` in PERMISSIVE mode, the Spark analogue of
  one ``json.Decoder.Decode`` per file.  Like Go, it decodes the first
  JSON value of the file (a pretty-printed object is one record, trailing
  objects are ignored); a body that is not an object, or a field of the
  wrong type (string or bool or ``1.5`` in an integer field), fails the
  whole file.  Unknown fields are dropped, missing fields -> zero values.
* A malformed / unreadable file contributes the **neutral element** (Go
  zero value) and the pipeline continues (crawler.go:173-199).  The
  reference's error matrix (crawler_test.go:395-455) distinguishes five
  failure kinds — open-panic, open-error, read-error, readdir-panic,
  readdir-error — all with the same contract: neutral element + recorded
  error + pipeline continues.  Spark-side mapping: decode failures ride
  the PERMISSIVE ``_corrupt_record`` channel; files the native scan
  cannot read are skipped by it (``ignoreCorruptFiles``) and restored as
  neutral elements by left-joining the listing onto the decoded rows;
  seam ``open`` failures arrive as null content (see ``collect``).
* Fold records into partial aggregates, combine partials into one final
  result (Accumulate + Combine; monoid contract crawler.go:31, 41-43) —
  Spark's partial+final HashAggregate implements exactly this contract.
* Return the final aggregate **alongside** one recorded error if any file
  failed (``(R, error)`` return, crawler.go:253).  The reference's
  "first" error is a race (sync.Once, crawler.go:131), so the faithful
  contract is "any one error", which we satisfy deterministically with
  the lexicographically-first corrupt file path.

Known differences from Go's decoder:

* Spark's file scan skips zero-length files, so the native path does not
  count them; the seam path counts each one as a corrupt file (Go fails
  to decode an empty stream).
* A JSON ``null`` body is flagged corrupt; Go decodes it to the zero
  value with no error.

Scale design: the native crawl is ONE Spark job — distributed listing,
pipelined scan+decode+partial-agg in each task, one shuffle to the final
agg.  Nothing is materialized on the driver except the final row, so the
same code handles 3 files or 3 billion.  The seam path lists on the
driver (only paths) and reads in executor tasks.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.pyfs import FileSystem, read_files, walk

_CORRUPT = "_corrupt_record"


def _norm_path(col: Column) -> Column:
    """Canonical local form of a file URI.

    ``binaryFile`` listing yields ``file:/p``, ``input_file_name()``
    yields ``file:///p`` — normalize both so the unreadable-file
    anti-join keys match."""
    return F.regexp_replace(col, "^file:/+", "/")


@dataclass
class CrawlConfig:
    """Parity with reference Configuration (crawler.go:17-21).

    The native path reads and decodes one task per input split, so the
    two worker counts only shape the FileSystem-seam path:
    ``search_workers`` threads list each BFS level of the seam walk, and
    ``file_workers`` partitions read the listed files.
    ``accumulator_workers`` bounds partial-aggregation parallelism on
    both paths via an explicit repartition (only applied when the caller
    asks — Spark's default task-per-split is usually the right answer).
    """
    search_workers: int = 32
    file_workers: int = 32
    accumulator_workers: int | None = None


@dataclass
class CrawlResult:
    """The reference returns (R, error); both sides, never exception-only."""
    value: dict[str, Any]
    n_files: int = 0
    n_corrupt: int = 0
    n_dir_errors: int = 0
    error: str | None = None


_ZEROS = {
    T.LongType(): 0, T.IntegerType(): 0, T.ShortType(): 0, T.ByteType(): 0,
    T.DoubleType(): 0.0, T.FloatType(): 0.0,
    T.StringType(): "", T.BooleanType(): False,
}


def zero_value(dt: T.DataType) -> Any:
    """Go zero value for a field type (crawler.go:179 `def T` semantics)."""
    return _ZEROS.get(dt)


def _decode(frame: DataFrame, schema: T.StructType) -> DataFrame:
    """``(_file, content)`` -> one record row per file + ``_is_corrupt``.

    One ``from_json`` per file, the analogue of the reference's one
    ``json.Decoder.Decode`` per file (crawler.go:189-199).  Null content
    (an unreadable file), a body that decodes to no object, and a set
    corrupt-record column all mark the file corrupt, and then every field
    is null: Go discards the whole value on a decode error, even the
    fields it had already filled.  ``collect`` turns nulls into zero
    values.
    """
    rec = F.from_json(
        "content",
        T.StructType(list(schema.fields)
                     + [T.StructField(_CORRUPT, T.StringType(), True)]),
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT})
    parsed = frame.select("_file", rec.alias("_rec"))
    corrupt = F.col("_rec").isNull() | F.col("_rec")[_CORRUPT].isNotNull()
    return parsed.select(
        *[F.when(~corrupt, F.col("_rec")[f_.name]).alias(f_.name)
          for f_ in schema.fields],
        corrupt.alias("_is_corrupt"),
        "_file",
    )


class Crawler:
    """Compose List -> Transform -> Accumulate -> Combine over a JSON tree."""

    def __init__(self, spark: SparkSession, config: CrawlConfig | None = None):
        self.spark = spark
        self.config = config or CrawlConfig()

    def read_records(self, root: str) -> DataFrame:
        """Native read: every file under root -> one ``(_file, content)``
        row, the whole file as one string (the reference's
        one-JSON-object-per-file model, crawler.go:189-199).

        ``wholetext`` is passed to ``text()`` itself, which would
        otherwise reset it to false.  Files the scan cannot read (the
        reference's open-error / read-error kinds, crawler.go:173-199:
        truncated gzip, permission denial, file vanished after listing)
        are dropped from this frame instead of failing the job;
        ``collect`` restores each as a neutral element by diffing the
        listing.
        """
        return (
            self.spark.read
            .option("recursiveFileLookup", "true")
            .option("ignoreCorruptFiles", "true")
            .option("ignoreMissingFiles", "true")
            .text(root, wholetext=True)
            .select(_norm_path(F.input_file_name()).alias("_file"),
                    F.col("value").alias("content"))
        )

    def _read_fs(self, files: list[str], filesystem: FileSystem) -> DataFrame:
        """Seam read: one ``(_file, content)`` row per listed file, opened
        through ``filesystem`` in ``file_workers`` tasks (the reference
        hands the FileSystem to each worker goroutine).  A raising
        ``open`` gives null content, which ``_decode`` marks corrupt."""
        def kernel(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    [(p, content) for p, content, _
                     in read_files(filesystem, pdf["_file"])],
                    columns=["_file", "content"])

        paths = self.spark.createDataFrame([(p,) for p in files],
                                           "_file string")
        n_parts = max(1, min(self.config.file_workers, len(files)))
        return (paths.repartition(n_parts)
                .mapInPandas(kernel, "_file string, content binary")
                .withColumn("content", F.col("content").cast("string")))

    def collect(
        self,
        root: str,
        schema: T.StructType,
        agg_exprs: dict[str, Column] | None = None,
        filesystem: FileSystem | None = None,
    ) -> CrawlResult:
        """The flagship pipeline (reference crawler.go:204-255).

        ``agg_exprs``: result-field -> aggregate Column over the record
        fields (defaults to sum of every numeric field — the app.go:54
        golden).  The record scan runs as one job: scan+decode+partial-agg
        per task, single final-agg after the shuffle, plus corrupt-file
        accounting folded into the same pass.

        Unreadable files (reference open-error/read-error kinds): the
        scan skips them (``ignoreCorruptFiles``), and a metadata-only
        listing left-joined onto the decoded rows restores each as a
        neutral-element row with a recorded error — the reference
        contract for all five failure kinds (crawler_test.go:395-455).
        Decoding happens before the join, so it shuffles only file PATHS
        and scalar fields (never payloads): at a million files it moves
        megabytes.

        ``filesystem``: route listing + reading through a pluggable
        FileSystem instead of Spark's connectors — the reference's
        fs.FileSystem seam.  The listing is ``pyfs.walk`` on the driver
        (readdir failures are recorded and the crawl continues); the
        reads run in executor tasks and are decoded by the same
        ``_decode`` as the native path.
        """
        dir_errors: list[tuple[str, str]] = []
        if filesystem is None:
            # Files the scan could not read at all (vs decode failures,
            # which arrive as _corrupt_record rows): one LEFT join from
            # the metadata-only listing onto the decoded rows, so the
            # JSON corpus is planned exactly once.  Unmatched listed
            # files get null fields and _is_corrupt, i.e. the neutral
            # element below.  BOTH join sides use input_file_name() so
            # the keys carry the same URI encoding (binaryFile's `path`
            # column does NOT percent-encode, input_file_name does — a
            # file with a space would otherwise be counted scanned AND
            # unreadable).
            listed = (self.spark.read.format("binaryFile")
                      .option("recursiveFileLookup", "true").load(root)
                      .select(_norm_path(F.input_file_name()).alias("_file")))
            records = listed.join(_decode(self.read_records(root), schema),
                                  "_file", "left")
        else:
            files, dir_errors = walk(filesystem, root,
                                     workers=self.config.search_workers)
            records = _decode(self._read_fs(files, filesystem), schema)

        # Neutral-element semantics: null (corrupt, unread or missing
        # field) -> zero value.
        clean = records.select(
            *[F.coalesce(F.col(f_.name),
                         F.lit(zero_value(f_.dataType)).cast(f_.dataType))
              .alias(f_.name) for f_ in schema.fields],
            F.coalesce(F.col("_is_corrupt"), F.lit(True)).alias("_is_corrupt"),
            "_file",
        )

        if self.config.accumulator_workers:
            clean = clean.repartition(self.config.accumulator_workers)

        if agg_exprs is None:
            agg_exprs = {
                f_.name + "_sum": F.sum(f_.name)
                for f_ in schema.fields
                if isinstance(f_.dataType, T.NumericType)
            }

        aggs = [c.alias(n) for n, c in agg_exprs.items()] + [
            F.count(F.lit(1)).alias("_n_files"),
            F.sum(F.when(F.col("_is_corrupt"), 1).otherwise(0)).alias("_n_corrupt"),
            F.min(F.when(F.col("_is_corrupt"), F.col("_file"))).alias("_err_file"),
        ]
        row = clean.agg(*aggs).collect()[0].asDict()

        n_files = row.pop("_n_files") or 0
        n_corrupt = row.pop("_n_corrupt") or 0
        err_file = row.pop("_err_file")
        # The reference records "any one" error (its first-error is a
        # sync.Once race, crawler.go:131); ours is the deterministic
        # lexicographic first across file and readdir failures.
        error = f"corrupt or unreadable file: {err_file}" if n_corrupt else None
        if dir_errors and (err_file is None or dir_errors[0][0] < err_file):
            error = f"readdir error: {dir_errors[0][1]}"
        # Zero-file tree => neutral-element result, like the reference's
        # zero-initialized finalResult (crawler.go:231).
        for k, v in list(row.items()):
            if v is None:
                row[k] = 0
        return CrawlResult(value=row, n_files=n_files,
                           n_corrupt=n_corrupt,
                           n_dir_errors=len(dir_errors), error=error)
