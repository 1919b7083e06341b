"""One object per connector backend — the CLI's only dispatch on the
config's ``backend:`` string (``BACKENDS`` below).

Each backend answers the four questions the pipeline asks of either end:

- ``check()``    — S11 pre-flight before any Spark job is planned;
- ``read()``     — the source scan (the REST backend pushes a dated span
  into the scroll query, S3 parity, es_common.py:303-330);
- ``done_ids()`` — the J1 resume read-back (reference
  skip-processed-doc-check, config.yml:68 / annotations_indexer.py:309-324):
  distinct already-written doc ids, ``None`` on a first run. The anti-join
  broadcasts when small, shuffles both sides otherwise — never a
  driver-side id list;
- ``write()``    — the W1-W4 sink modes; the stream's ``foreachBatch``
  calls the same method per micro-batch.
"""

from __future__ import annotations

import urllib.error

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotations_ingester_spark.config import ConnectorConfig
from annotations_ingester_spark.functions.names import format_index_name
from annotations_ingester_spark.sinks.writers import (
    _is_path_missing,
    write_flat,
    write_nested,
    write_partitioned,
)
from annotations_ingester_spark.sources.elasticsearch import read_es, write_es
from annotations_ingester_spark.sources.es_rest import (
    EsRestClient,
    infer_es_rest_schema,
    read_es_rest,
    write_es_rest,
)

SPLIT_COL = "index_suffix"  # the W2 partition column flat plans append


def _done_col(names, docid_field: str) -> str | None:
    """Flat sinks carry the doc id as ``meta.<docid>``; the W4 nested sink
    keeps the bare docid groupBy key."""
    return next((c for c in (f"meta.{docid_field}", docid_field) if c in names), None)


def _distinct_ids(written: DataFrame, docid_field: str) -> DataFrame | None:
    col = _done_col(written.columns, docid_field)
    if col is None:
        return None
    return written.select(F.col(f"`{col}`").alias(docid_field)).distinct()


class Backend:
    """What the three backends share: the connector config, a no-op
    pre-flight, and the stream checkpoint placement for ES sinks."""

    def __init__(self, conf: ConnectorConfig) -> None:
        self.conf = conf

    def check(self) -> None:
        pass

    def stream_checkpoint(self, source_path: str) -> str:
        """ES sinks have no filesystem path: anchor the stream checkpoint
        beside the (file-based) SOURCE, tagged with the normalized index
        name so two streams into different indices never share offsets."""
        return f"{source_path.rstrip('/')}_ckpt_{format_index_name(self.conf.index_name)}"


class ParquetBackend(Backend):
    """The hermetic backend: ``index_name`` is a parquet path."""

    def read(self, spark: SparkSession, date_field: str, start: str, end: str) -> DataFrame:
        return spark.read.parquet(self.conf.index_name)

    def done_ids(self, spark: SparkSession, docid_field: str) -> DataFrame | None:
        try:
            written = spark.read.parquet(self.conf.index_name)
        except AnalysisException as exc:
            # ONLY sink-never-written counts as first run; a corrupt or
            # unreadable sink must propagate — treating it as first-run
            # would reprocess and append the whole corpus again
            if _is_path_missing(exc):
                return None
            raise
        return _distinct_ids(written, docid_field)

    def write(
        self, df: DataFrame, *, split: bool = False, upsert: bool = False, nested: bool = False
    ) -> None:
        if nested:
            write_nested(df, self.conf.index_name)
        elif split:
            write_partitioned(df, self.conf.index_name, SPLIT_COL)
        else:
            write_flat(df, self.conf.index_name)

    def stream_checkpoint(self, source_path: str) -> str:
        return self.conf.index_name.rstrip("/") + "_ckpt"


class EsConnectorBackend(Backend):
    """The ``org.elasticsearch.spark.sql`` connector jar (sources/elasticsearch.py)."""

    def read(self, spark: SparkSession, date_field: str, start: str, end: str) -> DataFrame:
        return read_es(spark, self.conf)

    def done_ids(self, spark: SparkSession, docid_field: str) -> DataFrame | None:
        try:
            written = read_es(spark, self.conf)
        except Exception as exc:
            if "index_not_found" in str(exc):
                return None
            raise
        return _distinct_ids(written, docid_field)

    def write(
        self, df: DataFrame, *, split: bool = False, upsert: bool = False, nested: bool = False
    ) -> None:
        if nested:  # W4 doc-keyed painless upsert (annotations_indexer.py:148-200)
            write_es(df, self.conf, mapping_id="ann_doc_id", scripted_upsert=True)
        else:
            write_es(df, self.conf, split_suffix_field=SPLIT_COL if split else None, upsert=upsert)


class EsRestBackend(Backend):
    """The jar-free stdlib REST fallback (sources/es_rest.py)."""

    def check(self) -> None:
        # the official client's version handshake: fails fast on an
        # unreachable, pre-7.x, or lookalike server
        EsRestClient(self.conf).verify_compat()

    def read(self, spark: SparkSession, date_field: str, start: str, end: str) -> DataFrame:
        # sliced-scroll parallel read, schema from a bounded sample (ES
        # dynamic-mapping parity); out-of-span docs never leave the cluster
        query = None
        if start and end:
            query = EsRestClient(self.conf).range_query(date_field, start, end)
        return read_es_rest(spark, self.conf, infer_es_rest_schema(spark, self.conf), query=query)

    def done_ids(self, spark: SparkSession, docid_field: str) -> DataFrame | None:
        # only the id column is needed: a 1-doc sample picks its name and
        # type, then a narrow sliced scroll fetches just that field (the
        # annotation rows' map-typed fields never round-trip here)
        try:
            sample = EsRestClient(self.conf).search_page(size=1)
        except urllib.error.HTTPError as exc:
            if exc.code == 404:  # a real ES answers an absent index with 404
                return None
            raise
        col = _done_col(sample[0], docid_field) if sample else None
        if col is None:
            return None
        typ = T.LongType() if isinstance(sample[0][col], int) else T.StringType()
        written = read_es_rest(spark, self.conf, T.StructType([T.StructField(col, typ)]))
        return _distinct_ids(written, docid_field)

    def write(
        self, df: DataFrame, *, split: bool = False, upsert: bool = False, nested: bool = False
    ) -> None:
        if nested:
            # a doc_as_upsert update replaces the annotations array like the
            # scripted upsert (the merge already happened engine-side, W4)
            write_es_rest(df, self.conf, mapping_id="ann_doc_id", upsert=True)
        else:
            write_es_rest(df, self.conf, split_suffix_field=SPLIT_COL if split else None, upsert=upsert)


BACKENDS: dict[str, type[Backend]] = {
    "parquet": ParquetBackend,
    "elasticsearch": EsConnectorBackend,
    "elasticsearch-rest": EsRestBackend,
}
