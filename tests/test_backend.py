"""The connector backends (sources/backend.py): the config refuses a
backend name it has no class for, and the REST J1 read-back treats only a
404 on the sink index as a first run."""

from __future__ import annotations

import urllib.error

import pytest

from annotations_ingester_spark.config import ConnectorConfig, PipelineConfig
from annotations_ingester_spark.sources.backend import BACKENDS, EsRestBackend
from annotations_ingester_spark.sources.es_rest import EsRestClient

REST_SINK = ConnectorConfig(
    backend="elasticsearch-rest", hosts=["http://127.0.0.1:9"], index_name="ann"
)


def _cfg(backend: str) -> dict:
    return {
        "source": {"backend": backend, "path": "docs"},
        "sink": {"backend": "parquet", "path": "out"},
        "nlp-service": {},
        "mapping": {},
    }


def test_every_backend_name_parses():
    for name in BACKENDS:
        assert PipelineConfig.from_dict(_cfg(name)).source.backend == name


def test_unknown_backend_refused_with_allowed_names():
    with pytest.raises(ValueError) as err:
        PipelineConfig.from_dict(_cfg("parqet"))
    msg = str(err.value)
    assert "'parqet'" in msg
    assert all(name in msg for name in ("parquet", "elasticsearch", "elasticsearch-rest"))


def _search_fails(monkeypatch, code: int) -> None:
    def search_page(self, *a, **kw):
        raise urllib.error.HTTPError(f"{self.url}/ann/_search", code, "err", {}, None)

    monkeypatch.setattr(EsRestClient, "search_page", search_page)


def test_rest_done_ids_absent_index_is_first_run(spark, monkeypatch):
    # a real ES answers _search on an absent index with HTTP 404
    _search_fails(monkeypatch, 404)
    assert EsRestBackend(REST_SINK).done_ids(spark, "doc_id") is None


def test_rest_done_ids_server_error_propagates(spark, monkeypatch):
    # anything else must not pass for a first run: that would re-annotate
    # and re-write the whole corpus
    _search_fails(monkeypatch, 500)
    with pytest.raises(urllib.error.HTTPError):
        EsRestBackend(REST_SINK).done_ids(spark, "doc_id")
