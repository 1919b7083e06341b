"""The three workloads. Each one has a set-up, a reset between passes, an
untraced pass through the package's public entry points, a traced pass that
times the calls into each layer, and an output check.

- ``ingest_nlp_latency``: the CLI ``main`` in flat W1 MedCAT mode over a
  dated span, reading from and writing to the ES stub, one HTTP call per
  document to the NLP stub (fixed sleep, seeded first-attempt 503s).
- ``ingest_resume_bulk``: the same CLI with the in-process ``fake://medcat``
  annotator, skip-processed on against a sink pre-filled with about half
  the corpus, and the sink split by entity type.
- ``catalog_mix``: a fixed list of ``REGISTRY`` queries, each built and
  finished with a noop write.
"""

from __future__ import annotations

import functools
import gc
import random
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import yaml

from perfbench import inputs
from perfbench.stubs import EsStub, NlpStub
from perfbench.trace import Tracer, percentile, tail_percentile

SOURCE_INDEX = "docs"
PREFILL_SOURCE_INDEX = "docs-prefill"
SINK_INDEX = "ann"

#: Fault share of the NLP stub's schedule (first attempt of a pass only).
NLP_FAULT_RATE = 0.02


@dataclass(frozen=True)
class IngestSpec:
    n_docs: int
    nlp_latency_s: float | None  # None: the in-process fake://medcat annotator
    resume: bool  # skip-processed on, half-filled sink, split by types
    # untimed passes before measuring: the NLP-bound pass is flat after the
    # first; the CPU-bound resume pass keeps falling for a few more
    warmup_passes: int
    # timed passes at least: enough that --seconds never decides the count
    # (a run with one pass more has a faster median)
    min_passes: int


INGEST = {
    "ingest_nlp_latency": IngestSpec(n_docs=800, nlp_latency_s=0.010, resume=False, warmup_passes=1, min_passes=3),
    "ingest_resume_bulk": IngestSpec(n_docs=6000, nlp_latency_s=None, resume=True, warmup_passes=3, min_passes=4),
}

#: catalog_mix's query list, run in this order every cycle.
CATALOG_QUERIES = (
    "dedup_duplicate_clusters",
    "bm25_match_ranking",
    "pipeline_w1_flat_medcat",
    "q5_nation_revenue",
    "text_quality_scores",
)


def release_cached(spark) -> int:
    """Clear the SQL cache and unpersist every persistent RDD left behind
    (checkpoint pins included), then collect garbage on both sides, so the
    next pass starts from the same state. Returns how many RDDs were left."""
    spark.catalog.clearCache()
    gc.collect()
    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    ids = list(jmap.keySet().toArray())
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
    sc._jvm.System.gc()
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()
    return len(ids)


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def jvm_heap_peaks_mb(spark) -> tuple[float, float]:
    """Peak used MB of the JVM heap since the last :func:`release_cached`:
    the sum of the heap pools' peaks (young and old), and the old
    generation's alone (what survived young collections). The driver heap
    is fixed and pre-touched, so peak RSS cannot show heap demand; this
    does."""
    peaks = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(spark)}
    old = sum(v for name, v in peaks.items() if "Old" in name or "Tenured" in name)
    return sum(peaks.values()), old


class IngestWorkload:

    def __init__(self, name: str, seed: int, work: Path, spark, cpus: int) -> None:
        self.name = name
        self.spec = INGEST[name]
        self.min_passes = self.spec.min_passes
        self.seed = seed
        self.work = work
        self.spark = spark
        self.cpus = cpus
        self.nlp: NlpStub | None = None
        self.es: EsStub | None = None
        self.attempted = self.failed = 0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from annotations_ingester_spark.config import PipelineConfig

        spec = self.spec
        self.docs = inputs.make_corpus(self.seed, spec.n_docs)
        self.scope = [d for d in self.docs if inputs.in_scope(d)]
        self.expected = inputs.expected_rows(self.docs, SINK_INDEX, split_by_type=spec.resume)
        self.es = EsStub()
        state = self.es.state
        state.indices[SOURCE_INDEX] = {str(d.doc_id): d.source() for d in self.docs}
        if spec.nlp_latency_s is not None:
            texts = {d.text: d.doc_id for d in self.docs if len(d.text) >= inputs.MIN_TEXT_LEN}
            self.nlp = NlpStub(texts, spec.nlp_latency_s, self.seed, NLP_FAULT_RATE)
            endpoint = f"{self.nlp.url}/api/process"
        else:
            endpoint = "fake://medcat"
        self.cfg_path = self._write_config(SOURCE_INDEX, endpoint)
        self.cfg = PipelineConfig.from_yaml(str(self.cfg_path))
        self.snapshot: dict = {}
        skipped: set[int] = set()
        if spec.resume:
            # an alias over the split sink indices, so the skip-processed
            # read-back of the base name sees every written row
            state.indices.aliases.add(SINK_INDEX)
            rng = random.Random(self.seed ^ 0x5EED)
            prefilled = [d for d in self.docs if rng.random() < 0.5]
            state.indices[PREFILL_SOURCE_INDEX] = {str(d.doc_id): d.source() for d in prefilled}
            self._cli(self._write_config(PREFILL_SOURCE_INDEX, endpoint, "prefill"))
            del state.indices[PREFILL_SOURCE_INDEX]
            self.snapshot = state.snapshot([n for n in state.indices if n != SOURCE_INDEX])
            skipped = {d.doc_id for d in prefilled}
        # what a pass must annotate and write: J1 skips the pre-filled docs
        self.to_write = [d for d in self.docs if inputs.annotatable(d) and d.doc_id not in skipped]
        self.expected_actions = sum(inputs.n_entities(d) for d in self.to_write)

    def _write_config(self, source_index: str, endpoint: str, tag: str = "run") -> Path:
        es = {"backend": "elasticsearch-rest", "hosts": [self.es.url]}
        cfg = {
            "source": {**es, "index-name": source_index},
            "sink": {**es, "index-name": SINK_INDEX},
            "nlp-service": {
                "endpoints-url": [endpoint],
                "protocol-mode": "medcat",
                "max-retries-on-failure": 1,
            },
            "mapping": {
                "source": {
                    "text-field": "text",
                    "docid-field": "doc_id",
                    "persist-fields": ["doc_id"],
                    "skip-processed-doc-check": self.spec.resume,
                    "batch": {
                        "date-field": "dct",
                        "date-start": inputs.DATE_START,
                        "date-end": inputs.DATE_END,
                        "threads": 1,
                    },
                },
                "sink": {"split-index-by-field": "types"} if self.spec.resume else {},
            },
            "logging-level": 30,
        }
        path = self.work / f"{self.name}-{tag}.yml"
        path.write_text(yaml.safe_dump(cfg))
        return path

    def _cli(self, cfg_path: Path) -> None:
        from annotations_ingester_spark.__main__ import main

        rc = main(["--config", str(cfg_path)])
        if rc != 0:
            raise RuntimeError(f"CLI exited with {rc}")

    @property
    def ops_per_pass(self) -> int:
        """Source documents in scope of the pushed-down date span."""
        return len(self.scope)

    # -- passes ------------------------------------------------------------
    def reset(self) -> None:
        """Fresh sink (or the pre-filled snapshot), empty stub logs and no
        cached data, so every pass does the same work. Records how many
        persistent RDDs the previous pass left."""
        self.es.state.restore(keep=[SOURCE_INDEX], snap=self.snapshot)
        self.es.state.clear_logs()
        if self.nlp is not None:
            self.nlp.reset()
        self.leaked_rdds = release_cached(self.spark)

    def warm_up(self) -> None:
        """Untimed passes: the first pass of a session pays JVM and Python
        worker start-up and code generation."""
        for _ in range(self.spec.warmup_passes):
            self.run_pass()
        self.attempted = self.failed = 0

    def run_pass(self) -> float:
        """Reset, one timed CLI run, then the check of its output."""
        self.reset()
        t0 = time.perf_counter()
        self._cli(self.cfg_path)
        elapsed = time.perf_counter() - t0
        self.heap_peaks = jvm_heap_peaks_mb(self.spark)
        self._check_pass()
        return elapsed

    @staticmethod
    def pass_seconds(sample: float) -> float:
        return sample

    @staticmethod
    def run_s(samples: list[float]) -> float:
        return statistics.median(samples)

    def _check_pass(self) -> None:
        """Count this pass's docs and the ones that failed: wrong sink rows
        (row count and row-id digest per sink index against the expected
        set), or, with the HTTP annotator, no successful answer after
        retries. The sink's rows cannot show a resume pass that skipped
        nothing (a re-written row replaces itself), so the bulk actions the
        stub received must also be exactly the rows of the docs the pass had
        to write; otherwise all of those docs count as failed."""
        bad = inputs.failed_docs(self.expected, self.es.state.row_ids(SINK_INDEX))
        if self.es.bulk_actions() != self.expected_actions:
            bad.update(d.doc_id for d in self.to_write)
        if self.nlp is not None:
            with self.nlp.lock:
                answered = {doc_id for doc_id, status, _ in self.nlp.log if status == 200}
            bad.update(d.doc_id for d in self.scope if inputs.annotatable(d) and d.doc_id not in answered)
        self.attempted += self.ops_per_pass
        self.failed += len(bad)

    def checked(self) -> tuple[int, int]:
        """(docs checked, docs failed) over the measured passes."""
        return self.attempted, self.failed

    def traced_pass(self, tr: Tracer) -> dict[str, float]:
        """The CLI's plan, stage by stage through the public functions, each
        stage's input materialized first so a span is that stage's time."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from annotations_ingester_spark.annotator.registry import get_annotator
        from annotations_ingester_spark.annotator.service import HttpNlpClient
        from annotations_ingester_spark.annotator.udf import annotate
        from annotations_ingester_spark.operators.antijoin import skip_processed
        from annotations_ingester_spark.operators.explode import (
            explode_entities,
            prefix_project,
            split_index_suffix,
        )
        from annotations_ingester_spark.operators.filters import (
            range_filter,
            response_shape_guard,
            valid_text_filter,
        )
        from annotations_ingester_spark.sources.es_rest import (
            EsRestClient,
            infer_es_rest_schema,
            read_es_rest,
            write_es_rest,
        )
        from annotations_ingester_spark.utils import check_url_available

        spark, cfg = self.spark, self.cfg
        self.reset()
        cached = []

        def mat(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        # a traced pass follows an untraced one: these are the CLI's leftovers
        c: dict[str, float] = {"plans.leaked_rdds": self.leaked_rdds}
        with tr.span("pass"):
            with tr.span("cli.preflight"):
                if self.nlp is not None and not check_url_available(cfg.nlp.endpoints):
                    raise RuntimeError("NLP stub unavailable")
                for end in (cfg.source, cfg.sink):
                    EsRestClient(end).verify_compat()
                with tr.span("sources.schema_probe"):
                    schema = infer_es_rest_schema(spark, cfg.source)
            rng = EsRestClient(cfg.source).range_query(cfg.date_field, inputs.DATE_START, inputs.DATE_END)
            with tr.span("sources.read"):
                docs, c["sources.docs_read"] = mat(read_es_rest(spark, cfg.source, schema, query=rng))
            with tr.span("operators.filter"):
                scoped, n_scoped = mat(range_filter(docs, cfg.date_field, inputs.DATE_START, inputs.DATE_END))
                todo, n_p3 = mat(valid_text_filter(scoped, cfg.text_field))
            c["operators.p3_dropped"] = n_scoped - n_p3
            n_todo = n_p3
            if self.spec.resume:
                with tr.span("sources.id_readback"):
                    # the CLI's resume read-back: a 1-doc sample picks the id
                    # column, then a narrow sliced-scroll read fetches it
                    sample = EsRestClient(cfg.sink).search_page(size=1)
                    col = f"meta.{cfg.docid_field}"
                    typ = T.LongType() if isinstance(sample[0][col], int) else T.StringType()
                    written = read_es_rest(spark, cfg.sink, T.StructType([T.StructField(col, typ)]))
                    ids, _ = mat(written.select(F.col(f"`{col}`").alias(cfg.docid_field)).distinct())
                with tr.span("operators.antijoin"):
                    todo, n_todo = mat(skip_processed(todo, ids, docid_field=cfg.docid_field))
            c["operators.j1_skipped"] = n_p3 - n_todo
            if self.nlp is not None:
                factory = functools.partial(
                    HttpNlpClient,
                    cfg.nlp.endpoints,
                    mode=cfg.nlp.mode,
                    max_retries=cfg.nlp.max_retries_on_failure,
                    threads=cfg.threads,
                )
            else:
                factory = get_annotator("fake-medcat")
            with tr.span("annotator.annotate") as ann_span:
                ann, _ = mat(annotate(todo, factory, cfg.text_field, cfg.docid_field, "medcat"))
            split = cfg.split_index_by_field or None
            extra = ["index_suffix"] if split else []
            with tr.span("operators.shape"):
                rows, c["operators.rows_exploded"] = mat(explode_entities(response_shape_guard(ann)))
                if split:
                    rows = split_index_suffix(rows, split)
                projected, n_proj = mat(
                    prefix_project(
                        rows,
                        persist_fields=cfg.persist_fields,
                        docid_field=cfg.docid_field,
                        extra_cols=extra,
                        ann_id_field=cfg.annotation_id_field,
                    )
                )
                out, n_out = mat(projected.dropDuplicates(["row_id", *extra]))
            c["operators.dedup_removed"] = n_proj - n_out
            with tr.span("sinks.write"):
                write_es_rest(out, cfg.sink, split_suffix_field="index_suffix" if split else None)
        for df in cached:
            df.unpersist()
        c.update(self.es.counters())
        c.update(self._nlp_counters(ann_span.end - ann_span.start))
        self._check_pass()
        return c

    def _nlp_counters(self, stage_wall: float) -> dict[str, float]:
        if self.nlp is None:
            return {
                "annotator.nlp_requests": 0,
                "annotator.nlp_connections": 0,
                "annotator.retries": 0,
                "annotator.slot_util": 0.0,
            }
        with self.nlp.lock:
            log = list(self.nlp.log)
            conns = self.nlp.connections
        allowed = self.cpus * self.cfg.threads
        return {
            "annotator.nlp_requests": len(log),
            "annotator.nlp_connections": conns,
            "annotator.retries": sum(1 for _, s, _ in log if s != 200),
            "annotator.slot_util": sum(t for _, _, t in log) / (allowed * stage_wall),
            "_service_s": [t for _, _, t in log],
        }

    def close(self) -> None:
        for stub in (self.nlp, self.es):
            if stub is not None:
                stub.close()


class CatalogMix:
    name = "catalog_mix"
    # a query's time varies ~20% from one run to the next within a session;
    # five cycles keep the per-query medians steady
    min_passes = 5

    def __init__(self, seed: int, work: Path, spark, fixture_dir: Path) -> None:
        self.seed = seed
        self.work = work
        self.spark = spark
        self.fixture_dir = fixture_dir
        self.data_dir = work / "catalog"

    def setup(self) -> None:
        from annotations_ingester_spark.plans.queries import REGISTRY

        inputs.write_catalog_tables(self.seed, self.fixture_dir, self.data_dir)
        self.specs = [REGISTRY[n] for n in CATALOG_QUERIES]

    @property
    def ops_per_pass(self) -> int:
        return len(self.specs)

    def reset(self) -> int:
        return release_cached(self.spark)

    def run_pass(self) -> dict[str, float]:
        """One cycle over the list; seconds per query. Keeps the largest
        per-query JVM heap peaks in ``heap_peaks``."""
        out = {}
        peaks = []
        for spec in self.specs:
            self.reset()
            t0 = time.perf_counter()
            spec.spark(self.spark, str(self.data_dir)).write.format("noop").mode("overwrite").save()
            out[spec.name] = time.perf_counter() - t0
            peaks.append(jvm_heap_peaks_mb(self.spark))
        self.reset()
        self.heap_peaks = tuple(max(p[i] for p in peaks) for i in range(2))
        return out

    @staticmethod
    def pass_seconds(sample: dict[str, float]) -> float:
        return sum(sample.values())

    @staticmethod
    def run_s(samples: list[dict[str, float]]) -> float:
        """Sum over the queries of each one's median time."""
        return sum(statistics.median(s[q] for s in samples) for q in samples[0])

    def traced_pass(self, tr: Tracer) -> dict[str, float]:
        sc = self.spark.sparkContext
        c: dict[str, float] = {"plans.spark_jobs": 0, "plans.leaked_rdds": 0}
        self.reset()
        with tr.span("pass"):
            for spec in self.specs:
                group = f"perfbench-{spec.name}-{len(tr.spans)}"
                sc.setJobGroup(group, spec.name)
                with tr.span(f"plans.{spec.name}.build_s"):
                    df = spec.spark(self.spark, str(self.data_dir))
                with tr.span(f"plans.{spec.name}.exec_s"):
                    df.write.format("noop").mode("overwrite").save()
                c["plans.spark_jobs"] += len(sc.statusTracker().getJobIdsForGroup(group))
                c["plans.leaked_rdds"] += self.reset()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return c

    def warm_up(self) -> None:
        """One untimed cycle that collects every query's result, hashed for
        :meth:`checked`, then one untimed noop cycle: a query's time still
        falls for its first few runs in a session."""
        self.result_hashes = {}
        for spec in self.specs:
            self.reset()
            pdf = spec.spark(self.spark, str(self.data_dir)).toPandas()
            self.result_hashes[spec.name] = inputs.frame_hash(pdf)
        self.run_pass()

    def checked(self) -> tuple[int, int]:
        """(queries checked, queries whose result hash differs from their
        DuckDB oracle's)."""
        import duckdb

        con = duckdb.connect()
        try:
            for path in sorted(self.data_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
            bad = sum(
                1
                for spec in self.specs
                if inputs.frame_hash(con.execute(spec.oracle).fetchdf()) != self.result_hashes[spec.name]
            )
        finally:
            con.close()
        return len(self.specs), bad

    def close(self) -> None:
        pass


def service_stats(samples: list[float]) -> dict[str, float]:
    """Stub-side service time: median, and the highest percentile with at
    least ten samples beyond it."""
    n = len(samples)
    out = {"annotator.service_samples": n}
    if n:
        out["annotator.service_p50_ms"] = percentile(samples, 50) * 1000
        p = tail_percentile(n)
        if p is not None:
            out["annotator.service_tail_pct"] = p
            out["annotator.service_tail_ms"] = percentile(samples, p) * 1000
    return out

