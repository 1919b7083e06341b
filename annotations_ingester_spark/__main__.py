"""CLI entry point: ``python -m annotations_ingester_spark --config cfg.yml``.

Mirrors the reference's CLI (reference: ingester/__main__.py:34-45 arg
parsing + config validation; :128-129 ``index_range`` execution) but wires
a Spark plan instead of a thread pool:

  config → PipelineConfig → pre-flight → source.read → range_filter (dated)
         → AnnotationPipeline.flat | .nested (per segment with --segmented)
         → sink.write

``source``/``sink`` are ``sources.backend`` objects (parquet, the ES
connector jar, or the jar-free ES REST fallback), picked by the config's
``backend:`` key; ``--stream`` runs the same flat plan as an availableNow
stream whose ``foreachBatch`` is ``sink.write``.
"""

from __future__ import annotations

import argparse
import logging
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser("annotations_ingester_spark")
    parser.add_argument("--config", required=True, help="YAML pipeline config")
    parser.add_argument("--date-start", default=None, help="override batch date-start")
    parser.add_argument("--date-end", default=None, help="override batch date-end")
    parser.add_argument("--stream", action="store_true", help="run the Structured Streaming variant")
    parser.add_argument(
        "--segmented",
        action="store_true",
        help="B1: run one date segment at a time (reference driver-loop parity, "
        "annotations_indexer.py:847-861; the J1 anti-join absorbs the "
        "boundary-date overlap between consecutive inclusive segments)",
    )
    parser.add_argument("--dry-run", action="store_true", help="build + explain the plan, don't execute")
    args = parser.parse_args(argv)

    from annotations_ingester_spark.annotator.service import HttpNlpClient
    from annotations_ingester_spark.config import PipelineConfig
    from annotations_ingester_spark.operators.filters import range_filter
    from annotations_ingester_spark.operators.windows import date_windows
    from annotations_ingester_spark.plans.pipeline import AnnotationPipeline
    from annotations_ingester_spark.session import get_spark
    from annotations_ingester_spark.sources.backend import BACKENDS, ParquetBackend
    from annotations_ingester_spark.utils import check_url_available

    cfg = PipelineConfig.from_yaml(args.config)
    logging.basicConfig(
        level=cfg.logging_level,  # reference logging-level, config.yml:73
        format="%(asctime)s %(levelname)s %(message)s",
    )
    if cfg.es_date_format != "yyyy-MM-dd" or cfg.python_date_format != "%Y-%m-%d":
        # range_filter/date_windows operate on ISO date strings; a custom
        # format would silently mis-scope every range scan — refuse loudly
        print(
            "only ISO date formats (yyyy-MM-dd / %Y-%m-%d) are supported; "
            f"got {cfg.es_date_format!r} / {cfg.python_date_format!r}",
            file=sys.stderr,
        )
        return 2
    date_start = args.date_start or cfg.date_start
    date_end = args.date_end or cfg.date_end

    dated = bool(date_start and date_end)
    nested = cfg.ingest_mode == "nested"
    upsert = cfg.ingest_mode == "same-index"
    source = BACKENDS[cfg.source.backend](cfg.source)
    sink = BACKENDS[cfg.sink.backend](cfg.sink)

    if args.stream and not isinstance(source, ParquetBackend):
        print("--stream requires the file-based parquet source backend", file=sys.stderr)
        return 2
    if args.segmented and nested:
        # segments track flat-row overlap semantics; silently running
        # nested un-segmented would betray the flag — refuse loudly (same
        # philosophy as the date-format refusal)
        print(
            "--segmented is not supported with ingest-mode=nested; "
            "run the whole span (the J1 skip-processed anti-join "
            "makes reruns idempotent)",
            file=sys.stderr,
        )
        return 2

    nlp = cfg.nlp
    fake_mode = bool(nlp.endpoints) and nlp.endpoints[0].startswith("fake://")

    # S11 pre-flight: refuse to start against a dead NLP service or an
    # unusable ES endpoint (the REST backend's version handshake) before
    # any Spark job is planned — the reference's check_url_available
    # posture (utils.py:7-14)
    if nlp.endpoints and not fake_mode and not check_url_available(nlp.endpoints):
        print("NLP endpoints unavailable", file=sys.stderr)
        return 2
    for end in (source, sink):
        try:
            end.check()
        except Exception as exc:
            print(f"Elasticsearch endpoint check failed: {exc}", file=sys.stderr)
            return 2

    spark = get_spark("annotations_ingester_spark")

    if fake_mode:  # hermetic runs: fake:// resolves via the registry
        from annotations_ingester_spark.annotator.registry import get_annotator

        annotator = get_annotator(
            "fake-gate" if nlp.mode == "gate-nlp" else "fake-medcat"
        )
    else:

        def annotator():
            return HttpNlpClient(
                nlp.endpoints,
                mode=nlp.mode,
                auth=(nlp.username, nlp.password) if nlp.username else None,
                max_retries=nlp.max_retries_on_failure,
                application_params=nlp.application_params,
                threads=cfg.threads,  # reference threads-count, per partition
                max_in_flight=nlp.max_in_flight,
                rate_limit_per_sec=nlp.rate_limit_per_sec,
            )

    mode = "gate" if nlp.mode == "gate-nlp" else "medcat"
    docs = source.read(spark, cfg.date_field, date_start, date_end)

    if args.stream:
        # S7: the same flat plan as a checkpointed availableNow stream —
        # deterministic row ids make micro-batch replay an idempotent upsert
        from annotations_ingester_spark.streaming.pipeline import (
            run_stream_foreach_batch,
            stream_annotations,
        )

        out = stream_annotations(
            spark,
            cfg.source.index_name,
            docs.schema,
            annotator,
            text_field=cfg.text_field,
            docid_field=cfg.docid_field,
            mode=mode,
        )
        if args.dry_run:
            out.explain("formatted")
            return 0
        run_stream_foreach_batch(
            out,
            lambda batch, epoch_id: sink.write(batch, upsert=upsert),
            sink.stream_checkpoint(cfg.source.index_name),
        )
        return 0

    pipe = AnnotationPipeline(
        annotator,
        text_field=cfg.text_field,
        docid_field=cfg.docid_field,
        persist_fields=cfg.persist_fields,
        mode=mode,
        date_field=cfg.date_field,
        ann_id_field=cfg.annotation_id_field,
    )
    split = cfg.split_index_by_field or None
    # B1: --segmented runs one inclusive range scan per date segment
    # (reference driver loop); every other run is one segment, the whole
    # span — or the whole corpus when undated. A one-day span yields no
    # reference-parity window (date_windows(d, d) == []), so it falls back
    # to the whole span rather than writing nothing
    segments = (
        date_windows(date_start, date_end, cfg.batch_interval_days)
        if args.segmented and dated
        else []
    ) or [(date_start, date_end)]
    done = sink.done_ids(spark, cfg.docid_field) if cfg.skip_processed_doc_check else None
    processed = done
    for seg_start, seg_end in segments:
        scoped = range_filter(docs, cfg.date_field, seg_start, seg_end) if dated else docs
        if nested:
            # W4: one row per document with an annotations array
            # (reference doc_{id}_annotations docs, annotations_indexer.py:166-200)
            out = pipe.nested(scoped, processed_ids=processed)
        else:
            out = pipe.flat(scoped, split_by_field=split, processed_ids=processed)
        if args.dry_run:
            out.explain("formatted")
            return 0
        sink.write(out, split=bool(split), upsert=upsert, nested=nested)
        if len(segments) > 1:
            # consecutive segments share their boundary date: the next one
            # skips the sink's ids plus every doc up to this segment's end,
            # so a segmented run equals the whole span (tests/test_cli.py)
            # and a rerun appends nothing the sink already holds
            upto = range_filter(docs, cfg.date_field, date_start, seg_end)
            upto = upto.select(cfg.docid_field)
            processed = upto if done is None else done.unionByName(upto)
    return 0


if __name__ == "__main__":
    sys.exit(main())
