"""Deterministic fake annotator — the test/oracle stand-in for an NLP service.

Produces real reference-shaped envelopes (MedCAT ordinal-keyed entity maps /
GATE per-type lists, per FIXTURES.md §4) which then flow through the same
``normalize_medcat``/``normalize_gate`` code paths as live HTTP responses —
so tests exercise the full normalization logic, not a shortcut.

The entity rule is pure arithmetic on (doc_id, len(text)) so a SQL oracle
(DuckDB) can recompute the expected output exactly:

    n_entities  = len(text) % 4                       (entities i = 0..n-1)
    cui         = 'C' || lpad((doc_id*13 + i*7) % 1000, 7, '0')
    start       = (i * 17) % (len(text) - 4)          (len >= MIN_TEXT_LEN=5)
    end         = start + 4
    source_value= text[start:end]
    tuis        = 'T' || lpad((doc_id + i) % 100, 3, '0')
    types       = 'type' || (doc_id + i) % 5
    acc         = ((doc_id*31 + i*17) % 100) / 100.0
    timestamp   = FIXED_TS

GATE mode shares n/start/end and assigns type = GATE_TYPES[(doc_id+i) % 3].
"""

from __future__ import annotations

from typing import Any

from annotations_ingester_spark.annotator.service import (
    normalize_gate,
    normalize_medcat,
)

FIXED_TS = "2026-01-01T00:00:00"
GATE_TYPES = ("Location", "Org", "Person")  # sorted — see normalize_gate


def entity_count(text: str) -> int:
    return len(text) % 4


def _raw_entity(doc_id: int, i: int, text: str) -> dict[str, Any]:
    cui = "C%07d" % ((doc_id * 13 + i * 7) % 1000)
    start = (i * 17) % (len(text) - 4)
    end = start + 4
    sv = text[start:end]
    acc = ((doc_id * 31 + i * 17) % 100) / 100.0
    return {
        "id": i,
        "cui": cui,
        "tuis": "T%03d" % ((doc_id + i) % 100),
        "types": "type%d" % ((doc_id + i) % 5),
        "pretty_name": "concept " + cui,
        "detected_name": sv.lower().replace(" ", "~"),
        "source_value": sv,
        "start": start,
        "end": end,
        "acc": acc,
        "context_similarity": acc,
        "meta_anns": {
            "Status": {
                "confidence": acc,
                "name": "Status",
                "value": "Affirmed" if i % 2 == 0 else "Other",
            }
        },
    }


def medcat_envelope(doc_id: int, text: str) -> dict[str, Any]:
    """Reference-shaped MedCAT response (FIXTURES.md §4)."""
    ents = {str(i): _raw_entity(doc_id, i, text) for i in range(entity_count(text))}
    return {
        "result": {"annotations": {"entities": ents}, "timestamp": FIXED_TS},
        "medcat_info": {"model": "fixture", "version": "1"},
    }


def gate_envelope(doc_id: int, text: str) -> dict[str, Any]:
    """Reference-shaped GATE response: entities grouped per type."""
    by_type: dict[str, list[dict[str, Any]]] = {}
    for i in range(entity_count(text)):
        start = (i * 17) % (len(text) - 4)
        etype = GATE_TYPES[(doc_id + i) % 3]
        by_type.setdefault(etype, []).append(
            {
                "indices": [start, start + 4],
                "kind": "kind%d" % (i % 2),
                "rule": "rule%d" % ((doc_id + i) % 4),
                "matchedWithLonger": i % 2 == 0,
                "matches": i,
            }
        )
    return {"entities": by_type, "text": text}


class DeterministicFakeAnnotator:
    """Drop-in :class:`Annotator` whose output a SQL oracle can recompute."""

    def __init__(self, mode: str = "medcat", pipeline_url: str = "fake://nlp") -> None:
        self.mode = "gate" if mode in ("gate", "gate-nlp") else "medcat"
        self.pipeline_url = pipeline_url

    def annotate_batch(
        self, doc_ids: list[Any], texts: list[str]
    ) -> list[list[dict[str, Any]] | None]:
        out: list[list[dict[str, Any]] | None] = []
        for doc_id, text in zip(doc_ids, texts):
            if text is None:
                out.append(None)
                continue
            did = int(doc_id)
            if self.mode == "gate":
                out.append(
                    normalize_gate(
                        gate_envelope(did, text),
                        text,
                        pipeline_url=self.pipeline_url,
                        timestamp=FIXED_TS,
                    )
                )
            else:
                out.append(normalize_medcat(medcat_envelope(did, text)))
        return out
