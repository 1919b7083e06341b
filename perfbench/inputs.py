"""Seeded inputs and the expected outputs they imply.

The ingest corpus is generated from the seed. The expected sink contents are
derived here from the documented entity rule of the deterministic MedCAT
annotator (``annotator/fake.py``): a document with text ``t`` yields
``len(t) % 4`` entities ``i = 0..n-1`` with sink id ``doc-{doc_id}-ann-{i}``
and type ``type{(doc_id + i) % 5}``. The rule is restated, not imported, so
the check does not follow a change to the code it checks.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from pathlib import Path

#: P3: texts shorter than this never reach the annotator (types.MIN_TEXT_LEN).
MIN_TEXT_LEN = 5

DATE_START = "2020-01-01"
DATE_END = "2020-12-31"

#: Share of the corpus with texts under MIN_TEXT_LEN.
SHORT_FRAC = 0.02
#: Share of the corpus dated outside [DATE_START, DATE_END].
OUT_OF_RANGE_FRAC = 0.08

_WORDS = (
    "patient presents with acute chest pain radiating left arm history of "
    "hypertension diabetes mellitus type two prescribed aspirin metformin "
    "follow up clinic review bloods normal renal function stable discharged "
    "home advised rest fluids reduce salt intake ecg sinus rhythm no acute "
    "changes troponin negative echo ejection fraction preserved"
).split()
_SHORT_TEXTS = ("", "ab", "xyz", "a b", "note")


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    dct: str

    def source(self) -> dict:
        return {"doc_id": self.doc_id, "text": self.text, "dct": self.dct}


def make_corpus(seed: int, n: int) -> list[Doc]:
    """``n`` documents with ids 1..n. Every text that can reach the
    annotator starts with its own ``d<id>`` token, so texts are unique. A
    SHORT_FRAC share has short texts and an OUT_OF_RANGE_FRAC share is
    dated outside the span."""
    rng = random.Random(seed)
    docs = []
    for doc_id in range(1, n + 1):
        if rng.random() < SHORT_FRAC:
            text = rng.choice(_SHORT_TEXTS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(3, 24))]
            text = f"d{doc_id} " + " ".join(words)
        year = 2020
        if rng.random() < OUT_OF_RANGE_FRAC:
            year = rng.choice((2019, 2021))
        dct = f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        docs.append(Doc(doc_id, text, dct))
    return docs


def in_scope(doc: Doc) -> bool:
    """Inside the date span pushed down to the source read."""
    return DATE_START <= doc.dct <= DATE_END


def annotatable(doc: Doc) -> bool:
    return in_scope(doc) and len(doc.text) >= MIN_TEXT_LEN


def n_entities(doc: Doc) -> int:
    return len(doc.text) % 4


def expected_rows(docs: list[Doc], sink: str, split_by_type: bool) -> dict[str, set[str]]:
    """Sink index → the row ids the pipeline must leave there."""
    out: dict[str, set[str]] = {}
    for d in docs:
        if not annotatable(d):
            continue
        for i in range(n_entities(d)):
            index = f"{sink}-type{(d.doc_id + i) % 5}" if split_by_type else sink
            out.setdefault(index, set()).add(f"doc-{d.doc_id}-ann-{i}")
    return out


def digest(row_ids: set[str]) -> str:
    return hashlib.sha256("\n".join(sorted(row_ids)).encode()).hexdigest()


def doc_of_row(row_id: str) -> int:
    return int(row_id.split("-")[1])


def failed_docs(expected: dict[str, set[str]], actual: dict[str, set[str]]) -> set[int]:
    """Docs whose rows differ between ``expected`` and ``actual`` (missing
    in an index, or present where none was expected). Compared per index by
    digest first; only a mismatching index is diffed row by row."""
    bad: set[int] = set()
    for index in expected.keys() | actual.keys():
        want, got = expected.get(index, set()), actual.get(index, set())
        if digest(want) != digest(got):
            bad.update(doc_of_row(r) for r in want ^ got)
    return bad


def faulted(seed: int, doc_id: int, rate: float) -> bool:
    """Whether the NLP stub answers this doc's first attempt with a 503:
    a seeded hash of the id, so the schedule repeats for a seed."""
    h = hashlib.blake2b(f"{seed}:{doc_id}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") % 10_000 < round(rate * 10_000)


def write_catalog_tables(seed: int, src_dir: Path, out_dir: Path) -> None:
    """Copy the catalog's base tables from ``src_dir`` with every table's
    rows in a seeded order. Values and schemas are unchanged (the registry's
    oracles are defined on them); the seed moves rows between files'
    row groups and Spark's scan partitions."""
    import numpy as np
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    for path in sorted(src_dir.glob("*.parquet")):
        table = pq.read_table(path)
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), out_dir / path.name)


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, canonicalised by the
    repository's parity harness (``tools/parity.py``): sorted column names,
    then the sorted canonical rows."""
    from tools.parity import frame_canon

    cols, rows = frame_canon(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
