"""Self-tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
import urllib.error
import urllib.request
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import inputs  # noqa: E402
from perfbench.trace import Span, Tracer, covered, percentile, self_times, tail_percentile  # noqa: E402


# -- fault schedule -----------------------------------------------------------


def test_fault_schedule_is_seeded_and_near_its_rate():
    ids = range(1, 20_001)
    a = [i for i in ids if inputs.faulted(7, i, 0.02)]
    assert a == [i for i in ids if inputs.faulted(7, i, 0.02)]
    assert a != [i for i in ids if inputs.faulted(8, i, 0.02)]
    assert 0.015 < len(a) / len(ids) < 0.025
    assert not any(inputs.faulted(7, i, 0.0) for i in ids)


def test_nlp_stub_fails_only_first_attempts_of_scheduled_docs():
    from perfbench.stubs import NlpStub

    seed = 3
    faulty = next(i for i in range(1, 1000) if inputs.faulted(seed, i, 0.02))
    healthy = next(i for i in range(1, 1000) if not inputs.faulted(seed, i, 0.02))
    texts = {f"d{faulty} some text": faulty, f"d{healthy} more text": healthy}
    stub = NlpStub(texts, latency_s=0.0, fault_seed=seed, fault_rate=0.02)
    try:

        def post(text: str) -> int:
            body = json.dumps({"content": {"text": text}}).encode()
            req = urllib.request.Request(stub.url + "/api/process", data=body, method="POST")
            try:
                with urllib.request.urlopen(req, timeout=10) as resp:
                    env = json.loads(resp.read())
                    assert "entities" in env["result"]["annotations"]
                    return resp.status
            except urllib.error.HTTPError as e:
                return e.code

        for _ in range(2):  # the schedule repeats after a reset
            assert [post(t) for t in texts for _ in range(2)] == [503, 200, 200, 200]
            assert [s for _, s, _ in stub.log] == [503, 200, 200, 200]
            assert stub.connections == 4
            stub.reset()
    finally:
        stub.close()


def test_es_stub_counts_bulk_actions_including_rewrites():
    from perfbench.stubs import EsStub

    stub = EsStub()
    try:

        def bulk(ids: list[str]) -> None:
            lines = [json.dumps(x) for i in ids for x in ({"index": {"_index": "ann", "_id": i}}, {"v": i})]
            body = ("\n".join(lines) + "\n").encode()
            req = urllib.request.Request(stub.url + "/_bulk", data=body, method="POST")
            req.add_header("Content-Type", "application/x-ndjson")
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert not json.loads(resp.read())["errors"]

        bulk(["a", "b"])
        bulk(["a"])  # replaces a stored row: the sink looks the same, the log does not
        assert stub.state.row_ids("ann") == {"ann": {"a", "b"}}
        assert stub.bulk_actions() == 3
        stub.state.clear_logs()
        assert stub.bulk_actions() == 0
    finally:
        stub.close()


# -- expected output ----------------------------------------------------------


def _doc(doc_id: int, text: str, dct: str = "2020-06-01") -> inputs.Doc:
    return inputs.Doc(doc_id, text, dct)


def test_expected_rows_follow_the_entity_rule_and_scope():
    docs = [
        _doc(1, "abcdefg"),  # 7 % 4 = 3 entities
        _doc(2, "abcdefgh"),  # 8 % 4 = 0 entities
        _doc(3, "abc"),  # under MIN_TEXT_LEN
        _doc(4, "abcdefghi", dct="2021-01-01"),  # out of range
        _doc(9, "abcdef"),  # 2 entities
    ]
    assert inputs.expected_rows(docs, "ann", split_by_type=False) == {
        "ann": {"doc-1-ann-0", "doc-1-ann-1", "doc-1-ann-2", "doc-9-ann-0", "doc-9-ann-1"}
    }
    split = inputs.expected_rows(docs, "ann", split_by_type=True)
    assert split == {
        "ann-type1": {"doc-1-ann-0"},
        "ann-type2": {"doc-1-ann-1"},
        "ann-type3": {"doc-1-ann-2"},
        "ann-type4": {"doc-9-ann-0"},
        "ann-type0": {"doc-9-ann-1"},
    }


def test_digest_and_failed_docs():
    want = {"ann": {"doc-1-ann-0", "doc-2-ann-0", "doc-2-ann-1"}}
    assert inputs.digest({"b", "a"}) == inputs.digest({"a", "b"})
    assert inputs.failed_docs(want, {"ann": set(want["ann"])}) == set()
    assert inputs.failed_docs(want, {"ann": {"doc-1-ann-0", "doc-2-ann-0"}}) == {2}
    extra = {"ann": want["ann"] | {"doc-7-ann-0"}, "ann-x": {"doc-8-ann-0"}}
    assert inputs.failed_docs(want, extra) == {7, 8}


def test_corpus_is_seeded_and_has_short_and_out_of_range_docs():
    a, b = inputs.make_corpus(5, 2000), inputs.make_corpus(5, 2000)
    assert a == b and a != inputs.make_corpus(6, 2000)
    assert any(len(d.text) < inputs.MIN_TEXT_LEN for d in a)
    assert any(not inputs.in_scope(d) for d in a)
    long_texts = [d.text for d in a if len(d.text) >= inputs.MIN_TEXT_LEN]
    assert len(set(long_texts)) == len(long_texts)  # the NLP stub keys on text


def test_frame_hash_ignores_row_and_column_order():
    pd = pytest.importorskip("pandas")
    x = pd.DataFrame({"a": [1, 2], "b": [0.5, None]})
    y = pd.DataFrame({"b": [None, 0.5], "a": [2, 1]})
    assert inputs.frame_hash(x) == inputs.frame_hash(y)
    assert inputs.frame_hash(x) != inputs.frame_hash(x.assign(a=[1, 3]))


# -- spans and percentiles --------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),  # overlaps a: union 1..6 = 5
        Span("a", 7.0, 8.0, 0),
        Span("leaf", 2.0, 3.0, 1),
    ]
    assert covered([(1.0, 4.0), (3.0, 6.0), (7.0, 8.0)]) == 6.0
    own = self_times(spans)
    assert own == {"root": 4.0, "a": 2.0 + 1.0, "b": 3.0, "leaf": 1.0}


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("root"):
        with tr.span("child") as sp:
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert sp.end >= sp.start
    own = tr.self_times()
    assert own["root"] == pytest.approx((tr.spans[0].end - tr.spans[0].start) - (sp.end - sp.start))


@pytest.mark.parametrize(
    "n,expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 99) == 99.0
    assert percentile([3.0], 99) == 3.0
