"""Span self time and the documents fixture."""

import fixtures
from tracing import Span, self_times


def test_self_time_subtracts_children():
    spans = [
        Span(0, "op", None, 1, "q", 0.0, 10.0),
        Span(1, "queries.build", 0, 1, "q", 0.0, 7.0),
        Span(2, "io.read", 1, 1, "q", 1.0, 2.0),
        Span(3, "queries.exec", 0, 1, "q", 7.0, 10.0),
    ]
    assert self_times(spans) == {"op": 0.0, "queries.build": 6.0, "io.read": 1.0, "queries.exec": 3.0}


def test_documents_are_deterministic_and_plant_duplicates():
    a, b = fixtures.make_documents(200, 42), fixtures.make_documents(200, 42)
    assert a.to_pydict() == b.to_pydict()
    texts = a.column("text").to_pylist()
    assert len(set(texts)) == len(texts) - len(texts) // fixtures.DUP_EVERY
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]
