from tracing import Tracer


def test_spans_record_parents():
    t = Tracer()
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    assert [s["name"] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1]["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= t.spans[1]["start"] <= t.spans[1]["end"] <= outer["end"]

