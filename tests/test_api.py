"""API-layer tests mirroring the reference's http-api.spec response
shapes, including the streaming /read wire framing and the
error-handler middleware contract."""

from __future__ import annotations

import json

import pytest

from orestes_spark.api import (
    ApiError,
    error_response,
    handle_request,
    stream_read,
    stream_read_response,
)
from orestes_spark.engine import ConcurrentWriterError

START = 1_700_000_000_000


@pytest.fixture()
def loaded(engine):
    pts = [
        {"time": START + i, "value": float(i), "host": "ab"[i % 2]} for i in range(10)
    ]
    assert handle_request(engine, "write", pts) == {"errors": []}
    return engine


def test_read_shape(loaded):
    out = handle_request(loaded, "read", {"query": {"term": {"host": "a"}}, "start": 0, "end": START + 100})
    assert set(out) == {"series"}
    (s,) = out["series"]
    assert s["tags"] == {"host": "a"}
    assert s["points"] == [[START + i, float(i)] for i in range(0, 10, 2)]


def test_count_shape_and_agg_validation(loaded):
    out = handle_request(loaded, "read", {"aggregations": [{"type": "count"}], "end": START + 100})
    assert sorted((s["tags"]["host"], s["count"]) for s in out["series"]) == [("a", 5), ("b", 5)]
    with pytest.raises(ApiError) as e:
        handle_request(loaded, "read", {"aggregations": [{"type": "avg"}]})
    assert e.value.status == 400


def test_series_and_select_distinct_shapes(loaded):
    out = handle_request(loaded, "series", {})
    assert sorted(t["host"] for t in out["series"]) == ["a", "b"]
    combos = handle_request(loaded, "select_distinct", {"keys": ["host", "nope"]})
    assert sorted((c["host"], c["nope"]) for c in combos) == [("a", None), ("b", None)]
    with pytest.raises(ApiError):
        handle_request(loaded, "select_distinct", {})


def test_write_error_shape(engine):
    out = handle_request(engine, "write", [{"value": 1}])
    assert out["errors"][0]["error"] == 'missing required keys: ["time"]'


def test_stream_read_yields_once_per_series(loaded):
    """Incremental-delivery parity
    (/root/reference/test/http-api.spec.js:316-336: #callback
    invocations == #series, each with tags and points)."""
    body = {"start": 0, "end": START + 100}
    seen = list(stream_read(loaded, body))
    assert len(seen) == 2
    for s in seen:
        assert "tags" in s and "points" in s
    full = handle_request(loaded, "read", body)
    assert sorted(json.dumps(s, sort_keys=True) for s in full["series"]) == sorted(
        json.dumps(s, sort_keys=True) for s in seen
    )


def test_stream_read_response_framing(loaded):
    """Wire framing: '{\"series\":[' prefix, one chunk per series,
    ']}' terminator — and the whole stream parses as the batch JSON."""
    chunks = list(stream_read_response(loaded, {"start": 0, "end": START + 100}))
    assert chunks[0] == '{"series":['
    assert chunks[-1] == "]}"
    assert len(chunks) == 4  # prefix + 2 series + terminator
    parsed = json.loads("".join(chunks))
    assert len(parsed["series"]) == 2


def test_stream_read_partial_results_then_error(loaded, monkeypatch):
    """Mid-stream failure keeps already-delivered series and terminates
    with '], \"error\": ...}' (/root/reference/lib/orestes.js:159-163)."""

    real_read_fetchers = type(loaded).read_fetchers

    def exploding_fetchers(self, query, space, start, end):
        real = iter(real_read_fetchers(self, query, space, start, end))
        yield next(real)
        raise RuntimeError("Cannot achieve consistency level QUORUM")

    monkeypatch.setattr(type(loaded), "read_fetchers", exploding_fetchers)
    chunks = list(stream_read_response(loaded, {"start": 0, "end": START + 100}))
    assert chunks[0] == '{"series":['
    assert chunks[-1] == '], "error": "Cannot achieve consistency level QUORUM"}'
    assert len(chunks) == 3  # prefix + ONE delivered series + error terminator
    # the partial stream is still well-formed JSON
    parsed = json.loads("".join(chunks))
    assert len(parsed["series"]) == 1 and "error" in parsed


def test_error_response_shapes():
    """Error-handler middleware parity: {code, message, info} body,
    status from the error, overload signatures mapped to 503
    (/root/reference/lib/middleware/error-handler.js:10-35,
    /root/reference/lib/cassandra/cassandra-errors.js:1-8)."""
    status, body = error_response(ApiError(400, "bad body"))
    assert status == 400 and body == {"code": "INTERNAL", "message": "bad body", "info": {}}
    status, body = error_response(RuntimeError("boom"))
    assert status == 500 and body["code"] == "INTERNAL" and body["message"] == "boom"
    status, _ = error_response(RuntimeError("Cannot achieve consistency level ONE"))
    assert status == 503
    status, _ = error_response(RuntimeError("java.lang.OutOfMemoryError: heap"))
    assert status == 503
    status, body = error_response(ConcurrentWriterError("space 'x' is locked by a live writer"))
    assert status == 409 and body["code"] == "CONFLICT"


def test_delete_and_errors(loaded):
    out = handle_request(loaded, "delete", {"keep_days": 0})
    assert out["ok"] and out["dropped_buckets"]
    with pytest.raises(ApiError) as e:
        handle_request(loaded, "read", {"query": {"fuzzy": {"host": "a"}}})
    assert e.value.status == 400
    with pytest.raises(ApiError) as e:
        handle_request(loaded, "nope", {})
    assert e.value.status == 404


def test_stream_read_error_terminator_stays_valid_json(loaded, monkeypatch):
    import json

    from orestes_spark import api

    def boom(*a, **k):
        raise RuntimeError('Py4J says: "quoted"\nand a\\second line')
        yield  # pragma: no cover

    monkeypatch.setattr(api, "stream_read", boom)
    chunks = list(api.stream_read_response(loaded, {}, "default"))
    doc = json.loads("".join(chunks))  # must parse despite quotes/newlines
    assert doc["series"] == []
    assert "quoted" in doc["error"] and "second line" in doc["error"]


def test_multiple_count_aggregations_rejected(loaded):
    import pytest

    from orestes_spark.api import ApiError, handle_request

    with pytest.raises(ApiError) as exc:
        handle_request(
            loaded, "read", {"aggregations": [{"type": "count"}, {"type": "count"}]}
        )
    assert exc.value.status == 400


def test_delete_series_filter_endpoint(loaded):
    out = handle_request(loaded, "delete", {"series_filter": {"term": {"host": "a"}}})
    assert out == {"ok": True, "series_removed": 1}
    read = handle_request(loaded, "read", {"start": 0, "end": START + 100})
    assert [s["tags"] for s in read["series"]] == [{"host": "b"}]
    # unselective filter is a contract 400, not a 500
    with pytest.raises(ApiError) as e:
        handle_request(loaded, "delete", {"series_filter": {"match_all": {}}})
    assert e.value.status == 400


def test_read_accepts_iso_time_params(loaded):
    """Reference parity: start/end may be ISO-8601 strings
    (new Date(...) semantics), not just epoch numbers."""
    iso = handle_request(loaded, "read", {
        "start": "2023-11-14T22:13:20Z", "end": START + 100})
    ms = handle_request(loaded, "read", {"start": START, "end": START + 100})
    assert iso == ms and iso["series"]
    with pytest.raises(ApiError) as e:
        handle_request(loaded, "read", {"start": "not-a-time"})
    assert e.value.status == 400


def test_time_params_js_falsy_fallbacks(loaded):
    """new Date(body.end || Date.now()) parity: falsy end (0, '',
    null) falls back to 'now'; falsy start falls back to 0; true → 1."""
    full = handle_request(loaded, "read", {"start": 0, "end": START + 100})
    for falsy in (0, "", None, False):
        got = handle_request(loaded, "read", {"start": falsy})  # end absent → now
        assert got == full
    got = handle_request(loaded, "read", {"end": 0})  # falsy end → now, not epoch 0
    assert got == full
    assert handle_request(loaded, "read", {"start": True, "end": START + 100}) == full


def test_embedded_reference_name_parity(spark, tmp_path):
    """The reference's embedded module surface under its exact names
    (/root/reference/lib/orestes.js:245-256): init/startup/teardown,
    write/read/count_points/get_stream_list/get_stream_list_opt/
    remove — thin delegation over the engine, port-site-compatible."""
    import json
    import urllib.request

    from orestes_spark.embedded import Orestes

    START = 1_700_000_000_000
    o = Orestes().startup(
        {
            "warehouse": str(tmp_path / "wh_embed"),
            "port": 0,
            "spaces": {"default": {"table_granularity_days": 1}},
        },
        spark,
    )
    try:
        assert o.write([{"time": START + i, "value": float(i), "host": "a"} for i in range(4)]) == []
        assert o.read(None, "default", 0, START + 10**9).count() == 1  # one series
        assert o.count_points(None, "default", 0, START + 10**9).first()["count"] == 4
        assert o.get_stream_list(None, "default", 0, START + 10**9).count() == 1
        got = o.get_stream_list_opt(
            None, "default", {"grouping": ["host"], "es_aggr": {"ignored": True}}
        ).collect()
        assert [r["host"] for r in got] == ["a"]
        # the listener startup() started is the real HTTP surface
        host, port = o.server_address
        body = json.dumps({"start": 0, "end": START + 10**9}).encode()
        req = urllib.request.Request(
            f"http://{host}:{port}/series", body, {"Content-Type": "application/json"}
        )
        resp = urllib.request.urlopen(req).read()
        assert b'"host"' in resp and b'"a"' in resp, resp
        assert o.remove({"keep_days": 0}) != []  # today's bucket dropped
    finally:
        o.teardown()
