"""The query layer's artifact registry: one cache for every shared
artifact, keyed by (name, sf_dir) and valid only for the SparkSession
that built it. Mechanism tests use throwaway artifacts on a private
cache so the real registry is never disturbed."""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

import pytest

from orestes_spark import queries


@pytest.fixture()
def registry(monkeypatch):
    """A private cache and an empty timed list; returns a counter of
    builder calls by artifact name."""
    monkeypatch.setattr(queries, "_ARTIFACTS", {})
    monkeypatch.setattr(queries, "_TIMED", {})
    monkeypatch.setattr(queries, "ARTIFACT_CONSUMERS", {})
    return {}


def _counting(calls: dict, name: str, value):
    def build(spark, sf_dir):
        calls[name] = calls.get(name, 0) + 1
        return value(sf_dir)

    return build


def test_hit_returns_the_same_object(spark, registry):
    get = queries.artifact("throwaway", timed=False)(
        _counting(registry, "throwaway", lambda sf: object())
    )
    first = get(spark, "sfA")
    assert get(spark, "sfA") is first
    assert registry["throwaway"] == 1
    assert get(spark, "sfB") is not first  # keyed by sf_dir too
    assert registry["throwaway"] == 2


def test_other_session_rebuilds(spark, registry):
    get = queries.artifact("throwaway", timed=False)(
        _counting(registry, "throwaway", lambda sf: object())
    )
    first = get(spark, "sfA")
    other = spark.newSession()
    second = get(other, "sfA")
    assert second is not first and registry["throwaway"] == 2
    assert get(other, "sfA") is second and registry["throwaway"] == 2


def test_invalidate_drops_timed_paths_and_keeps_memos(spark, registry, monkeypatch):
    def make_dir(sf_dir):
        path = tempfile.mkdtemp(prefix="orestes_registry_test_") + "/leaf"
        os.makedirs(path)
        return path

    path_art = queries.artifact("throwaway_index")(
        _counting(registry, "throwaway_index", make_dir)
    )
    memo = queries.artifact("throwaway_memo", timed=False)(
        _counting(registry, "throwaway_memo", lambda sf: object())
    )
    monkeypatch.setattr(queries, "ARTIFACT_CONSUMERS", {"throwaway_index": []})
    old_path, kept = path_art(spark, "sfA"), memo(spark, "sfA")

    timings = queries.build_shared_artifacts(spark, "sfA", invalidate=True)

    assert list(timings) == ["throwaway_index"]
    assert isinstance(timings["throwaway_index"], float)
    assert not Path(old_path).parent.exists()  # the whole temp dir went
    new_path = path_art(spark, "sfA")
    assert new_path != old_path and Path(new_path).is_dir()
    assert registry["throwaway_index"] == 2
    assert memo(spark, "sfA") is kept and registry["throwaway_memo"] == 1
    # without invalidate a warm entry is only looked up
    queries.build_shared_artifacts(spark, "sfA", invalidate=False)
    assert registry["throwaway_index"] == 2
    Path(new_path).rmdir()
    Path(new_path).parent.rmdir()


def test_timed_builders_are_exactly_the_artifact_consumers():
    assert set(queries._TIMED) == set(queries.ARTIFACT_CONSUMERS)
    assert len(queries.ARTIFACT_CONSUMERS) == 16
    for name, consumers in queries.ARTIFACT_CONSUMERS.items():
        missing = [q for q in consumers if q not in queries.QUERIES]
        assert not missing, (name, missing)


def test_queries_module_keeps_no_other_dict():
    """Structural gate: a cache kept outside the registry would escape
    the bench's invalidation and timing, so queries.py may define no
    module-level dict besides the query registry (QUERIES, ORACLES),
    ARTIFACT_CONSUMERS and the artifact registry's own two."""
    allowed = {"QUERIES", "ORACLES", "ARTIFACT_CONSUMERS", "_ARTIFACTS", "_TIMED"}
    tree = ast.parse(Path(queries.__file__).read_text())
    found = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value, ann = node.targets, node.value, None
        elif isinstance(node, ast.AnnAssign):
            targets, value, ann = [node.target], node.value, node.annotation
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and ast.unparse(value.func) in {"dict", "defaultdict", "collections.defaultdict"}
        )
        if ann is not None and ast.unparse(ann).startswith("dict"):
            is_dict = True
        if is_dict:
            found |= {ast.unparse(t) for t in targets}
    assert found - allowed == set()
    assert {"QUERIES", "ARTIFACT_CONSUMERS", "_ARTIFACTS", "_TIMED"} <= found
