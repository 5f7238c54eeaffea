"""Write-time validation with per-point error collection (S4/S5).

The reference rejects individual bad points while the rest of the batch
proceeds, returning ``{errors: [{point, error}]}``
(/root/reference/lib/orestes-utils.js:158-182,
 /root/reference/lib/orestes-inserter.js:51-60). Error strings are kept
identical so clients can match on them:

  - ``missing required keys: ["time"]`` / ``["value"]`` (absent keys,
    with the reference's truthiness quirk: a falsy present key counts
    as missing once validateHasAll runs)
  - ``invalid value <v>``          (present but non-numeric / NaN /
    null value; JS spelling — null, NaN, true)
  - ``metrics must have at least one tag``
  - ``invalid tag - value is an object or array``

Implementation is a declarative split: one pass computes an ``error``
column with ``when`` chains; ``valid``/``errors`` are two filters over
the same classified frame, which is not cached — Catalyst collapses each
into a single scan. Over a driver-side LocalRelation (``engine.write``'s
list input) it evaluates both filters on the driver, with no Spark job.
Nested-tag rejection happens at the adapter layer (a MAP<STRING,STRING>
column cannot hold an object/array; the list-of-dicts adapter checks).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERR_MISSING_TIME = 'missing required keys: ["time"]'
ERR_NO_TAGS = "metrics must have at least one tag"
ERR_NESTED_TAG = "invalid tag - value is an object or array"
ERR_ONE_SCHEMA = "Can only import to one schema per insert"


def _js_str(v: "Any") -> str:
    """String(value) as JS would render it, for error-message parity."""
    if isinstance(v, dict):
        return "[object Object]"
    if isinstance(v, (list, tuple)):
        return ",".join(_js_str(x) for x in v)
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    return str(v)


def err_nested_tag(key: "Any", value: "Any") -> str:
    """Reference spelling (/root/reference/lib/orestes-utils.js:176):
    'invalid tag - value is an object or array ' + key + ' : ' + value."""
    return f"{ERR_NESTED_TAG} {key} : {_js_str(value)}"


def err_invalid_value(v: Any) -> str:
    """Reference spelling (/root/reference/lib/orestes-utils.js:170-171
    'invalid value ' + value under JS stringification): null/true/
    false/NaN, not Python's None/True/False/nan."""
    if v is None:
        s = "null"
    elif v is True:
        s = "true"
    elif v is False:
        s = "false"
    elif isinstance(v, float) and v != v:
        s = "NaN"
    else:
        s = str(v)
    return f"invalid value {s}"


def classify(points: DataFrame, null_time_error: str = ERR_MISSING_TIME) -> DataFrame:
    """Add an ``error`` STRING column (NULL ⇒ valid) to a canonical
    (time_ms, value, tags) frame. time_ms NULL means unparseable/missing
    time; value NULL/NaN is invalid; empty tags map is invalid.

    ``null_time_error``: for list-input writes the adapter has already
    guaranteed the time KEY was present, so a NULL time_ms there means
    present-but-unparseable — the reference's distinct 'invalid
    timestamp' error (orestes-utils.js:81-88), not missing-keys.
    DataFrame inputs keep the missing-keys default (a NULL cell is the
    closest analogue of an absent key)."""
    error = (
        F.when(F.col("time_ms").isNull(), F.lit(null_time_error))
        .when(
            F.col("value").isNull() | F.isnan(F.col("value")),
            F.concat(
                F.lit("invalid value "),
                # JS spelling: a NULL value reads as null, NaN as NaN
                F.when(F.col("value").isNull(), F.lit("null")).otherwise(F.lit("NaN")),
            ),
        )
        .when(F.size(F.map_keys(F.col("tags"))) == 0, F.lit(ERR_NO_TAGS))
    )
    return points.withColumn("error", error)


ERR_INVALID_TIMESTAMP = "invalid timestamp"


def split_valid(
    points: DataFrame, null_time_error: str = ERR_MISSING_TIME
) -> tuple[DataFrame, DataFrame]:
    """Return (valid_points, errors). ``errors`` has (time_ms, value,
    tags, error)."""
    classified = classify(points, null_time_error)
    valid = classified.where(F.col("error").isNull()).drop("error")
    errors = classified.where(F.col("error").isNotNull())
    return valid, errors


def validate_raw_rows(rows: list[dict[str, Any]]) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Driver-side adapter for reference-style JSON point lists.

    Performs the checks that require dynamic typing (nested tag values,
    missing keys) before the data ever becomes a DataFrame. Returns
    (valid_rows, errors) where each valid row is
    ``{"time": <ms|iso>, "value": float, "tags": {k: str}}`` and each
    error is ``{"point": <original>, "error": <reference string>}``.
    """
    valid: list[dict[str, Any]] = []
    errors: list[dict[str, Any]] = []
    # One-schema-per-insert (/root/reference/lib/orestes-inserter.js:62-66):
    # the batch's schema latches at the first TRUTHY source_type seen
    # (JS `this.schema = this.schema || pt.source_type`), after which a
    # point with a different source_type gets a per-point error — this
    # check runs BEFORE key/tag validation, matching _push's order.
    # Points before the latch with falsy source_type pass (the JS
    # truthiness quirk, preserved: Python `or`/`!=` mirror it).
    schema: Any = None
    for pt in rows:
        if isinstance(pt, dict):
            st = pt.get("source_type")
            schema = schema or st
            if schema != st:
                errors.append({"point": pt, "error": ERR_ONE_SCHEMA})
                continue
        err = _classify_raw_point(pt)
        if err is not None:
            errors.append({"point": pt, "error": err})
            continue
        v = pt["value"]
        tags = {k: val for k, val in pt.items() if k not in ("time", "value")}
        valid.append({"time": pt["time"], "value": float(v), "tags": {k: str(val) for k, val in tags.items()}})
    return valid, errors


def _classify_raw_point(pt: Any) -> str | None:
    """Reference check ORDER, exactly (orestes-utils.js:158-181):
    missing keys → no-tags → then a per-key walk in insertion order
    where the 'value' key gets the number check and every other key
    the nested-structure check. The order is observable — a tagless
    point with a bogus value reports no-tags, not invalid-value."""
    if not isinstance(pt, dict):
        # JS: hasOwnProperty fails → validateHasAll finds BOTH keys
        # undefined (cassandra/utils.js:37-47)
        return 'missing required keys: ["time","value"]'
    if "time" not in pt or "value" not in pt:
        # validateHasAll re-checks BOTH by truthiness, so {time: 0}
        # with no value reports both keys missing.
        missing = [k for k in ("time", "value") if not pt.get(k)]
        return "missing required keys: " + json.dumps(missing, separators=(",", ":"))
    if not any(k not in ("time", "value") for k in pt):
        return ERR_NO_TAGS
    for k, val in pt.items():
        if k == "value":
            if not isinstance(val, (int, float)) or isinstance(val, bool) or val != val:
                return err_invalid_value(val)
        elif k != "time" and isinstance(val, (dict, list, tuple)):
            return err_nested_tag(k, val)
    return None


def time_key_ms(t: Any) -> int | None:
    """Best-effort driver-side epoch-ms, mirroring
    ``schema.normalize_time_col`` (numeric → epoch ms with the same
    double→long truncation; ISO-8601 string → UTC instant; otherwise
    None). Used for in-batch upsert dedup keys so the same instant in
    two representations (1700000000000 vs its ISO form) is ONE key —
    without it, a single delivery could store duplicate (series, time)
    rows that gated reads would return twice."""
    import datetime
    import re

    s = str(t)
    if re.fullmatch(r"-?\d+(\.\d+)?", s):
        try:
            return int(float(s))
        except (ValueError, OverflowError):
            return None
    # fromisoformat rejects >6 fractional digits; Spark truncates to
    # micros — do the same so both sides key the same instant. Any
    # format that still parses differently (or only Spark-side) is
    # caught by the caller: a None key arms the merge gate
    # (engine.write), so a mismatch can cost a merge read, never a
    # duplicate row served.
    s = re.sub(r"(\.\d{6})\d+", r"\1", s)
    try:
        dt = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)
