"""ES ingest pipelines (``PUT _ingest/pipeline`` + ``?pipeline=`` on
index requests): an ordered list of PROCESSORS applied to every
document before it reaches the index. Public ES semantics per the
ingest-processor reference; this module implements the documented
subset below and raises on anything else (the search_template /
wrapper discipline — never a silent misread).

Spark-first lowering: a pipeline is a pure ``DataFrame -> DataFrame``
transform — each processor appends/rewrites COLUMNS with built-in
expressions (withColumn / regexp_extract / split / casts), so the
whole pipeline stays inside whole-stage codegen and composes with any
downstream build (``build_index(apply_pipeline(df, procs), cfg)``).
No UDFs, no shuffles — a pipeline adds ZERO exchanges to the plan
that consumes it.

Processor subset (field names mirror the ES JSON bodies)::

    {"set":       {"field", "value" | "copy_from",
                   "override": bool (default True)}}
    {"rename":    {"field", "target_field"}}
    {"remove":    {"field" | "fields": [...]}}
    {"lowercase": {"field", "target_field"?}}
    {"uppercase": {"field", "target_field"?}}
    {"trim":      {"field", "target_field"?}}
    {"gsub":      {"field", "pattern", "replacement", "target_field"?}}
    {"split":     {"field", "separator" (regex), "target_field"?}}
    {"join":      {"field", "separator", "target_field"?}}
    {"convert":   {"field", "type": integer|long|float|double|string|
                   boolean, "target_field"?}}
    {"grok":      {"field", "patterns": [one pattern]}}
    {"dissect":   {"field", "pattern"}}
    {"date":      {"field", "formats": [one java-time format],
                   "target_field" (default "@timestamp")}}
                                 (a value the format cannot parse
                                  yields null — ES fails the
                                  document instead)
    {"script":    {"source": <Spark SQL expression>, "target_field"}}
    {"fail":      {"message"}}   (raises at PLAN time — ES's is a
                                  per-doc runtime failure; this
                                  engine's documented reading is a
                                  pipeline-rejects-build contract)

Per-processor ``if`` conditions take a Spark SQL boolean expression
string (ES uses Painless; the engine's script hook is SQL) — the
processor applies per-row where the condition holds and the prior
value is kept elsewhere (exactly ES's conditional-processor model).
GROK/DISSECT reuse the ES|QL lowering (plans/esql.py) — identical
pattern dialects, identical null-on-nonmatch behavior.

``on_failure`` / ``ignore_failure`` are NOT implemented: every lowered
processor is total (non-matching grok yields nulls rather than
failing), so the ES failure model has nothing to catch here; passing
those keys raises to keep the misread impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CONVERT_TYPES = {
    "integer": "int", "long": "bigint", "float": "float",
    "double": "double", "string": "string", "boolean": "boolean",
}


class IngestError(ValueError):
    pass


def _req(body: dict, key: str):
    if key not in body:
        raise IngestError(f"processor body needs {key!r}: {body}")
    return body[key]


def _guard(df: DataFrame, body: dict, target: str, col: Column) -> DataFrame:
    """Apply ``col`` to ``target``, honoring the processor's ``if``
    condition (rows failing the condition keep their prior value, or
    null when the column is new — the ES conditional contract)."""
    cond = body.get("if")
    if cond is None:
        return df.withColumn(target, col)
    prior = F.col(target) if target in df.columns else F.lit(None)
    return df.withColumn(target, F.when(F.expr(cond), col).otherwise(prior))


def apply_pipeline(df: DataFrame, processors: "list[dict]") -> DataFrame:
    """Apply an ES ingest pipeline (a list of single-key processor
    objects) to ``df``. Returns the transformed frame; raises
    IngestError on unknown processors/options."""
    for proc in processors:
        if not isinstance(proc, dict) or len(proc) != 1:
            raise IngestError(f"processor must be a single-key object: {proc}")
        (kind, body), = proc.items()
        if not isinstance(body, dict):
            raise IngestError(f"processor {kind!r}: body must be an object")
        if "on_failure" in body or "ignore_failure" in body:
            raise IngestError(
                f"processor {kind!r}: on_failure/ignore_failure are not "
                "supported — lowered processors are total (grok/dissect "
                "yield nulls on non-match)")
        df = _apply_one(df, kind, body)
    return df


def _apply_one(df: DataFrame, kind: str, body: dict) -> DataFrame:
    if kind == "set":
        field = _req(body, "field")
        if "copy_from" in body:
            val = F.col(body["copy_from"])
        elif "value" in body:
            val = F.lit(body["value"])
        else:
            raise IngestError("set needs value or copy_from")
        if not body.get("override", True) and field in df.columns:
            val = F.coalesce(F.col(field), val)
        return _guard(df, body, field, val)

    if kind == "rename":
        field, tgt = _req(body, "field"), _req(body, "target_field")
        if field not in df.columns:
            raise IngestError(f"rename: unknown field {field!r}")
        if tgt in df.columns:
            raise IngestError(f"rename: target {tgt!r} already exists (ES)")
        if "if" in body:
            raise IngestError("rename: per-row `if` cannot be expressed "
                              "on a schema operation — split the pipeline")
        return df.withColumnRenamed(field, tgt)

    if kind == "remove":
        fields = body.get("fields", [body["field"]] if "field" in body else None)
        if not fields:
            raise IngestError("remove needs field or fields")
        missing = [f for f in fields if f not in df.columns]
        if missing:
            raise IngestError(f"remove: unknown fields {missing}")
        if "if" in body:
            raise IngestError("remove: per-row `if` cannot be expressed "
                              "on a schema operation — split the pipeline")
        return df.drop(*fields)

    if kind in ("lowercase", "uppercase", "trim"):
        field = _req(body, "field")
        tgt = body.get("target_field", field)
        fn = {"lowercase": F.lower, "uppercase": F.upper,
              "trim": F.trim}[kind]
        return _guard(df, body, tgt, fn(F.col(field)))

    if kind == "gsub":
        field = _req(body, "field")
        tgt = body.get("target_field", field)
        return _guard(df, body, tgt, F.regexp_replace(
            F.col(field), _req(body, "pattern"), _req(body, "replacement")))

    if kind == "split":
        field = _req(body, "field")
        tgt = body.get("target_field", field)
        return _guard(df, body, tgt,
                      F.split(F.col(field), _req(body, "separator")))

    if kind == "join":
        field = _req(body, "field")
        tgt = body.get("target_field", field)
        return _guard(df, body, tgt,
                      F.array_join(F.col(field), _req(body, "separator")))

    if kind == "convert":
        field = _req(body, "field")
        tgt = body.get("target_field", field)
        typ = _req(body, "type")
        if typ not in _CONVERT_TYPES:
            raise IngestError(f"convert: unsupported type {typ!r}")
        # ES convert fails the doc on a bad value; under ANSI Spark a
        # plain cast would fail the whole job — try_cast gives the
        # null-on-bad-value reading, documented deviation
        return _guard(df, body, tgt,
                      F.expr(f"try_cast(`{field}` AS {_CONVERT_TYPES[typ]})"))

    if kind == "grok":
        from ..plans.esql import _grok_columns

        field = _req(body, "field")
        pats = _req(body, "patterns")
        if not isinstance(pats, list) or len(pats) != 1:
            raise IngestError(
                "grok: exactly one pattern is supported (ES tries a "
                "list in order; a single total pattern is the "
                "deterministic subset)")
        out = df
        for name, expr, cast in _grok_columns(field, pats[0]):
            col = F.expr(expr)
            if cast:
                col = col.cast(cast)
            out = _guard(out, body, name, col)
        return out

    if kind == "dissect":
        from ..plans.esql import _dissect_columns

        field = _req(body, "field")
        out = df
        for name, expr, _ in _dissect_columns(field, _req(body, "pattern")):
            out = _guard(out, body, name, F.expr(expr))
        return out

    if kind == "date":
        field = _req(body, "field")
        fmts = _req(body, "formats")
        if not isinstance(fmts, list) or len(fmts) != 1:
            raise IngestError("date: exactly one format is supported")
        tgt = body.get("target_field", "@timestamp")
        fmt = fmts[0]
        # try_to_timestamp, not to_timestamp: under this repo's ANSI mode
        # a plain to_timestamp throws on any malformed string and kills
        # the whole job, contradicting the module's totality contract;
        # null-on-bad-value matches the `convert` processor's try_cast
        # reading (ADVICE r05)
        col = (F.try_to_timestamp(F.col(field)) if fmt == "ISO8601"
               else F.try_to_timestamp(F.col(field), F.lit(fmt)))
        return _guard(df, body, tgt, col)

    if kind == "script":
        tgt = _req(body, "target_field")
        return _guard(df, body, tgt, F.expr(_req(body, "source")))

    if kind == "fail":
        raise IngestError(
            f"fail processor: {body.get('message', '(no message)')}")

    raise IngestError(f"unsupported ingest processor: {kind!r}")
