"""Schema-driven structured extraction — the reference's EXTRACTION mode
re-expressed declaratively (SURVEY.md §2.7 A5-A7, §2.5 M2).

Reference semantics preserved:

- ``split_schema``: a user JSON Schema's properties are partitioned into
  per-page vs full-document sub-schemas by an ``extract_per_page`` key list,
  ``required`` split accordingly (node-zerox/src/utils/common.ts:85-121).
- per-page extraction runs on every page; values accumulate as
  (key → [{page, value}]) with nulls skipped (index.ts:435-443, A5).
- full-document extraction runs on the pages joined with the
  "\\n<hr><hr>\\n" page delimiter (index.ts:482-491, A2).
- results merge by key union (index.ts:540-552, A6).

Where the reference asks an LLM for each value, this engine compiles each
property to a **deterministic selector** declared as an ``x-selector``
annotation on the property:

    first_heading          text of the first markdown heading
    regex:<pattern>        first match (group 1 if the pattern has one)
    span_count:<kind>      number of provenance spans of that kind
    content_length         characters of (page | joined doc) markdown
    page_count             number of pages (doc scope only)

Every selector compiles to a pure Catalyst Column (regexp_extract / size /
filter / length) — the whole operator is JVM-side whole-stage-codegen'able;
no Python runs per row. Output is the flat accumulation table
(url, key, page_no, value) with page_no=0 for doc-scope values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from zerox_spark.extract.pages import PAGE_DELIM

# (?m)^ anchor: an unanchored '#{1,6} ' matches mid-line ("item # 5",
# "C# rocks") and would return non-heading text as the title
_HEADING_RE = r"(?m)^#{1,6} ([^\n]*)"


def split_schema(
    schema: dict, extract_per_page: list[str] | None
) -> tuple[dict, dict]:
    """Partition a JSON Schema into (per_page, full_doc) sub-schemas
    (common.ts:85-121: properties split by key list, required split to
    follow their properties)."""
    per_page_keys = set(extract_per_page or [])
    props = schema.get("properties", {})
    required = schema.get("required", [])

    def sub(keys: set[str]) -> dict:
        return {
            "type": "object",
            "properties": {k: v for k, v in props.items() if k in keys},
            "required": [r for r in required if r in keys],
        }

    page_schema = sub(per_page_keys & set(props))
    doc_schema = sub(set(props) - per_page_keys)
    return page_schema, doc_schema


def _compile_selector(
    spec: dict, markdown: Column, spans: Column | None, n_pages: Column | None
) -> Column:
    """Property spec → Column producing the value (string) or NULL."""
    selector = spec.get("x-selector", "content_length")
    if selector == "first_heading":
        v = F.regexp_extract(markdown, _HEADING_RE, 1)
        return F.when(v != "", v)
    if selector.startswith("regex:"):
        pattern = selector[len("regex:") :]
        # validate-at-plan-time: a groupless pattern with index 1 is a
        # RUNTIME IllegalArgumentException that kills the whole job, and
        # an invalid pattern should fail before submit, not mid-task
        import re as _re

        try:
            n_groups = _re.compile(pattern).groups
        except _re.error as exc:
            raise ValueError(
                f"invalid regex selector {pattern!r}: {exc}"
            ) from exc
        v = F.regexp_extract(markdown, pattern, 1 if n_groups else 0)
        return F.when(v != "", v)
    if selector.startswith("span_count:"):
        kind = selector[len("span_count:") :]
        if spans is None:
            raise ValueError("span_count selector needs page scope")
        return F.size(
            F.filter(spans, lambda s: s["kind"] == F.lit(kind))
        ).cast("string")
    if selector == "content_length":
        return F.length(markdown).cast("string")
    if selector == "page_count":
        if n_pages is None:
            raise ValueError("page_count is a doc-scope selector")
        return n_pages.cast("string")
    raise ValueError(f"unknown x-selector {selector!r}")


def extract_structured(
    extracted: DataFrame,
    schema: dict,
    extract_per_page: list[str] | None = None,
) -> DataFrame:
    """extracted(url, page_no, markdown, spans, …) + JSON schema →
    (url, key, page_no, value); page_no=0 marks doc-scope values (A6 merge
    is the union of the two scopes)."""
    page_schema, doc_schema = split_schema(schema, extract_per_page)

    # ONE pass per scope, not one select per property: the upstream
    # extraction subtree is expensive (mapInArrow over the corpus) and
    # Catalyst does not reuse subplans across union branches — a
    # k-property schema would re-run the whole extraction k times.
    # All properties of a scope compile into a single (key, value)
    # struct array exploded in one projection.
    outputs: list[DataFrame] = []
    if page_schema["properties"]:
        kvs = F.array(
            *[
                F.struct(
                    F.lit(key).alias("key"),
                    _compile_selector(
                        spec, F.col("markdown"), F.col("spans"), None
                    ).alias("value"),
                )
                for key, spec in page_schema["properties"].items()
            ]
        )
        outputs.append(
            extracted.select("url", "page_no", F.explode(kvs).alias("kv"))
            .select(
                "url",
                F.col("kv.key").alias("key"),
                F.col("page_no"),
                F.col("kv.value").alias("value"),
            )
            .filter(F.col("value").isNotNull())
        )

    if doc_schema["properties"]:
        from zerox_spark.operators.extract import pages_join_expr

        doc = extracted.groupBy("url").agg(
            pages_join_expr(PAGE_DELIM).alias("doc_markdown"),
            F.count(F.lit(1)).alias("n_pages"),
        )
        kvs_doc = F.array(
            *[
                F.struct(
                    F.lit(key).alias("key"),
                    _compile_selector(
                        spec, F.col("doc_markdown"), None, F.col("n_pages")
                    ).alias("value"),
                )
                for key, spec in doc_schema["properties"].items()
            ]
        )
        outputs.append(
            doc.select("url", F.explode(kvs_doc).alias("kv"))
            .select(
                "url",
                F.col("kv.key").alias("key"),
                F.lit(0).cast("int").alias("page_no"),
                F.col("kv.value").alias("value"),
            )
            .filter(F.col("value").isNotNull())
        )

    if not outputs:
        raise ValueError("schema has no properties")
    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    return out
