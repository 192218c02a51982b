"""Single-document convenience API mirroring the reference's entry point.

A user of the reference calls ``zerox(file_path=..., select_pages=...,
maintain_format=...)`` and gets a ``ZeroxOutput`` (node-zerox/src/types.ts:
46-55; py_zerox/pyzerox/core/types.py:33-43). This module is the drop-in
ergonomic equivalent for one document — no Spark session needed; the
distributed pipeline (pipeline.py) is the same core at fleet scale.

Field mapping (ZeroxOutput → ours): completion_time (ms), file_name
(sanitized), pages[{content, content_length, page}], summary{total_pages,
successful, failed}; input/output token counts are 0 by construction (no
LLM — documented divergence).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from zerox_spark.extract.core import ExtractConfig, PageResult, extract_document
from zerox_spark.extract.fences import sanitize_filename
from zerox_spark.extract.pages import join_document


@dataclass
class ZeroxOutput:
    completion_time: float  # ms (index.ts:574-575 / zerox.py:179-180)
    file_name: str
    pages: list[PageResult]
    summary: dict = field(default_factory=dict)
    input_tokens: int = 0  # no LLM: always 0 (divergence, documented)
    output_tokens: int = 0

    @property
    def markdown(self) -> str:
        return join_document([p.markdown for p in self.pages])


def zerox(
    file_path: str | None = None,
    content: bytes | None = None,
    text: str | None = None,
    select_pages: int | list[int] | None = None,
    maintain_format: bool = False,
    output_dir: str | None = None,
    error_mode: str = "IGNORE",
) -> ZeroxOutput:
    """Extract one document (path or raw bytes) → ZeroxOutput.

    Mirrors the reference flow: read → extract per page → optional
    maintainFormat fold → optional ``{output_dir}/{file_name}.md`` artifact
    (index.ts:564-568) → result assembly (index.ts:577-607)."""
    t0 = time.monotonic()
    if content is None and file_path is not None:
        with open(file_path, "rb") as fh:
            content = fh.read()
    if content is None and text is None:
        # text-only extraction is a first-class path (the trusted-text
        # fast route) — only a fully-empty call is an error
        raise ValueError("file_path, content, or text is required")
    name = sanitize_filename(file_path or "document") or "document"

    config = ExtractConfig(
        select_pages=list(select_pages) if isinstance(select_pages, list) else select_pages,
        maintain_format=maintain_format,
        error_mode=error_mode,
    )
    pages = extract_document(content, text, config)

    successful = sum(1 for p in pages if p.status == "SUCCESS")
    out = ZeroxOutput(
        completion_time=round((time.monotonic() - t0) * 1000, 3),
        file_name=name,
        pages=pages,
        summary={
            "total_pages": len(pages),
            "ocr": {"successful": successful, "failed": len(pages) - successful},
        },
    )
    if output_dir:
        os.makedirs(output_dir, exist_ok=True)
        with open(
            os.path.join(output_dir, f"{name}.md"), "w", encoding="utf-8"
        ) as fh:
            fh.write(out.markdown)
    return out
