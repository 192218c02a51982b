"""Code-fence post-processing and file-name sanitizing: the Python SDK's
output dialect.

The reference's model sometimes wraps a whole page in ```markdown fences;
the Python SDK (`py_zerox/pyzerox/processor/text.py:7-12`, patterns at
`py_zerox/pyzerox/constants/patterns.py:4-6`) unwraps whole-string
```` ```lang\n...\n``` ```` and bare ```` ```\n...\n``` ```` wrappers with
anchored regexes and keeps every interior fence.

The Node SDK strips ```html/```markdown markers anywhere and sanitizes file
names differently (node-zerox/src/utils/common.ts:50-60, index.ts:556-562).
Per SURVEY.md §7 this engine standardizes on the Python SDK's rules; the Node
variants are documented divergences (PARITY.md) with no code behind them.
The regexes are re-stated here as *behavioral constants* of the output
dialect.
"""

from __future__ import annotations

import re

# Python-SDK anchored unwrap patterns (py_zerox/pyzerox/constants/patterns.py:4-6)
_MATCH_MARKDOWN_BLOCKS = re.compile(r"^```[a-z]*\n([\s\S]*?)\n```$")
_MATCH_CODE_BLOCKS = re.compile(r"^```\n([\s\S]*?)\n```$")


def format_markdown(text: str) -> str:
    """Unwrap anchored whole-string fences (Python-SDK semantics)."""
    text = _MATCH_MARKDOWN_BLOCKS.sub(r"\1", text)
    text = _MATCH_CODE_BLOCKS.sub(r"\1", text)
    return text


def sanitize_filename(path_or_name: str) -> str:
    """Python-SDK file-name sanitization (py_zerox/pyzerox/core/zerox.py:123-126):
    every non-alphanumeric char → '_', lowercase, truncated to 255."""
    base = path_or_name.rsplit("/", 1)[-1]
    stem = base.rsplit(".", 1)[0] if "." in base else base
    return "".join(c.lower() if c.isalnum() else "_" for c in stem)[:255]
