"""DOM-array builder: token stream → flat node array with parent links.

A flat array (not an object tree) keeps per-batch memory compact and lets the
scoring pass (score.py) run as simple array sweeps — the Arrow-batch analog
of the reference's per-page image buffer (SURVEY.md §1.1 "Image buffer(s)").

HTML5-ish implied-end-tag handling: <p>, <li>, <tr>, <td>/<th>, <option>,
<dd>/<dt> auto-close per the spec's "in body" insertion rules (simplified);
unmatched end tags are dropped; EOF closes everything.
"""

from __future__ import annotations

from zerox_spark.html.tokenizer import VOID_ELEMENTS, tokenize, unescape

_EMPTY_ATTRS: dict[str, str] = {}


class Node:
    """Flat DOM node. __slots__ + hand-rolled init: this constructor runs
    once per tag/text of every document on the cluster — dataclass
    default-factory lambdas measurably show up in the profile."""

    __slots__ = ("idx", "tag", "parent", "attrs", "children", "text")

    def __init__(
        self,
        idx: int,
        tag: str | None,
        parent: int,
        attrs: dict[str, str] | None = None,
        text: str = "",
    ) -> None:
        self.idx = idx
        self.tag = tag
        self.parent = parent
        self.attrs = _EMPTY_ATTRS if attrs is None else attrs
        self.children: list[int] = []
        self.text = text

    def classes(self) -> list[str]:
        return self.attrs.get("class", "").lower().split()


BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
        "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
        "header", "hr", "main", "nav", "ol", "p", "pre", "section", "table",
        "ul",
    }
)

# tag -> set of open tags it implicitly closes (innermost-first search)
_IMPLIED_CLOSERS: dict[str, frozenset[str]] = {
    "p": frozenset({"p"}),
    "li": frozenset({"li"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "dd": frozenset({"dd", "dt"}),
    "dt": frozenset({"dd", "dt"}),
    "option": frozenset({"option"}),
}
for _block in BLOCK_TAGS:
    _IMPLIED_CLOSERS.setdefault(_block, frozenset({"p"}))


def parse(src: str) -> list[Node]:
    """Parse HTML into a node array. nodes[0] is a synthetic root."""
    nodes: list[Node] = [Node(0, "#root", -1)]
    stack: list[int] = [0]  # open-element indices

    # positional unpacking + bound methods: this loop runs once per token of
    # every document on the cluster
    implied = _IMPLIED_CLOSERS.get
    append = nodes.append
    for kind, tag, attrs, text, self_closing in tokenize(src):
        if kind == "text":
            parent = stack[-1]
            ptag = nodes[parent].tag
            decoded = text if ptag in ("script", "style") else unescape(text)
            if decoded:
                node = Node(len(nodes), None, parent, text=decoded)
                append(node)
                nodes[parent].children.append(node.idx)
        elif kind == "start":
            closers = implied(tag)
            if closers:
                # close innermost open element that this tag implies closed,
                # but never cross a table/list/cell boundary looking for it
                for depth in range(len(stack) - 1, 0, -1):
                    t = nodes[stack[depth]].tag
                    if t in closers:
                        del stack[depth:]
                        break
                    if t in ("table", "ul", "ol", "td", "th", "body", "article"):
                        break
            parent = stack[-1]
            node = Node(len(nodes), tag, parent, attrs=attrs)
            append(node)
            nodes[parent].children.append(node.idx)
            if not self_closing and tag not in VOID_ELEMENTS:
                stack.append(node.idx)
        elif kind == "end":
            # pop to the matching open tag if present; else ignore
            for depth in range(len(stack) - 1, 0, -1):
                if nodes[stack[depth]].tag == tag:
                    del stack[depth:]
                    break
        # comments/doctype dropped
    return nodes


def node_text(nodes: list[Node], idx: int) -> str:
    """Concatenated raw text under a node (document order): the text
    accessor of this module's public DOM API, next to ``parse``. The
    scoring and emit passes walk the node array themselves."""
    out: list[str] = []
    _collect_text(nodes, idx, out)
    return "".join(out)


def _collect_text(nodes: list[Node], idx: int, out: list[str]) -> None:
    node = nodes[idx]
    if node.tag is None:
        out.append(node.text)
        return
    if node.tag in ("script", "style", "noscript"):
        return
    for c in node.children:
        _collect_text(nodes, c, out)
