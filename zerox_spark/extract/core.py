"""Per-document extraction dispatch — the engine's analog of the reference's
``processOCR`` (node-zerox/src/index.ts:256-355) with its routing stage
(index.ts:161-213) and error containment (ErrorMode.IGNORE,
index.ts:338-352).

Routing is the ordered ``ROUTES`` table: the first entry whose sniff
matches the payload extracts it, the switch of index.ts:161-213. Ahead of
the table, trusted pre-extracted ``text`` takes the fast path
(index.ts:167-168) and an empty payload is an error. A named extractor
(``get_extractor``, the createModel factory analog, models/index.ts:48-80)
skips the sniffing and runs its own entry with the same decode, binary
guard and no-pages check. A user-supplied ``ExtractConfig.extractor``
callable replaces the table entirely — the customModelFunction extension
point (node-zerox/src/types.ts:9-15, invoked index.ts:287-298). Any failure
becomes an ERROR page with content "" and content_length 0 and the job
continues (the IGNORE containment).

Determinism guarantees: NFC unicode normalization, CRLF→LF, a single
whitespace-collapse rule in the emitter, no environment lookups.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Callable
from dataclasses import dataclass, field

from zerox_spark.extract.fences import format_markdown
from zerox_spark.extract.inflate import CODEC_ERRORS, inflate
from zerox_spark.extract.layout import PDF_MAGIC, SYNTH_MAGIC, pdf_to_pages
from zerox_spark.extract.markdown import Block, html_to_markdown, join_blocks
from zerox_spark.extract.pages import normalize_select_pages, select_and_renumber
from zerox_spark.extract.sheets import SHEET_MAGIC, sheets_to_pages
from zerox_spark.extract.sniff import IMAGE_KINDS, sniff_binary

STATUS_SUCCESS = "SUCCESS"
STATUS_ERROR = "ERROR"


@dataclass(frozen=True)
class Route:
    """One entry of the routing table. ``sniff`` is a magic prefix, a
    predicate, or None (matches anything); ``extract`` maps the payload to
    [(page_no, markdown, spans)]. A ``text`` route sniffs and extracts the
    decoded payload (str), after the binary guards; the others see the raw
    bytes."""

    name: str
    sniff: bytes | Callable | None
    extract: Callable
    # byte truncation would corrupt the payload, so the payload cap never
    # applies: it passes whole to a parser that enforces its own bounds
    container: bool = False
    empty_error: str | None = None  # raised when extract yields no pages
    text: bool = False
    named: bool = False  # selectable by name (get_extractor, --extractor)

    def matches(self, payload: bytes | str) -> bool:
        if self.sniff is None:
            return True
        if isinstance(self.sniff, bytes):
            return payload[: len(self.sniff)] == self.sniff
        return bool(self.sniff(payload))

    def __call__(self, html: bytes, text: str | None = None):
        """Extract through this route alone — the ``ExtractConfig.extractor``
        call contract, so a named route plugs in where a custom one would."""
        return _extract_raw(html, None, ExtractConfig(extractor=self))


def _cfb_pages(payload: bytes):
    # legacy Office (checkIsCFBFile, file.ts:89-92): .xls BIFF8
    # sheet-per-page, .doc Word97 piece-table text, .ppt — the
    # convertFileToPdf route (file.ts:129-150) without libreoffice
    from zerox_spark.extract.legacy_office import cfb_to_pages

    return cfb_to_pages(payload)


def _wpd_pages(payload: bytes):
    # WordPerfect (README.md:500): WP5.x byte-model text extraction
    from zerox_spark.extract.legacy_office import wpd_to_pages

    return wpd_to_pages(payload)


def _rtf_pages(payload: bytes):
    # RTF (README.md:495): group/control-word parse → paragraph blocks,
    # \page splits pages
    from zerox_spark.extract.rtf import rtf_to_pages

    return rtf_to_pages(payload)


def _ooxml_pages(payload: bytes):
    # OOXML/ODF zip: xlsx sheet-per-page (convertExcelToHtml analog,
    # file.ts:210-276), docx/pptx/odt pages (file.ts:129-150). A zip that is
    # none of these raises → contained ERROR
    from zerox_spark.extract.ooxml import ooxml_to_pages

    return ooxml_to_pages(payload)


def _reject_binary(payload: bytes):
    # a crawl is full of image/font/archive/audio payloads; none may reach
    # the text decode and extract as SUCCESS mojibake. Images get a distinct
    # reason: the reference OCRs them (node-zerox/src/index.ts:171-182), a
    # deterministic engine's honest outcome is a contained ERROR, the same
    # contract as image-only PDFs
    kind = sniff_binary(payload)
    if kind in IMAGE_KINDS:
        raise ValueError(f"image payload ({kind}) has no text layer — no OCR")
    raise ValueError(f"binary/media payload ({kind})")


_TAGGED = re.compile(r"\s*<").match
_XML_DECL = re.compile(r"\s*<\?xml").match


def _untagged(src: str) -> bool:
    return not _TAGGED(src)


def _is_delimited(src: str) -> bool:
    from zerox_spark.extract.delimited import sniff_delimiter

    return _untagged(src) and sniff_delimiter(src) is not None


def _delimited_pages(src: str):
    # csv/tsv structured fast path (README.md:506-507): a consistent
    # delimited grid is one first-row-<th> table page, the same sheet
    # contract as %SHEET/xlsx/xls
    from zerox_spark.extract.delimited import (
        delimited_to_pages,
        sniff_delimiter,
    )

    delim = sniff_delimiter(src)
    if delim is None:
        raise ValueError("payload is not a consistent delimited table")
    return delimited_to_pages(src, delim)


_PARA_SPLIT = re.compile(r"\n\s*\n")
_WS_RUN = re.compile(r"\s+")


def _plain_text_pages(src: str):
    # plain text (.txt is a first-class reference input type,
    # README.md:488-513): paragraphs on blank lines, no DOM pass
    paras = (_WS_RUN.sub(" ", p).strip() for p in _PARA_SPLIT.split(src))
    markdown, spans = join_blocks([Block("para", p) for p in paras if p])
    return [(1, markdown, spans)]


def _html_pages(src: str):
    markdown, spans = html_to_markdown(src)
    return [(1, markdown, spans)]


def _xml_pages(src: str):
    page = _generic_xml_page(src)
    return [page] if page is not None else _html_pages(src)


# sniffed in order on the raw bytes, then — for a payload none of those
# claims — on the decoded text. The binary route guards the text decode:
# _extract_raw unwraps a compressed transfer encoding (gzip/bzip2/xz) and
# dispatches again; every other binary/media kind is a contained error.
_BINARY = Route("binary", sniff_binary, _reject_binary, container=True)
ROUTES: tuple[Route, ...] = (
    Route("legacy_office", b"\xd0\xcf\x11\xe0", _cfb_pages, container=True,
          empty_error="CFB payload with no pages", named=True),
    Route("wpd", b"\xffWPC", _wpd_pages),
    Route("rtf", b"{\\rtf", _rtf_pages, named=True),
    Route("sheets", SHEET_MAGIC, sheets_to_pages,
          empty_error="sheet payload with no sheets", named=True),
    # the line-oriented synth grammar is safe to truncate at a newline;
    # a real PDF is a container (stream/object/page budgets in pdf.py)
    Route("pdf_synth", SYNTH_MAGIC, pdf_to_pages,
          empty_error="PDF payload with no pages"),
    Route("layout", PDF_MAGIC, pdf_to_pages, container=True,
          empty_error="PDF payload with no pages", named=True),
    Route("ooxml", b"PK", _ooxml_pages, container=True,
          empty_error="OOXML payload with no pages", named=True),
    _BINARY,
    Route("delimited", _is_delimited, _delimited_pages, text=True, named=True),
    Route("text", _untagged, _plain_text_pages, text=True),
    Route("xml", _XML_DECL, _xml_pages, text=True),
    Route("readability", None, _html_pages, text=True, named=True),
)

EXTRACTOR_NAMES: tuple[str, ...] = ("auto",) + tuple(
    r.name for r in ROUTES if r.named
)


def get_extractor(name: str) -> Route | None:
    """Resolve a named route for ``ExtractConfig.extractor`` ("auto" → None,
    the sniffing dispatch); raises at plan time on unknown names (the
    validate-at-init pattern, modellitellm.py:33-38)."""
    if name not in EXTRACTOR_NAMES:
        raise ValueError(
            f"unknown extractor {name!r}; known: {sorted(EXTRACTOR_NAMES)}"
        )
    return next((r for r in ROUTES if r.name == name), None)


@dataclass
class PageResult:
    page_no: int
    markdown: str
    content_length: int
    status: str
    error: str | None = None
    spans: list[tuple[str, int, int, float]] = field(default_factory=list)


@dataclass
class ExtractConfig:
    """Per-run knobs (subset of ZeroxArgs, node-zerox/src/types.ts:4-44,
    that are meaningful for a deterministic extractor). Validated at
    construction — config errors fail before job submit, the reference's
    validate-at-init pattern (py_zerox/pyzerox/models/modellitellm.py:33-38)."""

    select_pages: list[int] | None = None
    maintain_format: bool = False  # fold in extract_document
    error_mode: str = "IGNORE"  # IGNORE | THROW (node-zerox/src/types.ts:172-175)
    trust_text: bool = True  # honor the pre-extracted text fast path
    # customModelFunction analog (node-zerox/src/types.ts:9-15): a callable
    # (html_bytes, text) → [(page_no, markdown, spans)] replacing the
    # ROUTES table, or one named Route (get_extractor); must be
    # deterministic and picklable (it ships to executors inside the UDF
    # closure)
    extractor: object | None = None
    # hybrid extraction analog (HybridInput {imagePaths, text},
    # node-zerox/src/types.ts:197-200): the reference feeds OCR images AND
    # caller-provided text jointly to the model; deterministically, the text
    # channel serves as the fallback — a document whose payload fails to
    # extract yields the trusted text instead of an ERROR page
    hybrid: bool = False
    # giant-doc page chunking (full splitTallImage analog, extract/
    # chunking.py): single-page results longer than this split into multiple
    # pages at block boundaries. None = off (the default page model)
    chunk_chars: int | None = None
    # payload bound — the compressImage analog (15 MB cap + quality ladder,
    # node-zerox/src/index.ts:68, image.ts:78-114): an oversized payload is
    # deterministically truncated at the last tag boundary before the cap
    # (salting spreads heavy *rows*; this bounds work *within* one row —
    # SURVEY.md §7 hard part (c), the I5 intra-doc analog)
    max_payload_bytes: int = 15 * 1024 * 1024

    def __post_init__(self) -> None:
        self.select_pages = normalize_select_pages(self.select_pages)
        if self.error_mode not in ("IGNORE", "THROW"):
            raise ValueError(f"bad error_mode {self.error_mode!r}")
        if self.extractor is not None and not callable(self.extractor):
            raise ValueError("extractor must be callable")


def _finalize(markdown: str) -> str:
    markdown = markdown.replace("\r\n", "\n").replace("\r", "\n")
    markdown = unicodedata.normalize("NFC", markdown)
    return format_markdown(markdown)


def extract_document(
    html: bytes | None,
    text: str | None,
    config: ExtractConfig | None = None,
) -> list[PageResult]:
    """Extract one document into its ordered page results. Never raises in
    IGNORE mode — failures become ERROR pages (content "", length 0, per
    node-zerox/src/index.ts:344-351)."""
    config = config or ExtractConfig()
    try:
        raw_pages = _extract_raw(html, text, config)
        if (
            config.chunk_chars
            and len(raw_pages) == 1
            and len(raw_pages[0][1]) > config.chunk_chars
        ):
            from zerox_spark.extract.chunking import chunk_blocks

            raw_pages = [
                (i + 1, md, spans)
                for i, (md, spans) in enumerate(
                    chunk_blocks(
                        raw_pages[0][1], raw_pages[0][2], config.chunk_chars
                    )
                )
            ]
        selected = select_and_renumber(raw_pages, config.select_pages)
        out = []
        for page_no, markdown, spans in selected:
            # spans are computed on the PRE-finalize markdown; NFC
            # composition or a whole-page fence unwrap can shrink the
            # string (identity on ASCII content). Clamp so the
            # [start, end) ⊆ [0, len) invariant holds for consumers —
            # offsets into mutated regions are best-effort by contract.
            n = len(markdown)
            spans = [
                (k, min(s, n), min(e, n), sc) for k, s, e, sc in spans
            ]
            out.append(
                PageResult(
                    page_no=page_no,
                    markdown=markdown,
                    content_length=len(markdown),
                    status=STATUS_SUCCESS,
                    spans=spans,
                )
            )
        if config.maintain_format and len(out) > 1:
            # zero-shuffle fold: every page of this document is right here
            # (operators/fold.py); lazy import, fold.py imports this module
            from zerox_spark.operators.fold import refold_page_results

            refold_page_results(out)
        return out
    except Exception as exc:  # noqa: BLE001 — containment is the contract
        if config.error_mode == "THROW":
            raise
        if config.hybrid and text:
            md = _finalize(text)
            return [
                PageResult(
                    page_no=1,
                    markdown=md,
                    content_length=len(md),
                    status=STATUS_SUCCESS,
                    spans=[("para", 0, len(md), 1.0)],
                )
            ]
        return [
            PageResult(
                page_no=1,
                markdown="",
                content_length=0,
                status=STATUS_ERROR,
                error=f"{type(exc).__name__}: {exc}",
            )
        ]


def _cap_payload(html: bytes, cap: int) -> bytes:
    """Deterministic truncation of an oversized payload at the last '>' (or
    newline, for the line-oriented PDF/sheet grammars) before the cap — the
    error-tolerant parsers then see well-formed-enough input. The reference
    bounds payloads the same way in spirit (recompress until under the cap,
    image.ts:78-114): lose fidelity, never fail the document."""
    head = html[:cap]
    cut = max(head.rfind(b">"), head.rfind(b"\n"))
    return head[: cut + 1] if cut > 0 else head


def _match(payload: bytes) -> Route | None:
    """The first byte-sniffed route that matches; None means the payload is
    text, for a text route to pick after decoding."""
    for route in ROUTES:
        if route.text:
            return None
        if route.matches(payload):
            return route
    return None


def _extract_raw(
    html: bytes | None,
    text: str | None,
    config: ExtractConfig,
    _depth: int = 0,
) -> list[tuple[int, str, list]]:
    if config.trust_text and text:
        return [(1, _finalize(text), [("para", 0, len(text), 1.0)])]
    if not html:
        raise ValueError("empty document payload")
    route = _match(html)
    cap = config.max_payload_bytes
    if cap and len(html) > cap and not (route and route.container):
        # a container skips the cap because its parser bounds the work: zip
        # member and container budgets (ooxml.py), the CFB sector cap, PDF
        # stream/object/page budgets, 4x output budgets on decompression
        html = _cap_payload(html, cap)
        route = _match(html)
    chosen = config.extractor
    if chosen is not None and not isinstance(chosen, Route):
        pages = chosen(html, text)  # a custom extractor replaces the table
        return [(no, _finalize(md), spans) for no, md, spans in pages]
    if chosen is not None and not (route is _BINARY and chosen.text):
        route = chosen  # a named route; text ones stay behind the guard
    if route is _BINARY:
        kind = sniff_binary(html)
        if kind in ("gzip", "bzip2", "xz"):
            # crawl tables routinely store the raw transfer-encoded body; a
            # gzip'd html page is an html page. The depth guard stops
            # alternating-wrapper chains (gzip→bz2→gzip→…) that the
            # per-scheme nested checks cannot see across schemes.
            if _depth >= 2:
                raise ValueError("compression nesting too deep")
            inner = _unwrap_payload(kind, html, config)
            return _extract_raw(inner, text, config, _depth + 1)
    if route is None or route.text:
        src = _decode_payload(html).replace("\r\n", "\n").replace("\r", "\n")
        if _looks_binary(src):
            # magic-less binary (raw compressed fragments, truncated media):
            # control-character density no real text document has
            raise ValueError("binary payload (unprintable content)")
        route = route or next(r for r in ROUTES if r.text and r.matches(src))
        pages = route.extract(src)
    else:
        pages = route.extract(html)
    if not pages and route.empty_error:
        raise ValueError(route.empty_error)
    return [(no, _finalize(md), spans) for no, md, spans in pages]


def _generic_xml_page(src: str) -> tuple[int, str, list] | None:
    """Standalone XML document (the reference's 'xml' input type,
    README.md:498): element text nodes in document order → paragraph
    blocks, one page. Returns None — falling back to the error-tolerant
    HTML pipeline — for XHTML (root <html>), unparseable XML, or anything
    carrying a DTD (entity-expansion guard; the HTML tokenizer never
    expands custom entities)."""
    if "<!DOCTYPE" in src or "<!ENTITY" in src:
        return None
    if len(src) > 4 * 1024 * 1024:
        # ET materializes a ~10× element tree; with 32 concurrent executor
        # threads that transient matters — oversized XML takes the linear
        # scanning tokenizer path instead (still extracts text content)
        return None
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(src)
    except ET.ParseError:
        return None
    if root.tag.split("}")[-1].lower() == "html":
        return None
    paras: list[str] = []

    def walk(el) -> None:  # text nodes in true document order
        t = _WS_RUN.sub(" ", (el.text or "")).strip()
        if t:
            paras.append(t)
        for child in el:
            walk(child)
            tail = _WS_RUN.sub(" ", (child.tail or "")).strip()
            if tail:
                paras.append(tail)

    walk(root)
    if not paras:
        return None
    markdown, spans = join_blocks([Block("para", p) for p in paras])
    return (1, markdown, spans)


# charset resolution — the mime/extension fallback-chain analog
# (node-zerox/src/utils/file.ts:64-85) for crawl payloads: BOM → declared
# <meta charset>/xml-decl in the first 1 KiB → UTF-8 → permissive fallback.
# Deterministic: fixed probe order, stdlib codecs only.
_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([a-zA-Z0-9_-]{2,20})""",
)
_CHARSET_ALIASES = {
    "utf8": "utf-8", "utf-8": "utf-8",
    "latin1": "latin-1", "latin-1": "latin-1", "iso-8859-1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "us-ascii": "ascii", "ascii": "ascii",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def _unwrap_payload(kind: str, html: bytes, config: "ExtractConfig") -> bytes:
    """Bounded inflate of a transfer-encoded crawl payload (gzip, bzip2 or
    xz; ``inflate.py``). Output is capped at 4× the payload budget; a
    corrupt payload that decodes to nothing, an empty result and the same
    scheme nested inside (the bomb shape) are contained errors."""
    cap = (config.max_payload_bytes or 16 * 1024 * 1024) * 4
    try:
        data = inflate(html, kind, cap)
    except CODEC_ERRORS as exc:
        raise ValueError(f"corrupt {kind} payload: {exc}") from exc
    if not data:
        raise ValueError(f"{kind} payload decompressed to nothing")
    if sniff_binary(data) == kind:
        # a DIFFERENT scheme inside is legitimate layering (bz2 dump of
        # gzip bodies) and is bounded by the dispatch depth guard instead
        raise ValueError(f"nested {kind} payload")
    return data


def _decode_payload(html: bytes) -> str:
    if html[:3] == b"\xef\xbb\xbf":
        return html[3:].decode("utf-8", errors="replace")
    if html[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return html.decode("utf-16", errors="replace")
    m = _CHARSET_RE.search(html[:1024])
    if m:
        enc = _CHARSET_ALIASES.get(m.group(1).decode("ascii", "replace").lower())
        if enc and enc not in ("utf-16", "utf-16-le", "utf-16-be"):
            try:
                return html.decode(enc)
            except UnicodeDecodeError:
                pass  # lying charset declaration → fall through
    try:
        return html.decode("utf-8")
    except UnicodeDecodeError:
        # undeclared 8-bit content: latin-1 is total (never fails) and is
        # the HTML5 fallback family for unlabeled legacy bytes
        return html.decode("latin-1")


# C0 controls that never appear in text (tab/newline/CR/formfeed excluded),
# C1 controls (the latin-1-total fallback maps bytes 0x80-0x9f there; real
# text never carries them — even mislabeled cp1252 smart quotes stay rare),
# plus the replacement char a lying-charset decode leaves behind
_BINARYISH = re.compile("[\x00-\x08\x0b\x0e-\x1f\x7f\x80-\x9f�]")
_BINARY_RATIO = 0.02
_BINARY_MIN_LEN = 24


def _looks_binary(src: str) -> bool:
    """Printable-ratio guard: text whose control-char/replacement density
    exceeds any real document's is binary that slipped past the magic table.
    Probes a bounded prefix so the check is O(1) per row."""
    probe = src[:65536]
    if len(probe) < _BINARY_MIN_LEN:
        return False
    hits = len(_BINARYISH.findall(probe))
    return hits / len(probe) > _BINARY_RATIO
