"""Tests: sources & routing predicates, sheet fast path, pluggable
extractor (O8), structured extraction (A5-A7), streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.sheets import parse_sheet_payload, sheets_to_pages
from zerox_spark.operators.structured import extract_structured, split_schema

SHEET = b"""%SHEET csv 1.0
%%sheet name=one
h1,h2
a,1
b,2
%%sheet name=two
x
9
"""


# --- delimited (csv/tsv) fast path ----------------------------------------

def test_sniff_delimiter_positive_and_negative():
    from zerox_spark.extract.delimited import sniff_delimiter

    assert sniff_delimiter("a,b,c\n1,2,3\n4,5,6\n") == ","
    assert sniff_delimiter("a\tb\n1\t2\n") == "\t"
    # tsv probed before comma: comma-bearing fields must not mis-split
    assert sniff_delimiter('x\ty\n"a,b"\tc\n') == "\t"
    # prose with incidental commas: inconsistent counts → not a table
    assert sniff_delimiter("One, two, and three.\nNo commas here.\n") is None
    # two short prose lines with ONE comma each (equal counts!) must stay
    # plain text — comma needs >=3 lines AND >=3 fields
    assert sniff_delimiter("Dear John, hello\nSee you soon, bye\n") is None
    assert sniff_delimiter("a,b\n1,2\n3,4\n5,6\n") is None  # 2-col comma
    # single line / single column → not detectable
    assert sniff_delimiter("a,b,c\n") is None
    assert sniff_delimiter("one\ntwo\nthree\n") is None


def test_csv_quoting_escaping_golden():
    """Quoted field with embedded delimiter + doubled quote — the
    csv-module escaping contract, pinned."""
    payload = b'name,note,k\nr1,"says ""hi"", ok",1\nr2,plain,2\n'
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].status == "SUCCESS"
    assert out[0].markdown == (
        '<table><tr><th>name</th><th>note</th><th>k</th></tr>'
        '<tr><td>r1</td><td>says "hi", ok</td><td>1</td></tr>'
        '<tr><td>r2</td><td>plain</td><td>2</td></tr></table>'
    )


def test_csv_crlf_and_empty_rows():
    payload = b"h1,h2,h3\r\n\r\na,b,c\r\nd,e,f\r\n"
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].markdown == (
        "<table><tr><th>h1</th><th>h2</th><th>h3</th></tr>"
        "<tr><td>a</td><td>b</td><td>c</td></tr>"
        "<tr><td>d</td><td>e</td><td>f</td></tr></table>"
    )


def test_csv_xlsx_same_grid_same_table_body():
    """A csv and an xlsx of the same grid share the <table> body (the
    cross-container grid contract)."""
    from zerox_spark.synth import render_csv, render_xlsx

    csv_md = extract_document(
        render_csv(6), None, ExtractConfig(trust_text=False)
    )[0].markdown
    xlsx_md = extract_document(
        render_xlsx(6), None, ExtractConfig(trust_text=False)
    )[0].markdown
    assert csv_md in xlsx_md  # xlsx adds the '## Sheet: data' heading


def test_plain_text_with_commas_still_paragraphs():
    txt = b"First, a thought.\n\nSecond, another, longer one.\n"
    out = extract_document(txt, None, ExtractConfig(trust_text=False))
    assert out[0].markdown == (
        "First, a thought.\n\nSecond, another, longer one."
    )


def test_delimited_strategy_rejects_non_table():
    from zerox_spark.extract.core import get_extractor

    fn = get_extractor("delimited")
    with pytest.raises(ValueError, match="not a consistent delimited"):
        fn(b"just some prose\nwith two lines\n", None)


# --- sheet fast path -------------------------------------------------------

def test_parse_sheets():
    sheets = parse_sheet_payload(SHEET)
    assert [s[0] for s in sheets] == ["one", "two"]
    assert sheets[0][1] == [["h1", "h2"], ["a", "1"], ["b", "2"]]


def test_sheets_to_pages_header_rule():
    pages = sheets_to_pages(SHEET)
    assert pages[0][1] == (
        "<table><tr><th>h1</th><th>h2</th></tr>"
        "<tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></table>"
    )
    assert pages[1][0] == 2
    assert pages[1][1] == "<table><tr><th>x</th></tr><tr><td>9</td></tr></table>"


def test_dispatch_routes_sheet_payload():
    out = extract_document(SHEET, None)
    assert len(out) == 2 and out[0].spans[0][0] == "table"


# --- pluggable extractor (customModelFunction analog) ----------------------

def _shout_extractor(html: bytes, text: str | None):
    return [(1, html.decode("utf-8", "replace").upper()[:10], [])]


def test_custom_extractor_replaces_builtin():
    out = extract_document(b"<p>hi</p>", None, ExtractConfig(extractor=_shout_extractor))
    assert out[0].markdown == "<P>HI</P>"


def test_custom_extractor_must_be_callable():
    with pytest.raises(ValueError):
        ExtractConfig(extractor="not-a-function")


# --- split_schema (common.ts:85-121 semantics) -----------------------------

def test_split_schema_partitions_properties_and_required():
    schema = {
        "type": "object",
        "properties": {"a": {"type": "string"}, "b": {"type": "integer"},
                       "c": {"type": "string"}},
        "required": ["a", "c"],
    }
    page, doc = split_schema(schema, ["a"])
    assert set(page["properties"]) == {"a"} and page["required"] == ["a"]
    assert set(doc["properties"]) == {"b", "c"} and doc["required"] == ["c"]


# --- sources (Spark) -------------------------------------------------------

def test_read_html_dir_binary_source(spark, tmp_path):
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.html").write_bytes(
        b"<html><body><article><p>page one content here</p></article></body></html>"
    )
    (d / "b.html").write_bytes(b"%PDF-SYNTH 1.0\n%%page no=1 w=1.0 h=1.0\n")
    from zerox_spark.sources import read_html_dir

    pages = read_html_dir(spark, str(d))
    rows = {r.url.rsplit("/", 1)[-1]: r for r in pages.collect()}
    assert set(rows) == {"a.html", "b.html"}
    assert bytes(rows["b.html"].html).startswith(b"%PDF")
    assert bytes(rows["a.html"].html).startswith(b"<html>")


def test_magic_predicates(spark):
    from zerox_spark.sources import is_valid_url

    df = spark.createDataFrame(
        [("https://x/1",), ("ftp://x/2",), ("http://x/3",)], "url string"
    )
    got = {
        r.url: r.okurl
        for r in df.select("url", is_valid_url(F.col("url")).alias("okurl"))
        .collect()
    }
    assert got == {"https://x/1": True, "ftp://x/2": False, "http://x/3": True}


# --- structured extraction on Spark ----------------------------------------

def test_structured_extraction_scopes(spark):
    from pyspark.sql import Row

    rows = [
        Row(url="u", page_no=1, markdown="# Title One\n\nbody 42",
            spans=[{"kind": "heading", "start": 0, "end": 11, "score": 1.0}]),
        Row(url="u", page_no=2, markdown="no heading page",
            spans=[{"kind": "para", "start": 0, "end": 15, "score": 1.0}]),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, page_no int, markdown string, "
        "spans array<struct<kind:string,start:int,end:int,score:double>>",
    )
    schema = {
        "type": "object",
        "properties": {
            "title": {"type": "string", "x-selector": "first_heading"},
            "n_pages": {"type": "integer", "x-selector": "page_count"},
            "first_num": {"type": "string", "x-selector": "regex:([0-9]+)"},
        },
    }
    out = {(r.key, r.page_no): r.value
           for r in extract_structured(df, schema, ["title"]).collect()}
    # A5: null values skipped → no title row for page 2
    assert out == {
        ("title", 1): "Title One",
        ("n_pages", 0): "2",
        ("first_num", 0): "42",
    }


# --- streaming -------------------------------------------------------------

def test_stream_extract_availablenow(spark, tmp_path):
    from zerox_spark.streaming import read_pages_stream, stream_extract
    from zerox_spark.synth import synth_pages

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth_pages(spark, SF_SMOKE).limit(50).write.parquet(src)

    q = stream_extract(read_pages_stream(spark, src), out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out).count()
    assert first > 0
    # restart with same checkpoint: no new input → no duplicates
    q2 = stream_extract(read_pages_stream(spark, src), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == first


def test_stream_metrics_watermark_plan(spark, tmp_path):
    from zerox_spark.streaming import read_pages_stream, stream_metrics
    from zerox_spark.synth import synth_pages

    src = str(tmp_path / "in")
    synth_pages(spark, SF_SMOKE).limit(20).write.parquet(src)
    metrics = stream_metrics(read_pages_stream(spark, src))
    q = (
        metrics.writeStream.format("memory")
        .queryName("ingest_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows closed by the watermark; with a single
    # drained batch the plan ran (that's the assertion) even if all windows
    # are still open
    assert spark.table("ingest_metrics").columns == [
        "window_start", "window_end", "docs", "bytes",
    ]


def test_stream_stateful_document_assembly(spark, tmp_path):
    """applyInPandasWithState: pages arriving in separate micro-batches
    assemble into one fold-consistent document per url."""
    from zerox_spark.streaming import stream_assemble_documents

    import glob
    import shutil

    src = tmp_path / "pages_stream"
    src.mkdir()
    schema = "url string, page_no int, markdown string"
    t1 = "<table><tr><th>h</th></tr><tr><td>1</td></tr></table>"
    t2 = "<table><tr><td>2</td></tr></table>"
    # two single-file drops → with maxFilesPerTrigger=1 they become two
    # micro-batches of ONE query run; state must carry page 1 across
    for i, (no, md) in enumerate([(1, t1), (2, t2)]):
        d = tmp_path / f"stage{i}"
        spark.createDataFrame([("u", no, md)], schema).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.copy(part, src / f"batch{i}.parquet")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream_assemble_documents(stream)
        .writeStream.format("memory").queryName("assembled")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("assembled").collect()
    final = max(rows, key=lambda r: r.n_pages)
    assert final.n_pages == 2
    # fold applied across the batch boundary: header re-emitted in page 2
    assert final.doc_markdown == (
        t1 + "\n\n" + "<table><tr><th>h</th></tr><tr><td>2</td></tr></table>"
    )


def test_first_heading_anchored_not_midline(spark):
    """'# ' mid-line (C#, item # 5) must not masquerade as the title."""
    from zerox_spark.operators.structured import extract_structured

    df = spark.createDataFrame(
        [("u1", 1, "Pricing info # 42 today\n\n# Real Heading\n\nbody", [])],
        "url string, page_no int, markdown string, spans array<struct<kind:string,start:int,end:int,score:double>>",
    )
    schema = {
        "type": "object",
        "properties": {"title": {"x-selector": "first_heading"}},
    }
    out = extract_structured(df, schema, ["title"]).collect()
    assert [r.value for r in out] == ["Real Heading"]


def test_regex_selector_without_group_uses_whole_match(spark):
    """A groupless regex selector must extract the whole match at plan
    time, not die mid-task with a group-index error."""
    from zerox_spark.operators.structured import extract_structured

    df = spark.createDataFrame(
        [("u1", 1, "order ref abc99 here", [])],
        "url string, page_no int, markdown string, spans array<struct<kind:string,start:int,end:int,score:double>>",
    )
    schema = {
        "type": "object",
        "properties": {"ref": {"x-selector": "regex:abc[0-9]+"}},
    }
    out = extract_structured(df, schema, ["ref"]).collect()
    assert [r.value for r in out] == ["abc99"]
    # invalid pattern fails at plan time (validate-at-init), not mid-task
    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid regex"):
        extract_structured(
            df,
            {"type": "object", "properties": {"x": {"x-selector": "regex:(["}}},
            ["x"],
        )


def test_sheet_data_row_starting_with_percent_kept():
    """Only the two container directives are skipped — a data row whose
    first cell starts with '%' must survive."""
    payload = (
        b"%SHEET csv 1.0\n%%sheet name=s\n"
        b"% complete,Q1\n95,3\n"
    )
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].markdown == (
        "<table><tr><th>% complete</th><th>Q1</th></tr>"
        "<tr><td>95</td><td>3</td></tr></table>"
    )
