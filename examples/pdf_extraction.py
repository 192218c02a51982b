"""Example: born-digital PDF extraction — single file and distributed.

    python examples/pdf_extraction.py [pdf_path] [sf_dir]

1. Single document: the zerox-style convenience call on a real PDF file
   (text layer → page-delimited markdown; scanned/image-only PDFs come
   back as contained ERROR pages — this engine does not OCR pixels).
2. Distributed: the same extractor over a synthesized corpus of genuine
   %PDF-1.4 payloads (four font/encoding variants) through the standard
   pipeline — identical physical plan to the HTML flagship job.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zerox_spark.extract.core import extract_document
from zerox_spark.session import get_spark


def main() -> None:
    pdf_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else "/root/reference/shared/inputs/0004.pdf"
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    # --- 1. single document ------------------------------------------------
    if os.path.exists(pdf_path):
        with open(pdf_path, "rb") as f:
            pages = extract_document(f.read(), None)
        ok = [p for p in pages if p.status == "SUCCESS"]
        print(f"{pdf_path}: {len(ok)} text-layer pages")
        if ok:
            preview = ok[0].markdown[:300].replace("\n", " | ")
            print(f"  page 1 preview: {preview}")
    else:
        print(f"{pdf_path} not found — skipping the single-file demo")

    # --- 2. distributed over a real-PDF corpus -----------------------------
    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.operators.extract import extract_pages
    from zerox_spark.synth import synth_pages

    spark = get_spark("local[8]", app_name="zerox-pdf-example")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = synth_pages(spark, sf_dir, family="pdf_real")
    ex = extract_pages(
        corpus, ExtractConfig(trust_text=False), num_buckets=16
    ).persist()  # two actions below — don't recompute the extraction
    stats = ex.groupBy("status").count().collect()
    n_pages = sum(r["count"] for r in stats)
    print(f"distributed: {n_pages} pages — " + ", ".join(
        f"{r['status']}={r['count']}" for r in stats
    ))
    sample = ex.select("url", "page_no", "markdown").limit(2).collect()
    for row in sample:
        print(f"  {row['url']} p{row['page_no']}: "
              + row["markdown"][:80].replace("\n", " | "))
    spark.stop()


if __name__ == "__main__":
    main()
