"""Regenerate the committed golden extractions (review the diff!)."""

import json
import os
import sys

import pandas as pd

# run as a script from any directory: import the checkout's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.extractors import (
    EXTRACTORS,
    safe_extract,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
    url_for,
)

OUT = os.path.join(os.path.dirname(__file__), "extractions.jsonl")

docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
docs = docs[docs.doc_id < 40].sort_values("doc_id")
with open(OUT, "w") as f:
    for _, row in docs.iterrows():
        doc_id = int(row.doc_id)
        raw = encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text)
        )
        html = decode_html(raw)
        record = {"url": url_for(doc_id, row.source), "doc_id": doc_id}
        for name in sorted(EXTRACTORS):
            record[name] = safe_extract(name, html)
        f.write(json.dumps(record, sort_keys=True) + "\n")
print(f"wrote {OUT}")
