"""Stage 2 — tokenize: document bytes → byte-parity text + page metadata.

The per-document body of the tokenize stage, covering T1-T8 per
doc_kind (SURVEY.md §2.3); it runs inside the fused tokenize+fields
``mapInArrow`` stage (operators/fused.py), which reduces each document's
page list (number, text, method, is_scanned, confidence) to three scalars
before the Arrow crossing:
- pdf       → scanned-sniff refinement, then hybrid layout+raw extraction
              with recovery, or deterministic fake-OCR for scanned docs;
- html      → boilerplate strip (T10);
- text      → fast-path (SURVEY.md §3.3): pre-extracted text used as-is;
- empty/other → empty output, fail counted in lineage.

T9's word boxes stay a library call (``pdf.layout.word_boxes``): no Spark
stage reads them, so the pipeline does not build them.

The fat ``html`` binary column is consumed here and NOT emitted — manual
column pruning across the UDF boundary (Catalyst can't prune through
opaque UDFs; SURVEY.md §7.3).
"""

from __future__ import annotations

from .. import html_extract, textops

_EMPTY = {"doc_kind": None, "text": "", "pages": [],
          "fallback_used": False, "recovered_claims": [], "error": None}


def _extract_one(kind0: str, html: bytes | None, text: str | None) -> dict:
    if kind0 == "pdf":
        return textops.extract_pdf_document(html)
    if kind0 == "html":
        return html_extract.extract_html_document(html)
    if kind0 == "text":
        page = {"page_number": 1, "text": text or "",
                "extraction_method": "passthrough", "is_scanned": False,
                "confidence": 1.0}
        return {"doc_kind": "text", "text": text or "", "pages": [page],
                "fallback_used": False, "recovered_claims": [], "error": None}
    out = dict(_EMPTY)
    out["doc_kind"] = kind0
    out["error"] = None if kind0 == "empty" else "unrecognized format"
    return out
