"""Fused tokenize+fields stage — one Arrow crossing instead of two.

The tokenize output carries fat columns (full text + pages structs with
word boxes). Running tokenize and fields as separate mapInPandas stages
ships those columns JVM→Python→JVM→Python→JVM; fusing them halves the
Arrow traffic while keeping the two stages' lineage rows distinct
(emit_partition_metrics is called once per logical stage).

Lineage (when ``emit_metrics``): per (stage, partition) the iterator
appends ONE sentinel row (url=lineage.METRIC_URL, ``_metric`` JSON, all
other columns NULL) to its output — metrics ride the staged parquet
write instead of an executor-local filesystem side channel.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from .. import fields as FX
from ..lineage import METRIC_URL, metric_json
from ..schemas import CLAIM_RAW, FIELDS_OUT
from .tokenize import _extract_one, _EMPTY

_CLAIM_KEYS = [f.name for f in CLAIM_RAW.fields]
_OUT_COLS = [f.name for f in FIELDS_OUT.fields]


def _metric_frame(payloads: list[str]) -> pd.DataFrame:
    """Sentinel rows: all data columns NULL, _metric carries the JSON."""
    out = {k: [None] * len(payloads) for k in _OUT_COLS}
    out["url"] = [METRIC_URL] * len(payloads)
    out["num_chunks"] = pd.array([None] * len(payloads), dtype="Int32")
    out["_metric"] = payloads
    return pd.DataFrame(out)


def make_fused_fn(run_id: str, emit_metrics: bool = False):
    def fused_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs = 0
        in_bytes = 0
        text_bytes = 0
        tok_fails = 0
        fld_fails = 0
        # each stage's wall_ms times its own per-doc calls only: the
        # iterator's waits on Arrow input and on the downstream consumer
        # belong to neither stage
        tok_ms = 0.0
        fld_ms = 0.0
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in _OUT_COLS}
            for url, ts, html, text, lang, kind0, oversize in zip(
                    pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"],
                    pdf["lang"], pdf["doc_kind0"], pdf["oversize"]):
                docs += 1
                in_bytes += len(html) if html is not None else 0
                tk0 = time.monotonic()
                try:
                    if oversize:
                        # reference rejects >50 MB uploads (backend/app.py:35);
                        # rejects are routed to lineage, not silently dropped
                        res = dict(_EMPTY)
                        res["doc_kind"] = "oversize"
                        res["error"] = "document exceeds 50 MB cap"
                    else:
                        res = _extract_one(kind0, html, text)
                except Exception as exc:
                    res = dict(_EMPTY)
                    res["doc_kind"] = f"{kind0}_error"
                    res["error"] = f"{type(exc).__name__}: {exc}"
                if res.get("error"):
                    tok_fails += 1
                tok_ms += time.monotonic() - tk0
                text_bytes += len(res["text"] or "")
                tf0 = time.monotonic()
                try:
                    fld = FX.extract_document_fields(res["text"] or "")
                except Exception:
                    fld_fails += 1
                    fld = {"policy_number": None, "insured_name": None,
                           "report_date": None, "num_chunks": 0,
                           "claims": [], "field_spans": []}
                fld_ms += time.monotonic() - tf0
                out["url"].append(url)
                out["warc_ts"].append(ts)
                out["lang"].append(lang)
                out["doc_kind"].append(res["doc_kind"])
                out["text"].append(res["text"])
                out["pages"].append(res["pages"])
                out["fallback_used"].append(bool(res["fallback_used"]))
                out["recovered_claims"].append(list(res["recovered_claims"]))
                out["error"].append(res.get("error"))
                out["policy_number"].append(fld["policy_number"])
                out["insured_name"].append(fld["insured_name"])
                out["report_date"].append(fld["report_date"])
                out["num_chunks"].append(fld["num_chunks"])
                out["claims_raw"].append(
                    [{k: c.get(k) for k in _CLAIM_KEYS}
                     for c in fld["claims"]])
                out["field_spans"].append(fld.get("field_spans", []))
                out["_metric"].append(None)
            out["num_chunks"] = pd.array(out["num_chunks"], dtype="int32")
            yield pd.DataFrame(out)
        if emit_metrics:
            yield _metric_frame([
                metric_json(run_id, "tokenize", docs, in_bytes, tok_fails,
                            int(tok_ms * 1000)),
                metric_json(run_id, "fields", docs, text_bytes, fld_fails,
                            int(fld_ms * 1000)),
            ])
    return fused_fn


def tokenize_and_extract(df, run_id: str, emit_metrics: bool = False):
    """(sniffed web_pages) → FIELDS_OUT in a single Arrow crossing."""
    cols = ["url", "warc_ts", "html", "text", "lang", "doc_kind0",
            "oversize"]
    return df.select(*cols).mapInPandas(
        make_fused_fn(run_id, emit_metrics), schema=FIELDS_OUT)
