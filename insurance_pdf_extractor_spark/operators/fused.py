"""Fused tokenize+fields stage — one Arrow-native crossing.

Tokenize and fields run in ONE ``mapInArrow`` iterator, so the extracted
text crosses JVM→Python→JVM once while the two stages' lineage rows stay
distinct (``metric_json`` is called once per logical stage). The stage
speaks Arrow on both sides, so no worker imports pandas: each input
``RecordBatch`` is read with ``to_pylist()``, ``url``/``warc_ts``/``lang``
go back out as the input arrays, and every computed column is built with
``pa.array(values, type=…)`` against the Arrow form of ``FIELDS_OUT``.
The per-page results leave the UDF as three scalars — ``total_pages``,
``scanned_pages``, ``avg_confidence`` — instead of the page list, which
no Spark stage reads.

Lineage (when ``emit_metrics``): per (stage, partition) the iterator
appends ONE sentinel row (url=lineage.METRIC_URL, ``_metric`` JSON, all
other columns NULL) to its output — metrics ride the staged parquet
write instead of an executor-local filesystem side channel.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .. import fields as FX
from ..lineage import METRIC_URL, metric_json
from ..schemas import FIELDS_OUT
from .tokenize import _extract_one, _EMPTY

#: input columns handed back to the JVM untouched
_PASSTHROUGH = ("url", "warc_ts", "lang")
_ARROW_OUT = to_arrow_schema(FIELDS_OUT)
_OUT_COLS = _ARROW_OUT.names
_COMPUTED = [f for f in _ARROW_OUT if f.name not in _PASSTHROUGH]


def _page_stats(pages: list[dict]) -> tuple[int, int, float]:
    """(total_pages, scanned_pages, avg_confidence) of a page list: the
    count, the number of scanned pages, and the left-to-right confidence
    sum over the count (0.0 for no pages)."""
    conf = 0.0
    for p in pages:
        conf += p["confidence"]
    return (len(pages), sum(int(p["is_scanned"]) for p in pages),
            conf / len(pages) if pages else 0.0)


def _metric_batch(payloads: list[str]) -> pa.RecordBatch:
    """Sentinel rows: all data columns NULL, _metric carries the JSON."""
    n = len(payloads)
    cols = {f.name: pa.nulls(n, f.type) for f in _ARROW_OUT}
    cols["url"] = pa.array([METRIC_URL] * n, pa.string())
    cols["_metric"] = pa.array(payloads, pa.string())
    return pa.RecordBatch.from_arrays([cols[k] for k in _OUT_COLS],
                                      names=_OUT_COLS)


def make_fused_fn(run_id: str, emit_metrics: bool = False):
    def fused_fn(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
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
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in _COMPUTED}
            for html, text, kind0, oversize in zip(
                    *(batch.column(c).to_pylist()
                      for c in ("html", "text", "doc_kind0", "oversize"))):
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
                total, scanned, conf = _page_stats(res["pages"])
                out["doc_kind"].append(res["doc_kind"])
                out["text"].append(res["text"])
                out["total_pages"].append(total)
                out["scanned_pages"].append(scanned)
                out["avg_confidence"].append(conf)
                out["fallback_used"].append(bool(res["fallback_used"]))
                out["recovered_claims"].append(res["recovered_claims"])
                out["error"].append(res.get("error"))
                out["policy_number"].append(fld["policy_number"])
                out["insured_name"].append(fld["insured_name"])
                out["report_date"].append(fld["report_date"])
                out["num_chunks"].append(fld["num_chunks"])
                # claim dicts carry more keys than CLAIM_RAW: the struct
                # conversion takes the declared fields by name
                out["claims_raw"].append(fld["claims"])
                out["field_spans"].append(fld.get("field_spans", []))
                out["_metric"].append(None)
            cols = {c: batch.column(c) for c in _PASSTHROUGH}
            cols.update({f.name: pa.array(out[f.name], type=f.type)
                         for f in _COMPUTED})
            yield pa.RecordBatch.from_arrays([cols[k] for k in _OUT_COLS],
                                             names=_OUT_COLS)
        if emit_metrics:
            yield _metric_batch([
                metric_json(run_id, "tokenize", docs, in_bytes, tok_fails,
                            int(tok_ms * 1000)),
                metric_json(run_id, "fields", docs, text_bytes, fld_fails,
                            int(fld_ms * 1000)),
            ])
    return fused_fn


def tokenize_and_extract(df: DataFrame, run_id: str,
                         emit_metrics: bool = False) -> DataFrame:
    """(sniffed web_pages) → FIELDS_OUT in a single Arrow crossing.
    ``warc_ts`` is cast to ``timestamp`` on the JVM side (a no-op for
    timestamp input; session-zone wall clock for timestamp_ntz), so the
    UDF can hand its input array back as the declared output type."""
    return df.select(
        "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "html",
        "text", "lang", "doc_kind0", "oversize",
    ).mapInArrow(make_fused_fn(run_id, emit_metrics), schema=FIELDS_OUT)
