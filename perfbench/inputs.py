"""Seeded benchmark inputs, built only from the package's public fixture
makers. The same seed always gives byte-identical rows; the program
under test sees nothing but the parquet written here.

Extraction inputs are ``fixtures.generate_rows`` unchanged: the
PDF-heavy class mix (loss runs, scanned, multi-policy, rotated, ...)
plus 15% HTML and 5% pre-extracted text.

Chain inputs are HTML and text-only pages shaped so that every stage of
the text-quality chain has work to do:

- every HTML page is ``fixtures.make_html_page`` (whose paragraphs are
  drawn from one shared sentence pool, so paragraph and substring dedup
  strip a share of each page) plus one page-unique paragraph that
  survives both;
- every 7th page carries contact details, so PII scrub rewrites it;
- every 29th page is keyword spam that survives the dedup stages but
  fails the repetition gate;
- every 20th page re-publishes the previous page's unique paragraph
  with a two-word edit under a new url: a near duplicate for MinHash.

The delta workload's history and deltas are made of pages without the
shared paragraphs (``history_rows``, ``delta_rows``): with the
text-quality stages off, shared boilerplate would make most pages near
duplicates of each other for MinHash.
"""

from __future__ import annotations

import datetime as dt
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from insurance_pdf_extractor_spark import fixtures as FX

CHAIN_URL = "https://chain.test/page/{}"
DELTA_URL = "https://chain.test/delta/{}"
_VOCAB = sorted({w for phrase in (FX.FIRST_NAMES + FX.LAST_NAMES
                                  + FX.COMPANIES + FX.DESCRIPTIONS
                                  + FX.BODY_PARTS + FX.INJURY_TYPES)
                 for w in phrase.split()})


def extract_rows(n: int, seed: int) -> list[dict]:
    return FX.generate_rows(n, seed)


def _rng(seed: int, salt: int, i: int) -> random.Random:
    return random.Random((seed << 24) ^ (salt << 20) ^ i)


def _unique_paragraph(rng: random.Random) -> str:
    words = [rng.choice(_VOCAB) for _ in range(rng.randint(40, 70))]
    words.insert(rng.randrange(len(words)), str(rng.randint(10**5, 10**7)))
    return " ".join(words) + "."


def _near_copy(paragraph: str, rng: random.Random) -> str:
    words = paragraph.split()
    for _ in range(2):
        words[rng.randrange(len(words))] = rng.choice(_VOCAB)
    return " ".join(words)


def _pii_line(rng: random.Random) -> str:
    first, last = rng.choice(FX.FIRST_NAMES), rng.choice(FX.LAST_NAMES)
    return (f"Contact adjuster {first} {last} at "
            f"{first.lower()}.{last.lower()}@carrier.test or "
            f"555-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}.")


def _spam_text(rng: random.Random) -> str:
    return " ".join(f"cheap premium quote {rng.choice(_VOCAB)}"
                    for _ in range(40))


def _page(i: int, seed: int, unique: str, url: str) -> dict:
    """One chain row. ``unique`` is the page's own paragraph."""
    rng = _rng(seed, 1, i)
    extra = [unique]
    if i % 7 == 3:
        extra.append(_pii_line(rng))
    if i % 29 == 11:
        html, text = None, _spam_text(rng)
    elif i % 6 == 5:
        html = None
        text = FX.make_text_only(rng) + "\n" + "\n".join(extra)
    else:
        page = FX.make_html_page(rng).decode("utf-8")
        body = "".join(f"<p>{p}</p>" for p in extra)
        html = page.replace("</article>", body + "\n</article>").encode()
        text = None
    return {"url": url, "warc_ts": FX.EPOCH + dt.timedelta(seconds=i * 37),
            "html": html, "text": text, "lang": "en"}


def _chain_unique(i: int, seed: int) -> str:
    """Page i's unique paragraph; every 20th page near-copies page i-1."""
    if i % 20 == 0 and i > 0:
        return _near_copy(_unique_paragraph(_rng(seed, 2, i - 1)),
                          _rng(seed, 3, i))
    return _unique_paragraph(_rng(seed, 2, i))


def chain_rows(n: int, seed: int) -> list[dict]:
    return [_page(i, seed, _chain_unique(i, seed), CHAIN_URL.format(i))
            for i in range(n)]


def _dedup_page(i: int, seed: int, paras: list[str], url: str) -> dict:
    """One page of the delta workload: ``paras`` make up its content, in
    the article of a ``fixtures.make_html_page`` page (whose shared
    paragraphs it replaces) or after a ``fixtures.make_text_only``
    header. Without shared paragraphs, two pages collide in MinHash only
    when one is a near copy of the other."""
    rng = _rng(seed, 5, i)
    if i % 3 == 2:
        return {"url": url, "warc_ts": FX.EPOCH + dt.timedelta(seconds=i * 37),
                "html": None, "lang": "en",
                "text": FX.make_text_only(rng) + "\n" + "\n".join(paras)}
    page = FX.make_html_page(rng).decode("utf-8")
    body = "".join(f"<p>{p}</p>" for p in paras)
    page = re.sub(r"(</h1>\n).*?(\n</article>)",
                  lambda m: m.group(1) + body + m.group(2), page, flags=re.S)
    return {"url": url, "warc_ts": FX.EPOCH + dt.timedelta(seconds=i * 37),
            "html": page.encode(), "text": None, "lang": "en"}


def _dedup_paras(i: int, seed: int) -> list[str]:
    """Page i's own two paragraphs."""
    rng = _rng(seed, 6, i)
    return [_unique_paragraph(rng), _unique_paragraph(rng)]


def _history_paras(i: int, seed: int) -> list[str]:
    """Every 20th history page near-copies page i-1."""
    if i % 20 == 0 and i > 0:
        first, second = _dedup_paras(i - 1, seed)
        return [_near_copy(first, _rng(seed, 7, i)), second]
    return _dedup_paras(i, seed)


def history_rows(n: int, seed: int) -> list[dict]:
    """The committed history of the delta workload; one page in 20 is a
    near copy of the page before it."""
    return [_dedup_page(i, seed, _history_paras(i, seed), CHAIN_URL.format(i))
            for i in range(n)]


def delta_rows(history: int, history_seed: int, n_new: int,
               n_reoffered: int, n_near: int, seed: int
               ) -> tuple[list[dict], dict]:
    """A delta against ``history_rows(history, history_seed)``: fresh
    pages, history rows offered again unchanged, and near copies of
    history pages under new urls. ``seed`` makes the fresh pages and
    picks the history pages to re-offer and copy. Returns
    (rows, {kind: [urls]})."""
    rng = random.Random(seed ^ 0x5EED)
    new = [_dedup_page(history + k, seed, _dedup_paras(history + k, seed),
                       DELTA_URL.format(k)) for k in range(n_new)]
    reoffered = [_dedup_page(i, history_seed, _history_paras(i, history_seed),
                             CHAIN_URL.format(i))
                 for i in rng.sample(range(history), n_reoffered)]
    # near copies of history pages that are not part of a near-duplicate
    # pair inside the history (pages 19 and 0 mod 20): their committed
    # signature is the one the copy must collide with
    sources = rng.sample([i for i in range(history) if 0 < i % 20 < 19],
                         n_near)
    near = []
    for k, i in enumerate(sources):
        first, second = _history_paras(i, history_seed)
        near.append(_dedup_page(i, history_seed,
                                [first, _near_copy(second, _rng(seed, 4, i))],
                                DELTA_URL.format(n_new + k)))
    kinds = {"new": [r["url"] for r in new],
             "reoffered": [r["url"] for r in reoffered],
             "near": [r["url"] for r in near]}
    return new + reoffered + near, kinds


def write_parquet(path: str, rows: list[dict]) -> None:
    """The web_pages schema, in small row groups so the scan splits."""
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=256)
