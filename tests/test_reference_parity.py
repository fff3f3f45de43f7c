"""Framing parity vs the reference's SHIPPED artifacts (VERDICT r1 §3).

The byte-parity goldens under tests/golden/ are frozen from this repo's
own core — a regression guard, not independent evidence. This module
closes that loophole: the grammar of the reference's real
``outputs/extraction_*/extracted_text.txt`` files (doc banner, PAGE
rules, ``[TABLE n]`` blocks with the ``-+-`` separator —
backend/pdf_plumber.py:120-144, 171-176, 254-280) is parsed by ONE
checker applied to BOTH the shipped artifacts and this repo's emitter,
and the reference's own table bodies must round-trip byte-identically
through this repo's ``format_table``.
"""

import glob
import random
import re

import pytest

from insurance_pdf_extractor_spark import textops

REF_ARTIFACTS = sorted(
    glob.glob("/root/reference/outputs/extraction_*/extracted_text.txt"))

RULE_EQ = "=" * 80
RULE_DASH = "-" * 80
_PAGE_RE = re.compile(r"\n={80}\nPAGE (\d+)\n={80}\n\n")
_TABLE_RE = re.compile(r"\[TABLE (\d+)\]\n")


def _require_reference() -> None:
    """The corpus-wide checks need the reference's shipped artifacts;
    where they are not present there is nothing to check against."""
    if not REF_ARTIFACTS:
        pytest.skip("reference extraction artifacts not present "
                    "(the REF_ARTIFACTS glob matched no file)")


def check_grammar(text: str) -> dict:
    """Assert the extraction-framing grammar; return counted elements."""
    lines = text.split("\n")
    # doc banner: rule / "PDF DOCUMENT EXTRACTION (<engine>)" / rule / blank
    assert lines[0] == RULE_EQ, "doc banner must open with an 80-char = rule"
    assert re.fullmatch(r"PDF DOCUMENT EXTRACTION \([a-z+]+\)", lines[1]), \
        lines[1]
    assert lines[2] == RULE_EQ
    assert lines[3] == ""

    # page banners: PAGE n strictly increasing from 1
    page_nums = [int(m.group(1)) for m in _PAGE_RE.finditer(text)]
    assert page_nums, "no page banners found"
    assert page_nums == list(range(1, len(page_nums) + 1)), page_nums

    # [TABLE k] blocks: k restarts at 1 per page and increments; each block
    # is framed by 80-dash rules with a -+- separator as its second row
    n_tables = 0
    for page_text in _PAGE_RE.split(text)[2::2]:  # text after each banner
        expected_idx = 1
        for m in _TABLE_RE.finditer(page_text):
            assert int(m.group(1)) == expected_idx, (
                f"table index {m.group(1)} != {expected_idx}")
            expected_idx += 1
            body = page_text[m.end():]
            body_lines = body.split("\n")
            assert body_lines[0] == RULE_DASH, \
                "[TABLE n] must be followed by an 80-dash rule"
            # find the closing rule
            try:
                close = body_lines[1:].index(RULE_DASH) + 1
            except ValueError:
                raise AssertionError("table block missing closing rule")
            rows = body_lines[1:close]
            assert len(rows) >= 2, "table body needs header + separator"
            # the post-header separator is a line of only -/+ chars; cells
            # with embedded newlines (pdfplumber reality) can push it past
            # line 1, so look for it anywhere in the body
            seps = [r for r in rows if re.fullmatch(r"[-+]+", r)]
            assert seps, "table body lacks a -+- separator line"
            if re.fullmatch(r"[-+]+", rows[1]):
                # line-regular table: separator widths must be consistent
                # with the ljust-padded header row
                widths = [len(c) for c in rows[0].split(" | ")]
                assert rows[1] == "-+-".join("-" * w for w in widths), (
                    rows[1], widths)
            n_tables += 1
    return {"pages": len(page_nums), "tables": n_tables}


def _recover_cells(rows: list[str]) -> list[list[str]] | None:
    """formatted rows (sans separator) → stripped cell grid, or None when
    recovery is ambiguous (a cell containing '|')."""
    grid = [[c.strip() for c in r.split(" | ")] for r in rows]
    ncols = len(grid[0])
    if any(len(r) != ncols for r in grid):
        return None
    if any("|" in c for r in grid for c in r):
        return None
    return grid


@pytest.mark.parametrize("path", REF_ARTIFACTS,
                         ids=[p.split("/")[-2][:40] for p in REF_ARTIFACTS])
def test_reference_artifact_grammar(path):
    text = open(path, encoding="utf-8", errors="replace").read()
    stats = check_grammar(text)
    assert stats["pages"] >= 1


def test_reference_corpus_has_tables():
    _require_reference()
    total = 0
    for path in REF_ARTIFACTS:
        text = open(path, encoding="utf-8", errors="replace").read()
        total += check_grammar(text)["tables"]
    assert total >= 5, "reference corpus should exercise the table grammar"


def test_format_table_roundtrips_reference_tables():
    """The reference's OWN formatted tables, de-formatted back to cells and
    re-formatted with THIS repo's format_table, must be byte-identical."""
    _require_reference()
    checked = 0
    for path in REF_ARTIFACTS:
        text = open(path, encoding="utf-8", errors="replace").read()
        for m in _TABLE_RE.finditer(text):
            body_lines = text[m.end():].split("\n")
            if body_lines[0] != RULE_DASH:
                continue
            try:
                close = body_lines[1:].index(RULE_DASH) + 1
            except ValueError:
                continue
            rows = body_lines[1:close]
            # only line-regular tables round-trip (multi-line cells make
            # line-based recovery ambiguous): separator at line 1
            if len(rows) < 2 or not re.fullmatch(r"[-+]+", rows[1]):
                continue
            original = "\n".join(rows)
            cells = _recover_cells([rows[0]] + rows[2:])  # skip separator
            if cells is None:
                continue  # ambiguous recovery ('|' inside a cell)
            assert textops.format_table(cells) == original
            checked += 1
    assert checked >= 5, f"only {checked} reference tables round-tripped"


def test_own_emitter_same_grammar():
    """This repo's PDF extraction output passes the SAME grammar checker
    as the reference's shipped artifacts."""
    from insurance_pdf_extractor_spark.fixtures import make_loss_run_pdf
    pages = tables = 0
    for seed in range(8):
        data = make_loss_run_pdf(random.Random(seed))
        res = textops.extract_pdf_document(data)
        assert res["doc_kind"] == "pdf_digital"
        stats = check_grammar(res["text"])
        pages += stats["pages"]
        tables += stats["tables"]
    assert pages >= 8
    assert tables >= 1, "fixture corpus must exercise the table grammar"
