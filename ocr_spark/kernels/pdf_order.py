"""Extractor B — PDF/layout reading-order reconstruction.

Graft of the reference's "recognizer B" stage (EasyOCR digit model,
/root/reference/readmeImage/flowchart.png, README.md:20) re-expressed as a
pdfminer-style layout analysis: the payload is a layout dump with one text
line per record

    L <page> <x0> <y0> <x1> <y1> <text>

(fixture format, FIXTURES.md §1.1). Reconstruction:

1. parse the ``L``-records; the matched-line fraction is the extractor's
   applicability score,
2. per page, cluster lines into 1–2 columns by the largest gap in x0
   (pdfminer's column detection reduced to its 2-column core),
3. order: page asc, column asc, y0 *desc* (PDF origin is bottom-left),
   x0 asc,
4. rejoin hyphenated line breaks (line ends with '-', next starts
   lowercase) and join the rest with single spaces; newline between
   columns and pages.

Self-contained (pdfminer is not installable in this environment);
deterministic; pure Python amortized over Arrow batches.
"""

from __future__ import annotations

import re

_LINE_RE = re.compile(
    r"^L\s+(\d+)\s+(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+"
    r"(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+(.*)$"
)

# Minimum relative gap in x0 to call it a second column.
_COL_GAP_FRAC = 0.35


def _split_columns(lines: list[tuple]) -> float | None:
    """Return the x threshold separating two columns, or None if single."""
    xs = sorted({ln[1] for ln in lines})
    if len(xs) < 2:
        return None
    span = xs[-1] - xs[0]
    if span <= 0:
        return None
    best_gap, best_mid = 0.0, None
    for a, b in zip(xs, xs[1:]):
        gap = b - a
        if gap > best_gap:
            best_gap, best_mid = gap, (a + b) / 2.0
    if best_gap < _COL_GAP_FRAC * span:
        return None
    left = sum(1 for ln in lines if ln[1] < best_mid)
    right = len(lines) - left
    if left < 2 or right < 2:
        return None
    return best_mid


def _join_lines(texts: list[str]) -> str:
    """Join ordered line texts, de-hyphenating soft line breaks."""
    out: list[str] = []
    for t in texts:
        t = t.strip()
        if not t:
            continue
        if out and out[-1].endswith("-") and t[:1].islower():
            out[-1] = out[-1][:-1] + t
        else:
            out.append(t)
    return " ".join(out)


def extract_pdf(raw: str) -> tuple[str, float]:
    """Run extractor B on one payload. Returns (text, score)."""
    if not raw or not raw.strip():
        return "", 0.0
    rows = raw.splitlines()
    parsed = []
    n_nonempty = 0
    for r in rows:
        if not r.strip():
            continue
        n_nonempty += 1
        m = _LINE_RE.match(r)
        if m:
            page = int(m.group(1))
            x0, y0 = float(m.group(2)), float(m.group(3))
            text = m.group(6)
            parsed.append((page, x0, y0, text))
    if not parsed:  # a parsed line is a non-empty one: n_nonempty > 0
        return "", 0.0

    pages: dict[int, list] = {}
    for page, x0, y0, text in parsed:
        pages.setdefault(page, []).append((page, x0, y0, text))

    page_chunks: list[str] = []
    for page in sorted(pages):
        lines = pages[page]
        mid = _split_columns(lines)
        cols: dict[int, list] = {}
        for ln in lines:
            c = 0 if mid is None or ln[1] < mid else 1
            cols.setdefault(c, []).append(ln)
        col_chunks = []
        for c in sorted(cols):
            ordered = sorted(cols[c], key=lambda ln: (-ln[2], ln[1]))
            col_chunks.append(_join_lines([ln[3] for ln in ordered]))
        page_chunks.append("\n".join(ch for ch in col_chunks if ch))

    text = "\n".join(ch for ch in page_chunks if ch).strip()
    score = round(len(parsed) / n_nonempty, 6)
    if not text:
        return "", 0.0
    return text, score
