"""Extractor A — HTML main-content (boilerplate) extraction.

Graft of the reference's "recognizer A" stage (EasyOCR-ko,
/root/reference/README.md:20 and readmeImage/flowchart.png) plus its
detect-largest-region idiom (/root/reference/documents/최종발표질의응답.md:28:
when several plates are detected, keep the largest bounding box).

Algorithm: Arc90-Readability / Boilerpipe-style block scoring
(Kohlschütter, Fankhauser & Nejdl, "Boilerplate detection using shallow
text features", WSDM 2010 — text density + link density as the dominant
features; Arc90 Readability for the container-vote idiom) —
1. tokenize the markup with a single compiled regex in one loop that
   keeps the open-tag, block and span state in flat lists (lxml is not
   available in this environment; tolerant of malformed markup),
2. credit every text chunk to its innermost open block element ("leaf"),
3. score each leaf by text mass × (1 - link_density)² × a tag prior,
4. sum leaf scores into their *parent* container (the Arc90 idiom:
   paragraphs vote for their container),
5. the argmax container wins — the "largest bbox" graft — and its leaf
   texts, in document order, are the extracted main content.

The same parse pass renders the full text with typed spans (heading /
code / list_item / link) consumed by extractor C (spans.py), and an
exact chunk-level offset map so spans can be re-anchored into the main
text without lossy string search.

Everything here is deterministic, pure Python/pandas, dependency-free.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from dataclasses import dataclass
from html import unescape as _unescape

# Block-level elements: opening one starts a new leaf scope.
BLOCK_TAGS = frozenset(
    """p div article section main li h1 h2 h3 h4 h5 h6 pre td th
    blockquote ul ol table tr nav aside header footer figure figcaption
    dd dt body html""".split()
)

# Content ignored entirely (boilerplate by construction).
SKIP_TAGS = frozenset("script style noscript template head title svg".split())

# Tag priors: how likely direct text under this tag is main content.
TAG_PRIOR = {
    "p": 1.0,
    "pre": 1.0,
    "blockquote": 1.0,
    "figcaption": 0.8,
    "h1": 0.8,
    "h2": 0.8,
    "h3": 0.8,
    "h4": 0.7,
    "h5": 0.7,
    "h6": 0.7,
    "li": 0.7,
    "dd": 0.7,
    "dt": 0.7,
    "td": 0.6,
    "th": 0.6,
    "div": 0.8,
    "section": 0.8,
    "article": 1.0,
    "main": 1.0,
    # boilerplate containers: heavy penalty
    "nav": 0.1,
    "aside": 0.15,
    "header": 0.2,
    "footer": 0.1,
}
DEFAULT_PRIOR = 0.5

SPAN_KIND = {
    "h1": "heading",
    "h2": "heading",
    "h3": "heading",
    "h4": "heading",
    "h5": "heading",
    "h6": "heading",
    "pre": "code",
    "code": "code",
    "li": "list_item",
    "a": "link",
}

def collapse_ws(s: str) -> str:
    """Whitespace canonicalization used across all kernels.

    ``" ".join(s.split())`` is exactly ``re.sub(r"\\s+", " ", s).strip()``
    (both use the Unicode whitespace predicate; fuzz-verified incl.
    \\x1c-\\x1f and \\xa0) and ~6x faster — this runs once per text
    chunk, one of the kernel's hottest lines under profile."""
    return " ".join(s.split())


# Block start tags that imply ``</p>`` when a ``p`` is the innermost
# open block (the HTML spec's p-closing start tags, within BLOCK_TAGS).
P_CLOSING_TAGS = frozenset(
    """p div article section main h1 h2 h3 h4 h5 h6 pre blockquote ul ol
    table nav aside header footer figure figcaption li dd dt""".split()
) & BLOCK_TAGS

# One dict lookup per tag instead of 3-4 set/dict membership tests
# (SKIP_TAGS / BLOCK_TAGS / SPAN_KIND / == "a") — tag handling runs once
# per tag token and is among the kernel's hottest lines.
_F_SKIP, _F_BLOCK, _F_SPAN, _F_LINK, _F_PCLOSE = 1, 2, 4, 8, 16
_TAG_FLAGS: dict[str, int] = {}
for _t in SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in SPAN_KIND:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SPAN
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | _F_LINK
for _t in P_CLOSING_TAGS:
    _TAG_FLAGS[_t] |= _F_PCLOSE


@dataclass
class HtmlResult:
    """Everything one parse pass yields."""

    main_text: str
    score: float
    full_text: str
    full_spans: list  # [(start, end, kind)] in full_text coords
    main_spans: list  # same spans remapped into main_text coords


# Tag tokenizer: one compiled regex instead of a general HTML parser
# (stdlib html.parser's position tracking, attribute parsing and per-tag
# regex cascades were ~60% of kernel time). It matches start/end tags of
# the markup this engine scores; quoted attributes may contain '>' (same
# tolerance html.parser has), comments/doctype/PI are consumed silently,
# script/style content is raw-skipped in _parse_html.
_TAG_TOKEN_RE = re.compile(
    r"""<(?:
        !--.*?(?:-->|$)                                  # comment
      | !\[CDATA\[.*?(?:\]\]>|$)                         # cdata
      | [!?][^>]*(?:>|$)                                 # doctype / PI / bogus
      | (?P<end>/)?(?P<name>[a-zA-Z][a-zA-Z0-9:._-]*)
        (?P<attrs>(?:"[^"]*"|'[^']*'|/(?!>)|[^>"'/])*)
        (?P<selfclose>/)?>
    )""",
    re.DOTALL | re.VERBOSE,
)

# Positional indices resolved ONCE from the pattern itself: a future
# edit to _TAG_TOKEN_RE (e.g. a new group before 'end') shifts numbers,
# and hard-coded ones would silently desync end/name/selfclose and
# corrupt extraction instead of failing.
_G_END = _TAG_TOKEN_RE.groupindex["end"]
_G_NAME = _TAG_TOKEN_RE.groupindex["name"]
_G_SELFCLOSE = _TAG_TOKEN_RE.groupindex["selfclose"]

# Elements whose raw content may legally contain '<' — skipped wholesale
# up to their close tag, matched ASCII-case-insensitively in ``raw``
# itself (a lowered copy can be longer than ``raw``: 'İ' lowers to two
# code points, so its indices would not map back).
_RAW_CLOSE = {
    t: re.compile(f"</{t}", re.IGNORECASE | re.ASCII)
    for t in ("script", "style")
}

# Boilerplate containers: a block's penalty is the smallest prior of these
# tags among itself and its ancestors.
_BOILERPLATE_TAGS = ("nav", "aside", "header", "footer")


def _parse_html(raw: str) -> tuple[list, list, list]:
    """One pass over the tokenizer's matches: block scoring state plus
    the full text with spans. Returns ``(blocks, chunks, spans)``:

    - blocks: one row ``[tag, parent, text_chars, link_chars, chunk_ids,
      penalty]`` per block element in document order; row 0 is the root
      (parent -1, penalty 1.0); penalty is inherited from the parent at
      open (``_open_block``),
    - chunks: ``(text, full_start)`` per text run in document order —
      full_text is ``" ".join`` of the texts, so full_start is exact by
      construction,
    - spans: ``(full_start, full_end, kind)``, unsorted.
    """
    blocks: list[list] = [["<root>", -1, 0, 0, [], 1.0]]
    block_stack = [0]  # open block ids, innermost last
    tag_stack: list[str] = []
    # open-tag multiset mirroring tag_stack: O(1) "is this end tag
    # matched?" instead of an O(depth) list scan per end tag
    open_counts: dict[str, int] = {}
    open_spans: list[tuple[str, int]] = []  # (kind, full_start)
    chunks: list[tuple[str, int]] = []
    spans: list[tuple[int, int, str]] = []
    skip = 0  # depth of open SKIP_TAGS elements: their text is dropped
    links = 0  # depth of open <a> elements
    full_len = 0
    pos = 0
    n = len(raw)
    search = _TAG_TOKEN_RE.search
    while pos < n:
        m = search(raw, pos)
        s = n if m is None else m.start()
        if s > pos and not skip:
            data = raw[pos:s]
            txt = collapse_ws(_unescape(data) if "&" in data else data)
            if txt:
                # credit the chunk to the innermost open block
                blk = blocks[block_stack[-1]]
                start = full_len + 1 if chunks else 0
                blk[4].append(len(chunks))
                blk[2] += len(txt)
                if links:
                    blk[3] += len(txt)
                chunks.append((txt, start))
                full_len = start + len(txt)
        if m is None:
            break
        pos = m.end()
        # positional fetch: named access re-resolves group names per call
        end, name, selfclose = m.group(_G_END, _G_NAME, _G_SELFCLOSE)
        if name is None:  # comment / doctype / PI
            continue
        tag = name.lower()
        f = _TAG_FLAGS.get(tag, 0)
        if f & _F_SKIP:
            if end:
                if skip:
                    skip -= 1
            elif selfclose:
                pass  # opens and closes: no skipped region
            elif tag in _RAW_CLOSE:
                # jump past the close tag, which leaves skip as it was
                close = _RAW_CLOSE[tag].search(raw, pos)
                if close is None:
                    break  # unterminated: rest of document is raw content
                gt = raw.find(">", close.start())
                pos = gt + 1 if gt >= 0 else n
            else:
                skip += 1
            continue
        if skip:
            continue
        if end:
            # stray end tags no-op
            closing = tag if open_counts.get(tag) else None
        elif f & _F_PCLOSE and blocks[block_stack[-1]][0] == "p":
            closing = "p"  # implied </p>
        else:
            closing = None
        if closing is not None:
            # tolerant unwinding for malformed nesting: pop through the
            # innermost open element of this tag. Each open
            # block/span/<a> pushed exactly one entry, so the pops below
            # pair with those pushes.
            while True:
                top = tag_stack.pop()
                open_counts[top] -= 1
                g = _TAG_FLAGS.get(top, 0)
                if g & _F_LINK:
                    links -= 1
                if g & _F_BLOCK:
                    block_stack.pop()
                if g & _F_SPAN:
                    kind, start = open_spans.pop()
                    if full_len > start:
                        spans.append((start, full_len, kind))
                if top == closing:
                    break
        if end:
            continue
        if selfclose:
            # opens and closes with no text inside: only an (empty)
            # block row is left behind
            if f & _F_BLOCK:
                _open_block(blocks, tag, block_stack[-1])
        else:
            tag_stack.append(tag)
            open_counts[tag] = open_counts.get(tag, 0) + 1
            if f & _F_LINK:
                links += 1
            if f & _F_BLOCK:
                block_stack.append(len(blocks))
                _open_block(blocks, tag, block_stack[-2])
            if f & _F_SPAN:
                open_spans.append(
                    (SPAN_KIND[tag], full_len + 1 if chunks else 0)
                )
    # close any spans left open by malformed markup
    for kind, start in open_spans:
        if full_len > start:
            spans.append((start, full_len, kind))
    return blocks, chunks, spans


def _open_block(blocks: list[list], tag: str, parent: int) -> None:
    """Append a block row; a block inside nav/aside/header/footer (at any
    depth) inherits that container's boilerplate penalty."""
    pen = blocks[parent][5]
    if tag in _BOILERPLATE_TAGS:
        pen = min(pen, TAG_PRIOR[tag])
    blocks.append([tag, parent, 0, 0, [], pen])


def _leaf_score(b: list) -> float:
    tag, _parent, text_chars, link_chars, _chunk_ids, penalty = b
    link_density = link_chars / text_chars
    prior = TAG_PRIOR.get(tag, DEFAULT_PRIOR)
    return text_chars * (1.0 - link_density) ** 2 * prior * penalty


def _remap_spans(
    spans: list[tuple[int, int, str]],
    chunks: list[tuple[str, int]],
    win_chunk_main_start: dict[int, int],
) -> list[tuple[int, int, str]]:
    """Exact span remap: full_text coords -> main_text coords via the
    per-chunk offset map (only chunks of winning leaves survive).

    Chunks are in document order with strictly increasing full_text
    offsets, so each span only touches a bisect-bounded chunk window.
    """
    if not spans or not win_chunk_main_start:
        return []
    fstarts = [c[1] for c in chunks]
    out = []
    for s, e, kind in sorted(spans):
        lo = None
        hi = None
        i = bisect_right(fstarts, s) - 1
        if i < 0:
            i = 0
        for ci in range(i, len(chunks)):
            txt, fstart = chunks[ci]
            if fstart >= e:
                break
            if fstart + len(txt) <= s:
                continue
            mstart = win_chunk_main_start.get(ci)
            if mstart is None:
                continue
            a = mstart + max(0, s - fstart)
            b = mstart + min(len(txt), e - fstart)
            lo = a if lo is None else min(lo, a)
            hi = b if hi is None else max(hi, b)
        if lo is not None and hi is not None and hi > lo:
            out.append((lo, hi, kind))
    return out


def extract_html(raw: str) -> HtmlResult:
    """Run extractor A on one payload; also yields extractor C's view."""
    if not raw or not raw.strip():
        return HtmlResult("", 0.0, "", [], [])
    if "<" not in raw:
        # not markup: normalization identity, weak applicability prior
        norm = collapse_ws(raw)
        return HtmlResult(norm, 0.3 if norm else 0.0, norm, [], [])

    try:
        blocks, chunks, spans = _parse_html(raw)
    except Exception:  # the tokenizer shouldn't raise, but never kill a row
        norm = collapse_ws(raw)
        return HtmlResult(norm, 0.05, norm, [], [])

    full_text = " ".join(txt for txt, _s in chunks)
    spans.sort()

    # Arc90 vote: leaves (blocks holding text) credit their parent
    # container, skipping lists (items vote for the list's container);
    # the root is its own container.
    container_score: dict[int, float] = {}
    container_leaves: dict[int, list[list]] = {}
    for b in blocks:
        if b[2]:
            s = _leaf_score(b)
            parent = max(b[1], 0)
            while blocks[parent][0] in ("ul", "ol"):
                parent = blocks[parent][1]
            container_score[parent] = container_score.get(parent, 0.0) + s
            container_leaves.setdefault(parent, []).append(b)

    total = sum(container_score.values())
    if total <= 0:  # also: no leaves at all
        return HtmlResult("", 0.0, full_text, spans, [])
    # argmax container; ties -> smallest container id (document order)
    win = min(container_score, key=lambda c: (-container_score[c], c))
    # leaves in document order of their first chunk
    win_leaves = sorted(container_leaves[win], key=lambda b: b[4][0])

    # main text: leaf chunks joined by ' ' within a leaf, '\n' across
    # leaves. ONE construction yields both the string and each winning
    # chunk's main_text start offset (the separators live in main_parts,
    # so text and offset map cannot drift apart). Chunks are collapse_ws
    # output: never empty, never whitespace-edged.
    main_parts: list[str] = []
    main_len = 0
    chunk_main_start: dict[int, int] = {}
    for b in win_leaves:
        for k, ci in enumerate(b[4]):
            txt = chunks[ci][0]
            if main_parts:
                main_parts.append("\n" if k == 0 else " ")
                main_len += 1
            chunk_main_start[ci] = main_len
            main_parts.append(txt)
            main_len += len(txt)
    main_text = "".join(main_parts)

    main_spans = _remap_spans(spans, chunks, chunk_main_start)
    dominance = container_score[win] / total
    mass = min(1.0, len(main_text) / 40.0)
    score = round(min(1.0, 0.2 + 0.8 * dominance) * mass, 6)
    return HtmlResult(main_text, score, full_text, spans, main_spans)
