"""Frozen kernel snapshot: sha256 digests of ``extract_batch`` output.

Each digest covers every turn of one conversation, in turn order: the
turn's ``(text, spans, score, error, candidates)``. The rows are the
400 conversations of ``gen_transcripts(400, seed=3, whale_lo=100,
whale_hi=300)`` plus one row per hand-written gallery case below.
A kernel change that moves any byte of any turn fails here, naming the
conversations that moved.

The digests are frozen on purpose: a kernel change must leave them as
they are unless it is an intended behaviour fix. Only then, regenerate
them from the repository root with

    python -m tests.test_kernel_snapshot --regenerate

and say in the change which rows moved and why.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pandas as pd

from ocr_spark.kernels import extract_batch
from ocr_spark.synth import gen_transcripts

GOLDEN = Path(__file__).resolve().parent / "golden" / "kernel_digests.tsv"


def _one_mb_page() -> str:
    para = (
        "<p>Paragraph {i} of the long article carries running prose "
        "with a <a href='/r{i}'>reference</a> and &amp; entities.</p>\n"
    )
    parts = ["<html><body><nav><ul><li><a href='/'>home</a></li></ul></nav>"
             "<article><h1>A very long page</h1>"]
    size, i = 0, 0
    while size < 1_000_000:
        p = para.format(i=i)
        parts.append(p)
        size += len(p)
        i += 1
    parts.append("</article><footer><p>end</p></footer></body></html>")
    return "".join(parts)


# The pages of two mended html_main faults: F1 dropped the article's
# <ul> items (the list's leaves voted for the <ul>, not the article;
# lists are now transparent to the vote); F2 split the article at the
# first unclosed <p> and kept only one side (a block start tag now
# implies </p>). Both pages now yield the whole article.
_F1_PAGE = (
    "<html><head><title>t</title></head><body>"
    "<nav><ul><li><a href='/a'>nav one</a></li>"
    "<li><a href='/b'>nav two</a></li></ul></nav>"
    "<article><h1>Release notes</h1>"
    "<ul><li>Faster shuffle reads.</li><li>Smaller lineage rows.</li>"
    "<li>Resume skips committed buckets.</li></ul>"
    "<p>This release tightens the write path and trims the lineage "
    "table so resumed runs start sooner.</p>"
    "<p>Upgrade by replacing the package zip; no schema changes.</p>"
    "</article><footer><p>© 2026 corp</p></footer></body></html>"
)
_F2_PAGE = (
    "<html><head><title>t</title></head><body>"
    "<header><p>site&nbsp;&amp;\r\n menu</header>"
    "<article><h1>Unclosed paragraphs</h1>"
    "<p>The first paragraph never closes and runs into the next one."
    "<p>The second paragraph is also left open by the author."
    "<p>The third paragraph closes properly, unlike the first two.</p>"
    "</article><aside><p><a href='#1'>promoted</a></p></aside>"
    "</body></html>"
)

# name -> turns [(text, tool)]; each case is one digest row
GALLERY: dict[str, list[tuple[str | None, str | None]]] = {
    "unclosed_p_li": [
        ("<article><p>First para opens<p>Second para opens"
         "<ul><li>item one<li>item two</ul><p>tail text</article>", "html"),
    ],
    "script_holding_close_div": [
        ("<div><p>before the script</p><script>var s = '</div>';"
         "</script><p>after the script</p></div>", "html"),
    ],
    "unterminated_script": [
        ("<article><p>kept paragraph text</p><script>var x = "
         "'<p>never shown</p>'", "html"),
    ],
    "unterminated_comment": [
        ("<article><p>kept paragraph text</p><!-- <p>never shown</p>",
         "html"),
    ],
    "nested_svg": [
        ("<p>before</p><svg><svg><text>inner</text></svg>"
         "<text>outer</text></svg><p>after</p>", "html"),
    ],
    "self_closed_skip_tags": [
        ("<p>a</p><noscript/><p>b</p><template/><p>c</p><svg/><p>d</p>"
         "<script src='x.js'/><p>e</p>", "html"),
    ],
    "nav_nesting_over_64": [
        ("<body><nav>" + "<div>" * 70
         + "<p>deep text under the nav, more than sixty-four blocks "
         "down, long enough to outscore the article below it</p>"
         + "</div>" * 70
         + "</nav><article><p>the short article</p></article></body>",
         "html"),
    ],
    "one_mb_turn": [(_one_mb_page(), "html")],
    "nul_and_lone_surrogate": [
        ("<p>nul\x00inside</p><p>lone \ud800 surrogate</p>", "html"),
        ("plain nul\x00 and \udfff", None),
        ("L 1 72 700 272 712 pdf nul\x00 line", "pdf"),
    ],
    "crlf": [
        ("<p>line one\r\nline two</p>\r\n<pre>code\r\nmore\rcode</pre>",
         "html"),
        ("L 1 72 700 272 712 first line\r\nL 1 72 686 272 698 second line",
         "pdf"),
        ("plain\r\ntext\rwith breaks", "text"),
    ],
    "null_text_and_tool": [
        (None, "html"),
        ("<p>tool is null</p>", None),
        (None, None),
        (None, "pdf"),
    ],
    "f1_list_page": [(_F1_PAGE, "html")],
    "f2_unclosed_p_page": [(_F2_PAGE, "html")],
}


def _turn_line(row) -> str:
    return json.dumps(
        [
            row.text,
            [[s["start"], s["end"], s["kind"]] for s in row.spans],
            row.score,
            row.error,
            [[c["extractor"], c["text"], c["score"]] for c in row.candidates],
        ],
        ensure_ascii=True,
    ) + "\n"


def _digests() -> dict[str, str]:
    t = gen_transcripts(400, seed=3, whale_lo=100, whale_hi=300)
    t = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    keys = list(t["conv_id"])
    texts, tools = list(t["text"]), list(t["tool"])
    for name, turns in GALLERY.items():
        keys += [f"gallery/{name}"] * len(turns)
        texts += [x for x, _ in turns]
        tools += [k for _, k in turns]
    res = extract_batch(
        pd.Series(texts, dtype=object), pd.Series(tools, dtype=object)
    )
    hashers = {}
    for key, row in zip(keys, res.itertuples(index=False)):
        h = hashers.setdefault(key, hashlib.sha256())
        h.update(_turn_line(row).encode("ascii"))
    return {k: h.hexdigest() for k, h in hashers.items()}


def _read_golden() -> dict[str, str]:
    rows = GOLDEN.read_text(encoding="ascii").splitlines()
    return dict(r.split("\t") for r in rows)


def test_snapshot_covers_corpus_and_gallery():
    golden = _read_golden()
    assert sum(not k.startswith("gallery/") for k in golden) == 400
    assert {k for k in golden if k.startswith("gallery/")} == {
        f"gallery/{name}" for name in GALLERY
    }


def test_kernel_output_matches_frozen_digests():
    golden, digests = _read_golden(), _digests()
    assert digests.keys() == golden.keys()
    moved = sorted(k for k in golden if digests[k] != golden[k])
    assert not moved, f"{len(moved)} rows drifted: {moved[:20]}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--regenerate"]:
        sys.exit("usage: python -m tests.test_kernel_snapshot --regenerate")
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(
        "".join(f"{k}\t{v}\n" for k, v in sorted(_digests().items())),
        encoding="ascii",
    )
    print(f"wrote {GOLDEN}")
