"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed. The transcript
generators also return, for every turn, what a correct extraction
yields, derived from how the turn was built (never by running the
extraction kernel):

- ``html``: the ``<article>`` text, tags stripped, entities unescaped;
- ``pdf``: the lines in column order, then top to bottom, soft
  hyphens rejoined;
- ``plain``: the input itself;
- ``garbage``: empty text and a non-empty ``error``.

All expected texts are compared after whitespace collapse.

Two kinds of html page fail on today's ``html_main.extract_html`` every
time. They are built from a fixed seed, so their count and content do
not depend on the workload seed. For these the generator also gives the
text the known fault yields, so a wrong output is put down to the fault
only when it is exactly that text:

- ``f1``: a ``<ul>`` list inside the winning ``<article>``; the fault
  drops the list items and keeps everything else;
- ``f2``: an unclosed ``<p>`` in the header and in the first article
  paragraph (the malformed page shape of ``ocr_spark.synth``); the
  following paragraphs nest inside the first one, and the fault keeps
  only one side of that split: everything after the first paragraph,
  or everything up to and including it.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark shuffle partition arrow batch kernel vector column parquet "
    "lineage checkpoint resume transcript conversation turn agent extract "
    "content density heuristic ensemble vote validate pipeline throughput "
    "executor driver codegen predicate filter window stream table query "
    "plan stage task record payload schema café naïve über"
).split()

# the operator tables reuse the vocabulary of the repository's sf
# fixtures, which the operator queries' thresholds were tuned on
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
DOC_LANGS = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
EXPECTED_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("kind", pa.string()),
        ("expected", pa.string()),
        ("fault_texts", pa.list_(pa.string())),
    ]
)

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ["user", "assistant", "tool"]
GARBAGE_KINDS = ("", "   \n\t  ", "<<<>>> ~~~ |||| ---- >>>")
# fixed seed of the fault-probe pages: independent of the workload seed
PROBE_SEED = 0x5EED


def collapse(s: str) -> str:
    return " ".join(s.split())


def _sentence(rng: random.Random, lo: int = 6, hi: int = 14) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    return " ".join(words).capitalize() + "."


def _with_entities(rng: random.Random, text: str) -> tuple[str, str]:
    """(markup, expected) for a run of words, with entity escapes."""
    out_m, out_e = [], []
    for w in text.split(" "):
        r = rng.random()
        if r < 0.03:
            out_m.append("R&amp;D")
            out_e.append("R&D")
        elif r < 0.05:
            out_m.append(f"&quot;{w}&quot;")
            out_e.append(f'"{w}"')
        elif r < 0.06:
            out_m.append(f"{w}&nbsp;")
            out_e.append(w)
        else:
            out_m.append(w)
            out_e.append(w)
    return " ".join(out_m), " ".join(out_e)


def _paragraph(rng: random.Random, n: int | None = None) -> str:
    return " ".join(_sentence(rng) for _ in range(n or rng.randint(2, 5)))


def html_page(
    rng: random.Random, *, lists: bool = False, malformed: bool = False
) -> tuple[str, str, list[str]]:
    """(page, expected main text, texts the known fault yields) of one
    templated web page; the last is empty unless ``lists`` (F1) or
    ``malformed`` (F2)."""
    title = _sentence(rng, 3, 6).rstrip(".")
    body_m, body_e = [f"<h1>{title}</h1>"], [title]
    if rng.random() < 0.6:
        h2 = _sentence(rng, 2, 4).rstrip(".")
        body_m.append(f"<h2>{h2}</h2>")
        body_e.append(h2)
    if rng.random() < 0.4:
        code = f"{rng.choice(WORDS)}_{rng.choice(WORDS)}(x)"
        body_m.append(f"<pre>{code}</pre>")
        body_e.append(code)
    list_at = len(body_e)
    if lists:
        items = [_sentence(rng, 3, 6) for _ in range(rng.randint(2, 4))]
        body_m.append("<ul>" + "".join(f"<li>{i}</li>" for i in items) + "</ul>")
        body_e.extend(items)
    first_p = len(body_e)
    for _ in range(rng.randint(2, 6)):
        m, e = _with_entities(rng, _paragraph(rng))
        body_m.append(f"<p>{m}</p>")
        body_e.append(e)
    if rng.random() < 0.5:
        k = rng.choice(WORDS)
        lead = _paragraph(rng, 1)
        body_m.append(
            f'<p>{lead} See <a href="/{k}">{k} docs</a> for details.</p>'
        )
        body_e.append(f"{lead} See {k} docs for details.")
    nav = "".join(
        f'<li><a href="/{rng.choice(WORDS)}">{rng.choice(WORDS)} '
        f"{rng.choice(WORDS)}</a></li>"
        for _ in range(rng.randint(4, 8))
    )
    aside = "".join(
        f'<p><a href="#{i}">{_sentence(rng, 2, 4)}</a></p>'
        for i in range(rng.randint(3, 6))
    )
    page = (
        "<html><head><title>t</title><script>var x = '</div>';</script>"
        "<style>.a{color:red}</style></head><body>"
        f"<header><p>site {rng.choice(WORDS)} — menu</p></header>"
        f"<nav><ul>{nav}</ul></nav>"
        f"<article>{''.join(body_m)}</article>"
        f"<aside>{aside}</aside>"
        f"<footer><p>© 2026 {rng.choice(WORDS)} inc. "
        "<a href='/tos'>terms</a></p></footer></body></html>"
    )
    faults = []
    if lists:
        faults = ["\n".join(body_e[:list_at] + body_e[first_p:])]
    if malformed:
        # drop the first two closing </p> and sprinkle entities + CRLF
        page = page.replace("</p>", "", 2).replace(" — ", "&nbsp;&amp;\r\n ")
        faults = [
            "\n".join(body_e[first_p + 1:]),
            "\n".join(body_e[: first_p + 1]),
        ]
    return page, "\n".join(body_e), faults


def pdf_page(rng: random.Random) -> tuple[str, str]:
    """(pdfminer-style layout dump, expected reading-order text)."""
    n_cols = 2 if rng.random() < 0.4 else 1
    lines, col_texts = [], []
    for col in range(n_cols):
        x0 = 72.0 + col * 260.0
        y = 728.0
        words_out = []
        for _ in range(rng.randint(3, 12)):
            txt = _sentence(rng, 4, 9)
            words = txt.split(" ")
            long_words = [i for i, w in enumerate(words) if len(w) >= 6]
            if long_words and rng.random() < 0.15:
                # break a long word across two lines with a soft hyphen
                i = rng.choice(long_words)
                cut = rng.randint(2, len(words[i]) - 3)
                head = " ".join(words[:i] + [words[i][:cut]]) + "-"
                tail = " ".join([words[i][cut:]] + words[i + 1:])
                lines.append((x0, y, head))
                y -= 14.0
                lines.append((x0, y, tail))
            else:
                lines.append((x0, y, txt))
            y -= 14.0
            words_out.append(txt)
        col_texts.append(" ".join(words_out))
    rng.shuffle(lines)
    raw = "\n".join(
        f"L 1 {x:.1f} {y:.1f} {x + 200.0:.1f} {y + 12.0:.1f} {t}"
        for x, y, t in lines
    )
    return raw, "\n".join(col_texts)


def plain_text(rng: random.Random) -> str:
    """1-4 sentences; the first gap of each may be extra whitespace."""
    seps = [" ", " ", " ", " ", "  ", "\n", " \t"]
    parts = []
    for _ in range(rng.randint(1, 4)):
        s = _sentence(rng)
        parts.append(s.replace(" ", rng.choice(seps), 1))
    return " ".join(parts)


def _kinds(rng: random.Random, counts: dict[str, int]) -> list[str]:
    kinds = [k for k, n in counts.items() for _ in range(n)]
    rng.shuffle(kinds)
    return kinds


def _conv_lengths(
    rng: random.Random, n_turns: int, whales: list[int], max_len: int
) -> list[int]:
    """Skewed conversation lengths summing to exactly ``n_turns``: the
    whales first, then 90% 1-20 turns, 10% 21-``max_len`` turns."""
    lens = list(whales)
    left = n_turns - sum(whales)
    while left > 0:
        n = rng.randint(1, 20) if rng.random() < 0.9 else rng.randint(21, max_len)
        n = min(n, left)
        lens.append(n)
        left -= n
    return lens


def _make_turn(
    rng: random.Random, kind: str
) -> tuple[str, str | None, str, list[str]]:
    """(text, tool, expected, fault texts) for one turn of the given kind."""
    if kind == "garbage":
        text = rng.choice(GARBAGE_KINDS)
        if text.startswith("<"):
            text *= rng.randint(1, 3)
        return text, rng.choice(["html", "pdf", None]), "", []
    if kind in ("html", "f1", "f2"):
        page, exp, faults = html_page(
            rng, lists=kind == "f1", malformed=kind == "f2"
        )
        return page, "html", exp, faults
    if kind == "pdf":
        raw, exp = pdf_page(rng)
        return raw, "pdf", exp, []
    text = plain_text(rng)
    return text, None, text, []


def _tables(convs: list[tuple[str, list[tuple]]]) -> tuple[pa.Table, pa.Table]:
    rows, exp = [], []
    for ci, (cid, turns) in enumerate(convs):
        base = EPOCH + timedelta(seconds=ci * 97)
        for t, (role, text, tool, kind, expected, faults) in enumerate(turns):
            rows.append((cid, t, role, text, tool, base + timedelta(seconds=7 * t)))
            exp.append((cid, t, kind, expected, faults))
    cols = list(zip(*rows))
    data = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_SCHEMA)],
        schema=TRANSCRIPT_SCHEMA,
    )
    ecols = list(zip(*exp))
    expected = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(ecols, EXPECTED_SCHEMA)],
        schema=EXPECTED_SCHEMA,
    )
    return data, expected


def _assemble(
    rng: random.Random, prefix: str, kinds: list[str], lens: list[int]
) -> list[tuple[str, list[tuple]]]:
    convs, k = [], 0
    for i, n in enumerate(lens):
        turns = []
        for _ in range(n):
            kind = kinds[k]
            k += 1
            text, tool, expected, faults = _make_turn(rng, kind)
            role = rng.choices(ROLES, [4, 4, 2])[0]
            turns.append((role, text, tool, kind, expected, faults))
        convs.append((f"{prefix}{i:06d}", turns))
    return convs


def _probe_convs(n_f1: int, n_f2: int) -> list[tuple[str, list[tuple]]]:
    """The fault-probe conversations: fixed content, 4 turns each."""
    rng = random.Random(PROBE_SEED)
    kinds = ["f1"] * n_f1 + ["f2"] * n_f2
    return _assemble(rng, "probe-", kinds, [4] * (len(kinds) // 4))


def web_mix(seed: int, n_turns: int) -> tuple[pa.Table, pa.Table]:
    """The default web mix: html:pdf:plain = 5:2:3 by tool, 1% garbage,
    5% of html pages malformed and 10% with an article list (both fixed
    fault probes), skewed conversation lengths with two whales."""
    n_garbage = n_turns // 100
    rest = n_turns - n_garbage
    n_html, n_pdf = rest * 5 // 10, rest * 2 // 10
    n_f2, n_f1 = n_html * 5 // 100, n_html * 10 // 100
    n_f1 -= (n_f1 + n_f2) % 4  # whole 4-turn probe conversations
    n_plain = rest - n_html - n_pdf
    probes = _probe_convs(n_f1, n_f2)
    rng = random.Random(seed)
    n_seeded = n_turns - n_f1 - n_f2
    kinds = _kinds(
        rng,
        {
            "html": n_html - n_f1 - n_f2,
            "pdf": n_pdf,
            "plain": n_plain,
            "garbage": n_garbage,
        },
    )
    whale = n_turns // 16
    lens = _conv_lengths(rng, n_seeded, [whale, whale // 2], 200)
    return _tables(probes + _assemble(rng, f"web{seed % 1000:03d}-", kinds, lens))


def write_parts(table: pa.Table, out_dir, n_files: int) -> None:
    """Split ``table`` into ``n_files`` parquet files of equal rows."""
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), out_dir / f"part-{i:03d}.parquet"
        )


def documents(seed: int, n_docs: int) -> pa.Table:
    """The ``documents`` table in the shape of the repository's sf
    fixtures: 10-100 words from a 31-word vocabulary, 5% near-duplicates
    (another document plus a trailing ``dup``) and a few exact copies."""
    rng = random.Random(seed)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(
                " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100)))
            )
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(DOC_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int, dims: int = 64) -> pa.Table:
    """Unit-norm gaussian embeddings with a 10-class label."""
    g = np.random.default_rng(seed)
    m = g.standard_normal((n_vecs, dims)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, n_vecs), pa.int32()),
        }
    )
