"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Fixed seed, no wall-clock, no external data. Produces the transcripts
table (conv_id, turn_idx, role, text, tool, ts) as a pandas DataFrame —
small scales for pytest, parameterized row counts for bench.

Payload kinds (FIXTURES.md §1.1):
- html: nav (link-dense) + header/footer boilerplate + one <article> of
  seeded sentences (text-dense) + link sidebar + inline h1-3/code/ul-li/a
  for span extraction; ~5% malformed, ~1% empty/garbage (error channel).
- pdf:  pdfminer-style dump 'L page x0 y0 x1 y1 <text>', 1-2 columns,
  shuffled line order, ~10% hyphenated breaks.
- plain (tool=null): plain sentences; extraction = normalization identity.

Skew profile: 90% of conversations 1-20 turns, 9% 21-200, 1% whales
(whale_lo..whale_hi turns) — exercises salted repartitioning.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd

_WORDS = (
    "spark shuffle partition arrow batch kernel vector column parquet "
    "iceberg lineage checkpoint resume transcript conversation turn agent "
    "extract content boilerplate density heuristic ensemble vote validate "
    "pipeline throughput scaling executor driver codegen predicate filter "
    "window stream table query plan stage task record payload schema"
).split()

_ROLES = ["user", "assistant", "tool"]
_ROLE_W = [4, 4, 2]
_TOOLS = ["html", "pdf", None]
_TOOL_W = [5, 2, 3]

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _sentence(rng: random.Random, lo=6, hi=14) -> str:
    n = rng.randint(lo, hi)
    ws = [rng.choice(_WORDS) for _ in range(n)]
    return " ".join(ws).capitalize() + "."


def _paragraph(rng: random.Random, n_sent=None) -> str:
    n = n_sent or rng.randint(2, 5)
    return " ".join(_sentence(rng) for _ in range(n))


def _nav(rng: random.Random) -> str:
    links = "".join(
        f'<li><a href="/{rng.choice(_WORDS)}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a></li>'
        for _ in range(rng.randint(4, 8))
    )
    return f"<nav><ul>{links}</ul></nav>"


def _sidebar(rng: random.Random) -> str:
    links = "".join(
        f'<p><a href="#{i}">{_sentence(rng, 2, 4)}</a></p>'
        for i in range(rng.randint(3, 6))
    )
    return f"<aside>{links}</aside>"


def make_html(rng: random.Random) -> str:
    """One templated page; the <article> is the golden main content."""
    title = _sentence(rng, 3, 6).rstrip(".")
    paras = [f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(2, 6))]
    extras = []
    if rng.random() < 0.6:
        extras.append(f"<h2>{_sentence(rng, 2, 4).rstrip('.')}</h2>")
    if rng.random() < 0.4:
        extras.append(f"<pre>{rng.choice(_WORDS)}_{rng.choice(_WORDS)}(x)</pre>")
    if rng.random() < 0.5:
        items = "".join(f"<li>{_sentence(rng, 3, 6)}</li>" for _ in range(rng.randint(2, 4)))
        extras.append(f"<ul>{items}</ul>")
    if rng.random() < 0.5:
        k = rng.choice(_WORDS)
        paras.append(f'<p>{_paragraph(rng, 1)} See <a href="/{k}">{k} docs</a>.</p>')
    body_main = f"<article><h1>{title}</h1>{''.join(extras)}{''.join(paras)}</article>"
    page = (
        "<html><head><title>t</title><script>var x=1;</script>"
        "<style>.a{color:red}</style></head><body>"
        f"<header><p>site {rng.choice(_WORDS)} — menu</p></header>"
        f"{_nav(rng)}{body_main}{_sidebar(rng)}"
        f"<footer><p>© 2026 {rng.choice(_WORDS)} inc. <a href='/tos'>terms</a></p></footer>"
        "</body></html>"
    )
    r = rng.random()
    if r < 0.05:  # malformed: drop some closing tags, sprinkle entities/CRLF
        page = page.replace("</p>", "", 2).replace(" — ", "&nbsp;&amp;\r\n ")
    return page


def make_pdf(rng: random.Random) -> str:
    """pdfminer-style layout dump, 1-2 columns, shuffled, ~10% hyphenated."""
    n_cols = 2 if rng.random() < 0.4 else 1
    page_h = 800.0
    lines = []
    for col in range(n_cols):
        x0 = 72.0 + col * 260.0
        y = page_h - 72.0
        for _ in range(rng.randint(5, 14)):
            txt = _sentence(rng, 4, 9)
            if rng.random() < 0.10 and len(txt) > 12:
                cut = len(txt) // 2
                # split a word with a soft hyphen across two lines
                lines.append((1, x0, y, txt[:cut].rstrip() + "-"))
                y -= 14.0
                rest = txt[cut:].lstrip()
                txt = rest[:1].lower() + rest[1:]
            lines.append((1, x0, y, txt))
            y -= 14.0
    rng.shuffle(lines)
    return "\n".join(
        f"L {p} {x:.1f} {y:.1f} {x + 200.0:.1f} {y + 12.0:.1f} {t}"
        for p, x, y, t in lines
    )


def make_plain(rng: random.Random) -> str:
    return _paragraph(rng, rng.randint(1, 4))


def make_garbage(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return ""
    if r < 0.7:
        return "   \n\t  "
    return "<<<>>> ~~~ |||| ---- >>>" * rng.randint(1, 3)


def _conv_len(rng: random.Random, whale_lo: int, whale_hi: int) -> int:
    r = rng.random()
    if r < 0.90:
        return rng.randint(1, 20)
    if r < 0.99:
        return rng.randint(21, 200)
    return rng.randint(whale_lo, whale_hi)


def _draw_turn(rng: random.Random):
    """One turn's (role, text, tool), drawn in a fixed rng call order;
    1% of turns are garbage."""
    role = rng.choices(_ROLES, _ROLE_W)[0]
    tool = rng.choices(_TOOLS, _TOOL_W)[0]
    if rng.random() < 0.01:
        text = make_garbage(rng)
    elif tool == "html":
        text = make_html(rng)
    elif tool == "pdf":
        text = make_pdf(rng)
    else:
        text = make_plain(rng)
    return role, text, tool


def _turn_frame(rows: list) -> pd.DataFrame:
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def gen_transcripts_ids(
    conv_ids,
    seed: int = 0,
    whale_lo: int = 1000,
    whale_hi: int = 10000,
) -> pd.DataFrame:
    """Generate transcript rows for an explicit set of conversation ids.

    Each conversation has its own RNG stream seeded from (seed, i), so
    output is identical regardless of which worker generates which ids —
    this is what lets ``bench.py`` fan generation out over executors with
    ``mapInPandas`` and still match a single-process run bit-for-bit.
    """
    rows = []
    for i in conv_ids:
        rng = random.Random((seed << 20) ^ i)  # per-conv stream: order-free
        cid = "c%08d" % i
        n_turns = _conv_len(rng, whale_lo, whale_hi)
        base = _EPOCH + timedelta(seconds=i * 97)
        for t in range(n_turns):
            role, text, tool = _draw_turn(rng)
            rows.append((cid, t, role, text, tool, base + timedelta(seconds=7 * t)))
    return _turn_frame(rows)


def gen_transcripts(
    n_convs: int,
    seed: int = 0,
    whale_lo: int = 1000,
    whale_hi: int = 10000,
) -> pd.DataFrame:
    """Generate the transcripts table deterministically."""
    return gen_transcripts_ids(
        range(n_convs),
        seed=seed,
        whale_lo=whale_lo,
        whale_hi=whale_hi,
    )


def gen_whale_turns(
    turn_idxs,
    seed: int = 0,
) -> pd.DataFrame:
    """Rows for an explicit set of turn indices of ONE huge conversation,
    ``whale-0``.

    Per-TURN rng streams (seeded from (seed, turn_idx)) make generation
    order-free across workers, so an extreme-skew table — one
    conversation holding ~half of all turns — can be synthesized
    distributed via ``mapInPandas`` and still be bit-deterministic.
    """
    rows = []
    for t in turn_idxs:
        t = int(t)
        rng = random.Random((seed << 21) ^ 0x5EED0000 ^ t)
        role, text, tool = _draw_turn(rng)
        ts = _EPOCH + timedelta(seconds=7 * t)
        rows.append(("whale-0", t, role, text, tool, ts))
    return _turn_frame(rows)


def write_transcripts_parquet(df: pd.DataFrame, path: str) -> None:
    """Write a transcripts DataFrame as Spark-readable parquet.

    pandas defaults to nanosecond timestamps, which Spark's parquet
    reader rejects (PARQUET_TYPE_ILLEGAL); coerce to microseconds.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df, preserve_index=False)
    schema = pa.schema(
        [
            pa.field(f.name, pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in table.schema
        ]
    )
    pq.write_table(table.cast(schema), path)


def oracle_extract(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Golden oracle: run the pure-Python kernels single-process, ordered
    by (conv_id, turn_idx) — the pytest comparison target (FIXTURES.md §2).
    """
    from ocr_spark.kernels import extract_batch

    t = transcripts.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    res = extract_batch(t["text"], t["tool"])
    out = pd.concat([t[["conv_id", "turn_idx"]], res], axis=1)
    return out
