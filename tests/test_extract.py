"""Extraction operator tests: span-sequence equality on fixture docs,
boilerplate strip, best-path decode, PDF layout stub, and the
direct-vs-salted physical-path equivalence property."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from full_lattice_search_spark.config import LatticeConfig
from full_lattice_search_spark.datagen import FIXTURE_TEXTS, synth_documents
from full_lattice_search_spark.operators.extract import (
    extract_span_batch,
    extract_spans,
    extract_spans_salted,
)
from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

CFG = LatticeConfig()


def batch(rows):
    kind = pd.Series([r[0] for r in rows], dtype=object)
    text = pd.Series([r[1] for r in rows], dtype=object)
    media = pd.Series([r[2] for r in rows], dtype=object)
    return extract_span_batch(kind, text, media, CFG)


def test_lattice_best_path():
    # confusion network from LatticeTokenFilterTests.java:57-95 — rank-0
    # (min-rank) path per position is "the quick brown fox"
    out = batch([("text", FIXTURE_TEXTS[2], None)])
    assert bool(out["keep"][0])
    assert out["text"][0] == "the quick brown fox"


def test_plain_text_normalized():
    out = batch([("text", "  the   quick\tbrown\n fox ", None)])
    assert out["text"][0] == "the quick brown fox"


def test_html_boilerplate_strip():
    html = (
        "<html><head><style>.x{color:red}</style></head><body>"
        "<nav><a href='/'>home</a></nav><!-- hidden -->"
        "<article><h1>Title</h1><p>Main &amp; content.</p></article>"
        "<script>alert(1)</script><footer>(c) corp</footer></body></html>"
    )
    out = batch([("text", html, None)])
    assert out["text"][0] == "Title Main & content."


def test_media_passthrough_and_empty_drop():
    out = batch(
        [
            ("image", None, "media://img/1"),
            ("audio", None, "media://aud/2"),
            ("text", "<nav>only boilerplate</nav>", None),
            ("text", "   ", None),
        ]
    )
    assert list(out["keep"]) == [True, True, False, False]
    assert out["media_ref"][0] == "media://img/1"
    assert out["kind"][1] == "audio"


def test_pdf_layout_parse_and_stub():
    layout = "2|10.0|5.0|world\n1|10.0|1.0|hello\n1|20.0|1.0|there"
    out = batch([("pdf", layout, None)])
    assert out["text"][0] == "hello there world"
    assert out["kind"][0] == "text"
    # a %PDF- payload with no parseable objects: strict raises (real
    # parse error), lax falls back to normalized passthrough
    kind = pd.Series(["pdf"], dtype=object)
    text = pd.Series(["%PDF-1.4 binarygunk"], dtype=object)
    media = pd.Series([None], dtype=object)
    with pytest.raises(ValueError, match="no PDF objects"):
        extract_span_batch(kind, text, media, CFG, strict=True)
    lax = extract_span_batch(kind, text, media, CFG, strict=False)
    assert lax["text"][0] == "%PDF-1.4 binarygunk"


def test_best_path_tie_breaks():
    # same rank at a position → higher score wins
    out = batch([("text", "a|0|0|0.2 b|0|0|0.9 c|1|0|0.5", None)])
    assert out["text"][0] == "b c"


def test_extract_spans_spark(spark):
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    ("text", FIXTURE_TEXTS[2], None, 0),
                    ("image", None, "media://img/d1/1", 1),
                    ("text", "<nav>x</nav><p>body text</p>", None, 2),
                ],
            ),
        ],
        DOCUMENTS_SCHEMA,
    )
    rows = extract_spans(docs, CFG).collect()
    assert len(rows) == 1
    spans = rows[0]["spans"]
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans] == [
        ("text", "the quick brown fox", None, 0),
        ("image", None, "media://img/d1/1", 1),
        ("text", "body text", None, 2),
    ]
    assert rows[0]["n_spans"] == 3
    assert rows[0]["n_text_chars"] == len("the quick brown fox") + len("body text")


def test_direct_and_salted_paths_identical(spark):
    # edge docs: no spans (null / empty list), every span cleaned to
    # nothing, and a hand-built mega-doc (kept, dropped and media spans,
    # listed in reverse source order) next to the synthetic docs
    mega = [
        (("text", f"word{i} |", None, i) if i % 3 else ("text", " ", None, i))
        for i in range(90)
    ] + [("image", None, "media://img/mega/1", 90)]
    edge = spark.createDataFrame(
        [
            ("edge-null", None),
            ("edge-empty", []),
            ("edge-dropped", [("text", "   ", None, 0),
                              ("text", "<nav>menu</nav>", None, 1)]),
            ("edge-mega", mega[::-1]),
        ],
        DOCUMENTS_SCHEMA,
    )
    docs = synth_documents(spark, 40, seed=7, mega_every=10).unionByName(
        edge
    ).cache()
    a = extract_spans(docs, CFG).orderBy("doc_id").collect()
    b = extract_spans_salted(docs, CFG).orderBy("doc_id").collect()
    assert len(a) == len(b) == 44
    assert a == b
    by_id = {r["doc_id"]: r for r in b}
    for doc_id in ("edge-null", "edge-empty", "edge-dropped"):
        row = by_id[doc_id]
        assert (row["spans"], row["n_spans"], row["n_text_chars"]) == ([], 0, 0)
    mega_spans = by_id["edge-mega"]["spans"]
    assert [s["offset"] for s in mega_spans] == list(range(61))


def test_datagen_deterministic_across_parallelism(spark):
    one = synth_documents(spark, 30, seed=42, partitions=1).collect()
    many = synth_documents(spark, 30, seed=42, partitions=8).collect()
    key = lambda r: r["doc_id"]
    one, many = sorted(one, key=key), sorted(many, key=key)
    assert [r["doc_id"] for r in one] == [r["doc_id"] for r in many]
    for a, b in zip(one, many):
        assert a["spans"] == b["spans"]


def test_pdf_parser_real_roundtrip():
    """The PDF interpreter must recover exactly the (page, y, x, text)
    rows the synthesizer placed — requires walking objects, Kids order,
    Tm/Td matrix state, and both Tj and TJ (skipping kerning numbers)."""
    from full_lattice_search_spark.functions.pdf import (
        _coords,
        parse_pdf_text,
        pdf_layout_text,
        synth_pdf_bytes,
    )

    toks = [f"w{i}" for i in range(11)]  # spans two pages (8 per page)
    payload = synth_pdf_bytes(toks)
    assert payload.startswith(b"%PDF-") and payload.rstrip().endswith(
        b"%%EOF"
    )
    rows = parse_pdf_text(payload)
    want = [
        (page, y, x, t)
        for (page, y, x), t in zip(map(_coords, range(len(toks))), toks)
    ]
    assert rows == want
    # reading order: page asc, y desc, x asc
    order = sorted(range(len(toks)), key=lambda i: (
        _coords(i)[0], -_coords(i)[1], _coords(i)[2]))
    assert pdf_layout_text(payload) == " ".join(toks[i] for i in order)


def test_pdf_parser_escapes_and_rejections():
    import pytest as _pytest

    from full_lattice_search_spark.functions.pdf import (
        parse_pdf_text,
        synth_pdf_bytes,
    )

    # parens and backslashes survive the escape round-trip
    rows = parse_pdf_text(synth_pdf_bytes(["a(b)c", "d\\e"]))
    assert [r[3] for r in rows] == ["a(b)c", "d\\e"]
    with _pytest.raises(ValueError, match="%PDF-"):
        parse_pdf_text(b"not a pdf")
    # a /Filter'd stream must refuse, not decode garbage
    good = synth_pdf_bytes(["x"])
    bad = good.replace(b"<< /Length", b"<< /Filter /FlateDecode /Length")
    with _pytest.raises(ValueError, match="compressed"):
        parse_pdf_text(bad)


def test_pdf_extract_strict_end_to_end():
    """kind='pdf' span carrying raw uncompressed PDF bytes through the
    batch extractor under strict=True — the previously environment-
    blocked path."""
    from full_lattice_search_spark.functions.pdf import (
        pdf_layout_text,
        synth_pdf_bytes,
    )

    payload = synth_pdf_bytes(["hello", "layout", "world"])
    kind = pd.Series(["pdf"], dtype=object)
    text = pd.Series([payload.decode("latin-1")], dtype=object)
    media = pd.Series([None], dtype=object)
    out = extract_span_batch(kind, text, media, CFG, strict=True)
    assert out["text"][0] == pdf_layout_text(payload)
    assert out["kind"][0] == "text"
