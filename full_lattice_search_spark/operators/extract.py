"""Main-content span extraction over interleaved text+media documents
(the graft's headline operator; BASELINE.json ``north_rule``).

Per input span, in source-``offset`` order:

- **lattice text** (every whitespace token is a well-formed pipe record) →
  best-path expansion over the confusion network: per lattice position keep
  the min-``rank`` alternative (tie: max score, then first emission) — the
  rank-0 Viterbi path of a sausage lattice — and emit the joined token text.
  Re-expresses the reference's analysis chain as content extraction
  (index/LatticeTokenParts.java:84-150 for the record grammar).
- **HTML-ish text** → boilerplate strip: script/style/comment removal,
  nav/header/footer/aside drop, tag strip, entity unescape, whitespace
  collapse (north_rule: "HTML boilerplate strip ... DOM heuristics").
- **plain text** → whitespace normalization.
- **pdf** → two REAL paths: raw UNCOMPRESSED PDF bytes (``%PDF-``
  prefix) are decoded by the zero-dependency interpreter in
  ``functions/pdf.py`` (object walk, Tm/Td tracking, Tj/TJ shows) into
  reading order; pre-extracted ``page|y|x|content`` layout lines are
  sorted by (page, y, x).  A pdf span that is neither (e.g. a
  COMPRESSED pdf — no decompression libs in this environment) raises
  ``NotImplementedError`` under ``strict=True`` and passes through
  normalized otherwise.
- **media** (image/audio/...) → passthrough with ``media_ref``.

Dropped spans (empty after cleaning) are removed and the surviving spans are
renumbered ``offset = 0..n-1`` — the (kind, text, media_ref, order) sequence
is the span-sequence-equality surface.

All string work is vectorized pandas/C-regex across the whole Arrow batch —
no per-row Python.  Two physical strategies with identical output:

- ``extract_spans`` — one ``mapInPandas`` over whole documents: zero
  shuffles, the default for the 99.99% of docs that fit a task comfortably.
- ``extract_spans_salted`` — mega-document path: ``posexplode`` to span
  rows, spread one doc's spans across partitions (explicit salt shuffle),
  extract at span granularity, re-merge with ``collect_list`` +
  ``array_sort`` keyed by source offset.  Output is bit-identical to the
  direct path (tested), which is what makes the skew split safe.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from full_lattice_search_spark.config import LatticeConfig
from full_lattice_search_spark.schema import EXTRACTED_SCHEMA

ARROW_SPAN_STRUCT = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
ARROW_EXTRACTED_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("spans", pa.list_(ARROW_SPAN_STRUCT)),
        pa.field("n_spans", pa.int32()),
        pa.field("n_text_chars", pa.int64()),
    ]
)

MEDIA_KINDS = ("image", "audio", "video")

_SCRIPT_RE = r"(?is)<(script|style)\b.*?</\1\s*>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_BOILER_RE = r"(?is)<(nav|header|footer|aside)\b.*?</\1\s*>"
_TAG_RE = r"(?s)<[^>]*>"
_ENTITIES = {
    "&nbsp;": " ",
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&copy;": "(c)",
}
_WS_RE = r"\s+"
_PDF_LINE_RE = re.compile(r"^\d+\|\d+(\.\d+)?\|\d+(\.\d+)?\|")


def _strip_boilerplate(s: pd.Series) -> pd.Series:
    """Vectorized HTML boilerplate strip (C-regex over the whole batch)."""
    out = s.str.replace(_SCRIPT_RE, " ", regex=True)
    out = out.str.replace(_COMMENT_RE, " ", regex=True)
    out = out.str.replace(_BOILER_RE, " ", regex=True)
    out = out.str.replace(_TAG_RE, " ", regex=True)
    for ent, rep in _ENTITIES.items():
        out = out.str.replace(ent, rep, regex=False)
    return out.str.replace(_WS_RE, " ", regex=True).str.strip()


def _normalize_ws(s: pd.Series) -> pd.Series:
    return s.str.replace(_WS_RE, " ", regex=True).str.strip()


def _lattice_best_path_arrays(
    flat_tokens: "pa.Array",
    span_rep: np.ndarray,
    n_spans: int,
    config: LatticeConfig,
) -> np.ndarray:
    """Vectorized best-path decode over pre-split token arrays.

    ``flat_tokens``: every whitespace token of every lattice span (Arrow
    string array); ``span_rep``: parallel span index.  Returns an object
    array of length ``n_spans`` with the joined best-path text (None for
    spans with no tokens).  Per (span, pos) the min-rank alternative wins,
    ties broken by max score then first emission — the rank-0 Viterbi path
    of a confusion network.
    """
    out = np.full(n_spans, None, dtype=object)
    n = len(flat_tokens)
    if n == 0:
        return out
    nf = config.n_fields
    parts = pc.list_flatten(pc.split_pattern(flat_tokens, config.field_delimiter))
    base = np.arange(n, dtype=np.int64) * nf
    token = parts.take(pa.array(base))
    pos = pc.cast(parts.take(pa.array(base + 1)), pa.int64()).to_numpy(
        zero_copy_only=False
    )
    rank = pc.cast(parts.take(pa.array(base + 2)), pa.int64()).to_numpy(
        zero_copy_only=False
    )
    score = (
        pc.cast(parts.take(pa.array(base + 3)), pa.float64())
        .to_numpy(zero_copy_only=False)
        .astype(np.float32)
    )
    emit = np.arange(n, dtype=np.int64)
    order = np.lexsort((emit, -score.astype(np.float64), rank, pos, span_rep))
    s_span = span_rep[order]
    s_pos = pos[order]
    first = np.ones(n, dtype=bool)
    first[1:] = (s_span[1:] != s_span[:-1]) | (s_pos[1:] != s_pos[:-1])
    kept_idx = order[first]  # in (span, pos) order already
    kept_span = s_span[first]
    kept_tokens = token.take(pa.array(kept_idx))
    # join per span with Arrow binary_join over a rebuilt list array
    counts = np.bincount(kept_span, minlength=n_spans)
    offsets = np.zeros(n_spans + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), kept_tokens),
        " ",
    ).to_numpy(zero_copy_only=False)
    has = counts > 0
    out[has] = joined[has]
    return out


def _pdf_layout_parse(texts: pd.Series, strict: bool) -> pd.Series:
    """PDF span extraction, two REAL paths:

    - raw uncompressed PDF bytes (``%PDF-`` prefix, latin-1-carried in
      the string column): parsed by the zero-dependency interpreter in
      ``functions/pdf.py`` (object walk, stream extraction, Tm/Td text
      positioning, Tj/TJ shows) and emitted in reading order
      (page, y desc, x asc);
    - pre-extracted ``page|y|x|content`` layout lines: sorted the same
      way a layout engine would.

    Anything else raises under ``strict=True`` (e.g. a COMPRESSED pdf —
    no decompression libs here) and passes through normalized otherwise.
    """
    if len(texts) == 0:
        return texts

    is_raw = texts.str.startswith("%PDF-")
    if is_raw.any():
        from full_lattice_search_spark.functions.pdf import pdf_layout_text

        def _decode(t: str):
            try:
                return pdf_layout_text(t.encode("latin-1"))
            except Exception:
                if strict:
                    raise  # malformed/compressed pdf must be LOUD
                return None  # lax: fall back to normalized passthrough

        parsed = texts[is_raw].map(_decode)
        fell = parsed.isna()
        if fell.any():
            parsed[fell] = _normalize_ws(texts[is_raw][fell])
        rest = (
            _pdf_layout_parse(texts[~is_raw], strict)
            if (~is_raw).any()
            else texts[~is_raw]
        )
        return _normalize_ws(
            pd.concat([parsed, rest]).reindex(texts.index)
        )

    lines = pd.DataFrame({"span": texts.index, "line": texts.str.split("\n")})
    lines = lines.explode("line", ignore_index=True)
    lines = lines[lines["line"].str.strip() != ""]
    is_layout = lines["line"].str.match(_PDF_LINE_RE.pattern)
    if not is_layout.all():
        if strict:
            raise NotImplementedError(
                "PDF byte-stream decode is not available in this "
                "environment; expected 'page|y|x|content' layout lines"
            )
        return _normalize_ws(texts)
    parts = lines["line"].str.split(re.escape("|"), n=3, expand=True)
    lines["page"] = parts[0].astype(np.int64)
    lines["y"] = parts[1].astype(np.float64)
    lines["x"] = parts[2].astype(np.float64)
    lines["content"] = parts[3]
    lines = lines.sort_values(["span", "page", "y", "x"], kind="stable")
    joined = lines.groupby("span", sort=True)["content"].agg(" ".join)
    return _normalize_ws(joined.reindex(texts.index))


def extract_span_batch(
    kind: pd.Series,
    text: pd.Series,
    media_ref: pd.Series,
    config: LatticeConfig,
    strict: bool = False,
) -> pd.DataFrame:
    """Extract a flat batch of spans (any mix of docs).  Pure function —
    both physical paths call this, guaranteeing identical semantics.

    Returns columns (keep, kind, text, media_ref) aligned to the input.
    """
    n = len(kind)
    idx = pd.RangeIndex(n)
    kind = kind.reset_index(drop=True)
    text = text.reset_index(drop=True)
    media_ref = media_ref.reset_index(drop=True)

    out_kind = kind.copy()
    out_text = pd.Series([None] * n, dtype=object)
    out_media = pd.Series([None] * n, dtype=object)
    keep = pd.Series(True, index=idx)

    is_media = kind.isin(MEDIA_KINDS) | (text.isna() & media_ref.notna())
    out_media[is_media] = media_ref[is_media]
    keep &= is_media | text.notna()

    is_pdf = (kind == "pdf") & text.notna()
    is_text = ~is_media & ~is_pdf & text.notna()

    if is_text.any():
        t_idx = np.flatnonzero(is_text.to_numpy())
        va = pa.array(text.to_numpy()[t_idx], pa.string())
        tok_lists = pc.utf8_split_whitespace(va)
        counts = (
            pc.list_value_length(tok_lists)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        flat = pc.list_flatten(tok_lists)
        local_rep = np.repeat(np.arange(len(t_idx), dtype=np.int64), counts)
        nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
        if not nonempty.all():
            flat = flat.filter(pa.array(nonempty))
            local_rep = local_rep[nonempty]
            counts = np.bincount(local_rep, minlength=len(t_idx))

        # lattice detection: every whitespace token has exactly
        # n_fields-1 delimiters (and the span has at least one token)
        nd = pc.count_substring(flat, config.field_delimiter).to_numpy(
            zero_copy_only=False
        )
        is_rec = nd == (config.n_fields - 1)
        rec_per_span = np.bincount(
            local_rep, weights=is_rec, minlength=len(t_idx)
        )
        all_lattice_local = (counts > 0) & (rec_per_span == counts)

        lattice_mask = pd.Series(False, index=idx)
        lattice_idx = t_idx[all_lattice_local]
        lattice_mask[lattice_idx] = True

        if len(lattice_idx) > 0:
            in_lat = all_lattice_local[local_rep]
            lat_tokens = flat.filter(pa.array(in_lat))
            # renumber span ids to 0..len(lattice_idx)-1
            remap = np.full(len(t_idx), -1, dtype=np.int64)
            remap[all_lattice_local] = np.arange(len(lattice_idx))
            lat_rep = remap[local_rep[in_lat]]
            out_text[lattice_idx] = _lattice_best_path_arrays(
                lat_tokens, lat_rep, len(lattice_idx), config
            )

        html_mask = is_text & ~lattice_mask & text.str.contains(
            r"<[a-zA-Z!/]", regex=True, na=False
        )
        if html_mask.any():
            out_text[html_mask] = _strip_boilerplate(text[html_mask])

        plain_mask = is_text & ~lattice_mask & ~html_mask
        if plain_mask.any():
            out_text[plain_mask] = _normalize_ws(text[plain_mask])
        out_kind[is_text] = "text"

    if is_pdf.any():
        out_text[is_pdf] = _pdf_layout_parse(text[is_pdf], strict)
        out_kind[is_pdf] = "text"

    # drop text spans that cleaned to nothing
    text_like = ~is_media
    empty = text_like & (out_text.isna() | (out_text == ""))
    keep &= ~empty
    return pd.DataFrame(
        {"keep": keep, "kind": out_kind, "text": out_text, "media_ref": out_media}
    )


def _extract_batch_arrow(
    rb: pa.RecordBatch, config: LatticeConfig, strict: bool
) -> pa.RecordBatch:
    """Whole-batch extraction with zero per-row Python: flatten the list
    columns via Arrow offsets, run the vectorized span extractor, and
    rebuild the output list<struct> directly from numpy offset arrays.
    (The previous pandas implementation built one Python dict per span —
    at 32 workers the allocation storm showed up as kernel time and killed
    scaling.)"""
    n_docs = rb.num_rows
    doc_id = rb.column(0)
    kinds, texts, medias, offsets = (rb.column(i) for i in range(1, 5))

    counts = pa.compute.list_value_length(kinds).to_numpy(zero_copy_only=False)
    counts = np.nan_to_num(counts, nan=0).astype(np.int64)
    di = np.repeat(np.arange(n_docs, dtype=np.int64), counts)

    flat_kind = pa.compute.list_flatten(kinds).to_pandas()
    flat_text = pa.compute.list_flatten(texts).to_pandas()
    flat_media = pa.compute.list_flatten(medias).to_pandas()
    flat_off = (
        pa.compute.list_flatten(offsets)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )

    # enforce source order within each doc (offset is the source ordering)
    order = np.lexsort((flat_off, di))
    if len(order) and not np.array_equal(order, np.arange(len(order))):
        di = di[order]
        flat_kind = flat_kind.iloc[order].reset_index(drop=True)
        flat_text = flat_text.iloc[order].reset_index(drop=True)
        flat_media = flat_media.iloc[order].reset_index(drop=True)

    ext = extract_span_batch(flat_kind, flat_text, flat_media, config, strict)
    keep = ext["keep"].to_numpy()

    di_k = di[keep]
    kept_counts = np.bincount(di_k, minlength=n_docs).astype(np.int64)
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(kept_counts, out=starts[1:])
    new_offsets = (
        np.arange(len(di_k), dtype=np.int64) - starts[di_k]
    ).astype(np.int32)

    out_text = ext["text"].to_numpy()[keep]
    text_lens = np.array(
        [len(t) if t is not None else 0 for t in out_text], dtype=np.int64
    )
    n_chars = np.bincount(di_k, weights=text_lens, minlength=n_docs).astype(
        np.int64
    )

    struct = pa.StructArray.from_arrays(
        [
            pa.array(ext["kind"].to_numpy()[keep], pa.string()),
            pa.array(out_text, pa.string()),
            pa.array(ext["media_ref"].to_numpy()[keep], pa.string()),
            pa.array(new_offsets, pa.int32()),
        ],
        fields=list(ARROW_SPAN_STRUCT),
    )
    spans_col = pa.ListArray.from_arrays(pa.array(starts, pa.int32()), struct)
    return pa.RecordBatch.from_arrays(
        [
            doc_id,
            spans_col,
            pa.array(kept_counts.astype(np.int32), pa.int32()),
            pa.array(n_chars, pa.int64()),
        ],
        schema=ARROW_EXTRACTED_SCHEMA,
    )


def _narrow_sql(doc_id_col: str, spans_col: str) -> list[str]:
    return [
        f"CAST({doc_id_col} AS STRING) AS doc_id",
        f"transform({spans_col}, s -> s.kind) AS kinds",
        f"transform({spans_col}, s -> s.text) AS texts",
        f"transform({spans_col}, s -> s.media_ref) AS medias",
        f"transform({spans_col}, s -> s.offset) AS offsets",
    ]


def extract_spans(
    docs: DataFrame,
    config: LatticeConfig | None = None,
    strict: bool = False,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Direct path: whole-document extraction in one mapInArrow stage.
    Zero shuffles; scales linearly with input splits."""
    config = config or LatticeConfig()
    narrow = docs.selectExpr(*_narrow_sql(doc_id_col, spans_col))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield _extract_batch_arrow(rb, config, strict)

    return narrow.mapInArrow(run, schema=EXTRACTED_SCHEMA)


def extract_spans_salted(
    docs: DataFrame,
    config: LatticeConfig | None = None,
    strict: bool = False,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Mega-document path: span-level parallelism.

    explode_outer → repartition by (doc_id, offset) so one giant document's
    spans spread across the cluster → extract each span → re-merge with
    collect_list + array_sort keyed by source offset → renumber.  A doc
    with no spans keeps one placeholder row (null span, which extraction
    never keeps) and the merge collects only kept spans, so every input doc
    gets exactly one output row without re-scanning the input.  Output is
    bit-identical to ``extract_spans`` (property-tested)."""
    config = config or LatticeConfig()
    spark = docs.sparkSession
    n_part = salt_partitions or spark.sparkContext.defaultParallelism

    # SQL text throughout: every Column-API call costs ~14 py4j round trips
    flat = docs.selectExpr(
        f"CAST({doc_id_col} AS STRING) AS doc_id",
        f"explode_outer({spans_col}) AS s",
    ).selectExpr(
        "doc_id",
        "s.kind AS kind",
        "s.text AS text",
        "s.media_ref AS media_ref",
        # the no-spans placeholder needs an offset for the int64 cast below
        "coalesce(s.offset, -1) AS offset",
    )
    # the salt: spread a single doc's spans across partitions
    flat = flat.repartition(n_part, "doc_id", "offset")

    span_schema = (
        "doc_id string, offset long, keep boolean, kind string, "
        "text string, media_ref string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ext = extract_span_batch(
                pdf["kind"], pdf["text"], pdf["media_ref"], config, strict
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].reset_index(drop=True),
                    "offset": pdf["offset"].reset_index(drop=True).astype("int64"),
                    "keep": ext["keep"],
                    "kind": ext["kind"],
                    "text": ext["text"],
                    "media_ref": ext["media_ref"],
                }
            )

    extracted = flat.mapInPandas(run, schema=span_schema)

    merged = (
        extracted.groupBy("doc_id")
        # collect_list skips the nulls of dropped spans: a doc whose spans
        # were all dropped still gets its row, with an empty list
        .agg(F.expr(
            "array_sort(collect_list(CASE WHEN keep THEN named_struct("
            "'offset', offset, 'kind', kind, 'text', text, "
            "'media_ref', media_ref) END)) AS ordered"
        ))
        .selectExpr(
            "doc_id",
            "transform(ordered, (s, i) -> "
            "struct(s.kind as kind, s.text as text, "
            "s.media_ref as media_ref, cast(i as int) as offset)) AS spans",
        )
    )
    return merged.selectExpr(
        "doc_id",
        "spans",
        "CAST(size(spans) AS INT) AS n_spans",
        "aggregate(spans, 0L, (acc, s) -> "
        "acc + coalesce(length(s.text), 0L)) AS n_text_chars",
    )
