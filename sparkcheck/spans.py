"""Span-level checks over interleaved text+media documents.

GX has no analog for nested-array validation (SURVEY.md §1: "GX never
explodes nested data"); this is the north-rule capability on top of the
expectation engine. Driver-loop-free and Python-free:

1. **One span layout**: :func:`explode_spans` runs one ``posexplode(spans)``
   and emits one row per span in the flat layout
   :data:`FLAT_SPAN_COLUMNS` (doc_id, span_index, kind, text, media_ref,
   offset, prev_offset). Every registered column expectation then applies
   unchanged — e.g. ``expect_column_values_to_match_regex`` over ``text``.
   The explode is narrow (no shuffle) and runs inside whole-stage codegen,
   so it composes with the fused agg pass at full scan speed.

2. **One span-check predicate set**: :func:`span_violations_flat` holds the
   three checks (printable text, kind/payload consistency, offset
   monotonicity against the immediate previous span) as flat row
   predicates; :func:`span_violations` is those predicates over
   :func:`explode_spans`.

The only Python-worker path left is :func:`span_sequence_fingerprint`, the
md5 span-sequence fingerprint behind the row-for-row equality invariant
(kind, text, media_ref, order) against reference results.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .metrics import COLUMN_CACHE


def interleave_documents(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic interleaved span corpus derived from a plain
    (doc_id, text) documents table: one span per whitespace token, ~1/16
    spans are media ('image' + media_ref), with seeded defects so every
    span-level expectation has violations:

      - non-printable text  (~1/256 text spans: token + chr(1))
      - media_ref on a text span (~1/256: kind/payload inconsistency)
      - offset inversion    (~1/16 of non-first spans: offset dips by 15)

    Every branch decision is md5(doc_id|index|tag)-derived, so any engine
    (the DuckDB oracle included) reproduces the corpus bit-for-bit from the
    same documents table — which turns the span-violation and
    span-fingerprint queries into exact oracle-checked rows instead of
    rows-only checks. Pure Column ops (transform with index lambda), one
    narrow scan, no Python."""
    from .text import tokens

    did = F.col(id_col).cast("string")

    def make(tok, i):
        sid = F.concat(did, F.lit("|"), i.cast("string"))

        def h(tag):
            return F.md5(F.concat(sid, F.lit("|" + tag)))

        is_media = F.substring(h("k"), 1, 1) == "0"
        ptest = F.substring(h("p"), 1, 2) == "00"
        mtest = F.substring(h("m"), 1, 2) == "00"
        otest = (F.substring(h("o"), 1, 1) == "0") & (i > 0)
        text_val = F.when(ptest, F.concat(tok, F.lit("\x01"))).otherwise(tok)
        ref = F.concat(F.lit("media://"), F.substring(h("r"), 1, 8))
        kind = F.when(is_media, F.lit("image")).otherwise(F.lit("text"))
        text_out = F.when(~is_media, text_val)
        ref_out = F.when(is_media | mtest, ref)
        offset = F.when(otest, i * 10 - 15).otherwise(i * 10).cast("int")
        return F.struct(
            kind.alias("kind"),
            text_out.alias("text"),
            ref_out.alias("media_ref"),
            offset.alias("offset"),
        )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(text_col), make).alias("spans"),
    )


#: the flat span layout: one row per span, previous offset denormalized
FLAT_SPAN_COLUMNS = (
    "doc_id", "span_index", "kind", "text", "media_ref", "offset", "prev_offset"
)


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span in the flat layout :data:`FLAT_SPAN_COLUMNS`:
    (doc_id, span_index, kind, text, media_ref, offset, prev_offset).

    One ``posexplode``, narrow (no shuffle), inside whole-stage codegen;
    Catalyst still prunes unused struct fields from the parquet scan
    (nested schema pruning). ``prev_offset`` is the immediate previous
    span's offset, read straight from the array: ``element_at`` is
    1-based, so index ``span_index`` is the previous span.
    """
    explode, flat = COLUMN_CACHE.get(("spans.explode",), _explode_columns)
    return docs.select(*explode).select(*flat)


def _explode_columns() -> tuple[list[Column], list[Column]]:
    """:func:`explode_spans`' two projections (built once, then cached)."""
    explode = [
        F.col("doc_id"), F.col("spans"), F.posexplode("spans").alias("span_index", "span")
    ]
    flat = [
        F.col("doc_id"),
        F.col("span_index"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
        F.when(
            F.col("span_index") > 0,
            F.element_at("spans", F.col("span_index"))["offset"],
        ).alias("prev_offset"),
    ]
    return explode, flat


# ---------------------------------------------------------------------------
# Arrow pandas UDF over the intact spans array
# ---------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def span_sequence_fingerprint(spans: pd.Series) -> pd.Series:
    """md5 fingerprint of the ordered (kind, text, media_ref) sequence —
    the span-sequence equality invariant: two docs (ours vs reference
    results) agree iff fingerprints agree. Arrow-batched; the per-doc loop
    runs over an Arrow batch, never row-at-a-time through the serializer.
    """

    def fp(arr) -> str | None:
        if arr is None:
            return None
        h = hashlib.md5()
        for s in arr:
            kind = s["kind"] if s["kind"] is not None else ""
            text = s["text"] if s["text"] is not None else ""
            ref = s["media_ref"] if s["media_ref"] is not None else ""
            h.update(kind.encode())
            h.update(b"\x00")
            h.update(text.encode())
            h.update(b"\x00")
            h.update(ref.encode())
            h.update(b"\x01")
        return h.hexdigest()

    return spans.map(fp)


PRINTABLE_RE = r"^[\x20-\x7E]*$"
KNOWN_KINDS = ("text", "image", "audio", "video")


def span_violations(docs: DataFrame, run_id: str = "", partition_id: str = "") -> DataFrame:
    """Violation rows (run_id, partition_id, doc_id, span_index,
    expectation, observed_value) for ALL span-level invariants of nested
    (doc_id, spans) documents in ONE narrow scan:
    :func:`span_violations_flat` over :func:`explode_spans`. One scan,
    zero shuffles, zero Python."""
    return span_violations_flat(explode_spans(docs), run_id, partition_id)


def span_violations_flat(
    flat_spans: DataFrame, run_id: str = "", partition_id: str = ""
) -> DataFrame:
    """The one span-check predicate set, over the flat span layout
    :data:`FLAT_SPAN_COLUMNS`: :func:`explode_spans` output, or the
    stored pre-exploded corpus of ``synth.write_flat_corpus``, whose scan
    prunes to exactly the referenced columns and decodes with the
    vectorized flat readers instead of the nested array<struct> reader.

    Three flat row predicates, NULL never flags: printable ``text`` on
    text spans, kind/payload consistency (text XOR media_ref by kind,
    kind in ``KNOWN_KINDS``), and ``offset > prev_offset`` against the
    immediate previous span. A span with a NULL ``kind`` is missing, not
    unexpected — GX's map expectations skip NULLs the same way — so it
    is never flagged by the kind/payload check; the DuckDB oracles agree."""
    where, exploded, flat = COLUMN_CACHE.get(("spans.violations",), _violation_columns)
    return flat_spans.where(where).select(*exploded).select(
        F.lit(run_id).alias("run_id"), F.lit(partition_id).alias("partition_id"), *flat
    )


def _violation_columns() -> tuple[Column, list[Column], list[Column]]:
    """:func:`span_violations_flat`'s filter and its two projections but
    the run and partition literals (built once, then cached)."""
    text_bad = (
        (F.col("kind") == "text")
        & F.col("text").isNotNull()
        & ~F.col("text").rlike(PRINTABLE_RE)
    )
    kind_bad = (
        ~F.col("kind").isin(*KNOWN_KINDS)
        | ((F.col("kind") == "text") & (F.col("text").isNull() | F.col("media_ref").isNotNull()))
        | ((F.col("kind") != "text") & (F.col("media_ref").isNull() | F.col("text").isNotNull()))
    )
    off_bad = (
        F.col("prev_offset").isNotNull()
        & F.col("offset").isNotNull()
        & (F.col("offset") <= F.col("prev_offset"))
    )
    vs = "array<struct<expectation:string,observed_value:string>>"

    def tagged(cond, name, observed):
        return F.when(
            cond,
            F.array(F.struct(F.lit(name).alias("expectation"), observed.alias("observed_value"))),
        ).otherwise(F.array().cast(vs))

    exploded = [
        F.col("doc_id"),
        F.col("span_index"),
        F.explode(
            F.concat(
                tagged(text_bad, "expect_span_text_printable", F.col("text")),
                tagged(kind_bad, "expect_span_kind_payload_consistent", F.col("kind")),
                tagged(off_bad, "expect_span_offsets_increasing", F.lit(None).cast("string")),
            )
        ).alias("v"),
    ]
    flat = [
        F.col("doc_id"),
        F.col("span_index").cast("int").alias("span_index"),
        F.col("v.expectation").alias("expectation"),
        F.col("v.observed_value").alias("observed_value"),
    ]
    return text_bad | kind_bad | off_bad, exploded, flat


# ---------------------------------------------------------------------------
# Context-window chunking of interleaved text+media documents
# ---------------------------------------------------------------------------


def span_token_cost(
    spans_col: Column, media_token_cost: int = 64
) -> Column:
    """array<bigint> of per-span token costs: text spans cost their
    whitespace token count, media spans (anything non-text) cost the
    fixed ``media_token_cost`` — the standard budget model where an
    image/audio span consumes a fixed number of context slots."""
    return F.transform(
        spans_col,
        lambda s: F.when(
            s["kind"] == "text",
            F.size(F.filter(F.split(F.coalesce(s["text"], F.lit("")), r"\s+"),
                            lambda t: t != "")).cast("bigint"),
        ).otherwise(F.lit(int(media_token_cost)).cast("bigint")),
    )


def chunk_interleaved(
    docs: DataFrame,
    max_tokens: int = 2048,
    media_token_cost: int = 64,
    mode: str = "greedy",
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Split interleaved (doc_id, spans:array<struct<kind,text,media_ref,
    offset>>) documents into context windows WITHOUT splitting a span —
    the multimodal training-pipeline step between validation and
    sequence packing: a media span must stay whole (its embedding is
    atomic), so chunking assigns whole spans to windows by token budget.

    One row per span: (id, span_index, kind, cost, chunk_index).

    ``mode="greedy"`` (default) is the production layout: spans fill the
    current window until the next span would overflow ``max_tokens``,
    then a new window starts — windows are consecutive 0,1,2,... and
    never exceed the budget unless a SINGLE span already does (that span
    gets its own window). Implemented as a pure-JVM ``aggregate`` fold
    over the span array — per-doc sequential by nature, but narrow:
    ZERO shuffles at any corpus size.

    ``mode="interval"`` assigns span s to window
    floor(tokens_before_s / max_tokens): budget-aligned intervals,
    exactly replayable in ANSI SQL (the oracle's form); a span
    straddling a boundary spills its window past the budget and a span
    larger than the budget consumes several interval ids, so indices
    can skip — documented trade for exact cross-engine replay.

    Scale: both modes are single narrow passes over the span array
    (transform + aggregate HOFs, then one posexplode); nothing
    shuffles, so this pipelines into a writer exactly like
    text.chunk_documents. Per-DOCUMENT cost is quadratic in span count
    for both modes (interval: prefix slice-sums; greedy: the id array
    copies as the fold grows) — interleaved documents carry spans in
    the hundreds-to-thousands, where this is noise inside one JVM row;
    million-span monsters belong in text.chunk_documents' flat token
    layout instead.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if mode not in ("greedy", "interval"):
        raise ValueError(f"mode must be 'greedy' or 'interval', got {mode!r}")
    costs = span_token_cost(F.col(spans_col), media_token_cost)
    if mode == "interval":
        # cum-before via a running-total transform: scan positions with
        # slice-sum — O(n^2) per doc on span count. The greedy fold below
        # is also quadratic per doc (each step copies the growing id
        # array), so BOTH modes are document-scale tools: spans/doc in
        # the thousands is fine inside one JVM row, million-span docs
        # belong in text.chunk_documents' flat layout instead
        chunk_ids = F.transform(
            costs,
            lambda c, i: (
                F.aggregate(
                    F.slice(costs, 1, i), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                )
                / F.lit(int(max_tokens))
            ).cast("bigint"),
        )
    else:
        # greedy fold: acc = struct(fill, ids); the finish lambda emits ids
        def step(acc, c):
            overflow = (acc["fill"] + c > max_tokens) & (acc["fill"] > 0)
            nxt = F.when(overflow, c).otherwise(acc["fill"] + c)
            cid = F.when(
                overflow, F.try_element_at(acc["ids"], F.lit(-1)) + 1
            ).otherwise(
                F.coalesce(F.try_element_at(acc["ids"], F.lit(-1)), F.lit(0).cast("bigint"))
            )
            return F.struct(
                nxt.alias("fill"), F.concat(acc["ids"], F.array(cid)).alias("ids")
            )

        zero = F.struct(
            F.lit(0).cast("bigint").alias("fill"),
            F.array().cast("array<bigint>").alias("ids"),
        )
        chunk_ids = F.aggregate(costs, zero, step, lambda acc: acc["ids"])
    zipped = F.arrays_zip(
        F.col(spans_col).alias("s"), costs.alias("cost"), chunk_ids.alias("chunk")
    )
    ex = docs.select(
        F.col(id_col), F.posexplode(zipped).alias("span_index", "z")
    )
    return ex.select(
        id_col,
        F.col("span_index").cast("int").alias("span_index"),
        F.col("z.s.kind").alias("kind"),
        F.col("z.cost").alias("cost"),
        F.col("z.chunk").alias("chunk_index"),
    )


def chunk_stats(chunked: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, window) rollup of :func:`chunk_interleaved` output:
    (id, chunk_index, n_spans, n_tokens, n_media) — the frame a packing
    or writer stage consumes. One map-side-combined groupBy."""
    return chunked.groupBy(id_col, "chunk_index").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("cost").alias("n_tokens"),
        F.sum(F.when(F.col("kind") != "text", 1).otherwise(0))
        .cast("bigint")
        .alias("n_media"),
    )
