"""Deterministic synthetic corpus of interleaved text+media documents.

Shape per BASELINE.json input_hint / FIXTURES.md §2:
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Generation is **fully distributed and driver-loop-free**: one
``spark.range(n)`` plus native Column expressions (xxhash64-derived
pseudo-randomness, ``F.transform`` over a ``sequence`` for the spans
array). The same (n_docs) always yields bit-identical data on any
partitioning/parallelism — which is what lets the two-parallelism bench
run the *same* input at local[8] and local[32] without materializing it.

Seeded defects (rates chosen so every expectation family has violations):
  - null doc_id            ~1/500 docs
  - duplicate doc_id       ~1/250 docs (copies neighbor's id)
  - bad doc_id prefix      ~1/400 docs ("zz" prefix outside allowed set)
  - non-printable text     ~1/200 text spans (violates ^[\\x20-\\x7E]*$)
  - dangling media_ref     ~1/200 media spans (absent from media_dim)
  - offset inversion       ~1/100 docs with >=3 spans
  - hot-prefix skew: 3 prefixes carry ~50% of docs (skew/salting exercise)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .spans import FLAT_SPAN_COLUMNS, explode_spans  # noqa: F401

WORDS = [
    "spark", "table", "scan", "merge", "join", "window", "batch", "stream",
    "vector", "column", "filter", "group", "order", "query", "hash", "sort",
    "part", "value", "data", "row",
]

KINDS = ["text", "image", "audio", "video"]

ALLOWED_PREFIXES = ["hot0", "hot1", "hot2"] + [f"p{i:02d}" for i in range(24)]


def _h(*cols) -> F.Column:
    return F.xxhash64(*[F.lit(c) if isinstance(c, (int, str)) else c for c in cols])


def generate_docs(spark: SparkSession, n_docs: int, n_partitions: int | None = None) -> DataFrame:
    """The docs table. Deterministic in n_docs; independent of parallelism."""
    base = spark.range(0, n_docs, 1, n_partitions or spark.sparkContext.defaultParallelism)
    idx = F.col("id")

    # duplicate defect: copy the neighbor's index -> same doc_id appears
    # twice (doc_id is derived entirely from eff_idx so the copy is exact)
    eff_idx = F.when(
        (F.pmod(_h(idx, 4), F.lit(250)) == 0) & (idx > 0), idx - 1
    ).otherwise(idx)

    # --- doc_id with hot-prefix skew + seeded defects ---
    h_pref = F.pmod(_h(eff_idx, 1), F.lit(100))
    # ~50% of docs land on 3 hot prefixes; remainder spread over 24 cold ones
    prefix = (
        F.when(h_pref < 17, F.lit("hot0"))
        .when(h_pref < 34, F.lit("hot1"))
        .when(h_pref < 50, F.lit("hot2"))
        .otherwise(F.format_string("p%02d", F.pmod(_h(eff_idx, 2), F.lit(24))))
    )
    prefix = F.when(F.pmod(_h(eff_idx, 3), F.lit(400)) == 0, F.lit("zz")).otherwise(
        prefix
    )
    doc_id = F.format_string("%s-%012d", prefix, eff_idx)
    doc_id = F.when(F.pmod(_h(idx, 5), F.lit(500)) == 0, F.lit(None)).otherwise(doc_id)

    # --- spans array via transform(sequence(...)) — no Python in the loop ---
    n_spans = F.pmod(_h(idx, 6), F.lit(17))  # 0..16
    kinds_arr = F.array(*[F.lit(k) for k in KINDS])
    words_arr = F.array(*[F.lit(w) for w in WORDS])
    bad_offset_doc = (F.pmod(_h(idx, 7), F.lit(100)) == 0) & (n_spans >= 3)

    def make_span(i):
        hk = F.pmod(F.xxhash64(idx, i, F.lit(10)), F.lit(100))
        # ~55% text spans so both modalities are dense
        kind = F.when(hk < 55, F.lit("text")).otherwise(
            F.element_at(kinds_arr, (F.pmod(F.xxhash64(idx, i, F.lit(11)), F.lit(3)) + 2).cast("int"))
        )
        w = lambda s: F.element_at(  # noqa: E731
            words_arr, (F.pmod(F.xxhash64(idx, i, F.lit(s)), F.lit(len(WORDS))) + 1).cast("int")
        )
        text_val = F.concat_ws(" ", w(20), w(21), w(22), w(23))
        # non-printable defect (~1/200 text spans): append a control char
        text_val = F.when(
            F.pmod(F.xxhash64(idx, i, F.lit(24)), F.lit(200)) == 0,
            F.concat(text_val, F.lit("\x01")),
        ).otherwise(text_val)
        text = F.when(kind == "text", text_val).otherwise(F.lit(None))
        media_val = F.format_string(
            "media://b%d/%016x",
            F.pmod(F.xxhash64(idx, i, F.lit(30)), F.lit(4)),
            F.abs(F.xxhash64(idx, i, F.lit(31))),
        )
        media = F.when(kind != "text", media_val).otherwise(F.lit(None))
        offset = (i * 10 + F.pmod(F.xxhash64(idx, i, F.lit(40)), F.lit(5))).cast("int")
        # offset-inversion defect: span #2 jumps backwards
        offset = F.when(bad_offset_doc & (i == 2), F.lit(3).cast("int")).otherwise(offset)
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media.alias("media_ref"),
            offset.alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), make_span)
    spans = F.when(n_spans == 0, F.array().cast(spans_type())).otherwise(spans)

    return base.select(doc_id.alias("doc_id"), spans.alias("spans"))


def spans_type():
    from .schema import SPAN_STRUCT
    from pyspark.sql import types as T

    return T.ArrayType(SPAN_STRUCT)


def generate_media_dim(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Dimension table of known media refs = all refs in the corpus except
    the seeded ~1/200 'dangling' ones (picked deterministically by hash of
    the ref itself, so the dim is reproducible without a join)."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"), F.col("s.kind").alias("media_kind"))
        .where(F.col("media_ref").isNotNull())
        .distinct()
    )
    return refs.where(F.pmod(F.xxhash64("media_ref"), F.lit(200)) != 0).withColumn(
        "bytes", F.pmod(F.xxhash64("media_ref", F.lit(1)), F.lit(10_000_000))
    )


def write_corpus(spark: SparkSession, out_dir: str, n_docs: int) -> None:
    docs = generate_docs(spark, n_docs)
    docs.write.mode("overwrite").parquet(f"{out_dir}/docs.parquet")
    docs2 = spark.read.parquet(f"{out_dir}/docs.parquet")
    generate_media_dim(spark, docs2).write.mode("overwrite").parquet(
        f"{out_dir}/media_dim.parquet"
    )


def write_sharded_corpus(
    spark: SparkSession, out_dir: str, n_docs: int, n_shards: int = 4
) -> None:
    """Corpus partitioned into n_shards equal disjoint shards
    (``shard=<i>/`` dirs) — the multi-executor bench layout: one JVM per
    shard models one executor-group per Iceberg partition subset. Sharding
    is by generator index (round-robin), so shards are equal-sized and the
    union is exactly generate_docs(n_docs)."""
    docs = generate_docs(spark, n_docs)
    docs.withColumn(
        "shard", F.pmod(F.monotonically_increasing_id(), F.lit(n_shards))
    ).write.mode("overwrite").partitionBy("shard").parquet(out_dir)


def write_flat_corpus(spark: SparkSession, out_dir: str, n_docs: int) -> None:
    """The pre-exploded storage layout: spans as FLAT columns
    (doc_id, span_index, kind, text, media_ref, offset, prev_offset) plus a
    small docs table (doc_id, n_spans).

    This is the Iceberg-table-layout alternative to nested
    array<struct> spans: parquet then stores plain string/int columns, so
    scans decode with the vectorized flat readers (no nested-reader
    allocation pressure), prune to exactly the referenced columns, and push
    predicates down. ``prev_offset`` is denormalized at ingest (one narrow
    pass here) so the offset-monotonicity check needs no window at read
    time. Span-sequence order stays recoverable via (doc_id, span_index).
    The rows are exactly :func:`spans.explode_spans` of the nested corpus."""
    docs = generate_docs(spark, n_docs)
    explode_spans(docs).write.mode("overwrite").parquet(f"{out_dir}/spans.parquet")
    docs.select("doc_id", F.size("spans").alias("n_spans")).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/docs.parquet")


def write_bucketed_corpus(
    spark: SparkSession, out_dir: str, n_docs: int, n_buckets: int = 8
) -> None:
    """Write the corpus partitioned by the runner's hash bucket
    (``bucket=<b>/`` directories) — the parquet stand-in for Iceberg's
    ``bucket(n, doc_id)`` partition transform. A CheckpointRunner pointed
    at this layout reads ONE bucket directory per partition instead of
    re-scanning the whole corpus per bucket."""
    docs = generate_docs(spark, n_docs)
    docs.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))
    ).write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
