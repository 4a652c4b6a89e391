"""Probabilistic-sketch validation tiers: Bloom membership + heavy hitters.

Two sketch families the 10^12-doc regime needs that neither the reference
nor the rest of this engine had:

**Bloom-tiered referential checks.** ``referential.py``'s anti-join is
exact but always shuffles (or broadcasts) the dim side against the full
fact scan. A Bloom filter built from the dim keys gives a *certain-miss /
probable-hit* split with zero joins: a key the filter rejects is
guaranteed absent from the dim (no false negatives), so every bloom-miss
fact row is a violation with certainty after one narrow Arrow pass.
Only the bloom-HIT rows — the probable members — still need the exact
anti-join, and in the violation-heavy regimes where this tier pays
(decontamination blocklists, tombstoned-id scrubs, migration audits where
most keys are dead) that remainder is a small fraction of the fact side.
The ``mostly`` short-circuit goes further: when the certain violations
alone already break the expectation's budget, the verdict is final and
the exact join never runs at all.

Scale shape: the filter is built SHARDED — dim keys shuffle once (narrow:
key string + shard id) and each shard's bitset is built exactly within
its group, so the driver collects ``m_total/8`` bytes once, NOT one
partial bitset per input partition (the naive partial-OR moves
``#partitions x m/8`` bytes; for a 10^9-key dim at 1% fpp that is the
difference between 1.2 GB and 200 x 1.2 GB through the driver). The
probe side is a single ``mapInArrow`` pass appending one boolean — no
shuffle, no join, vectorized numpy bit tests on the flat Arrow buffer.

Hashing is deterministic and dtype-canonical: both sides cast the key to
its Spark ``string`` form first (an int32 fact key vs int64 dim key must
hash identically), shard with the JVM's ``xxhash64``, and position bits
with pandas' fixed-key vectorized hash + a splitmix64 second hash
(Kirsch-Mitzenmacher double hashing: ``idx_j = h1 + j*h2 mod m``), so a
filter built in one session probes identically in another.

**Misra-Gries heavy hitters.** ``column.value_counts`` shuffles one row
per DISTINCT value — at 10^12 rows with 10^9 distinct join keys that is a
10^9-row shuffle just to ask "is any key hot?". Spark's built-in
frequent-items sketch (``approx_top_k_accumulate``/``_combine``,
DataSketches' ``ItemsSketch``, a Misra-Gries summary) bounds state at a
hash map of maxMapSize(k) counters per task and is MERGEABLE (Agarwal et
al., "Mergeable Summaries", PODS'12): per-task partial sketches combine
into one, and every value whose count exceeds the sketch's maximum error
(at most 3.5/maxMapSize(k) of the non-NULL rows) is listed with
lower <= count <= upper. A second narrow pass counts ONLY the broadcast
candidates exactly (map-side combined, <= |candidates| grouped rows), so
the final output is EXACT: precisely the values with count >=
min_fraction * N, with their true counts. Two narrow scans +
dimension-sized shuffles replace one full-cardinality shuffle — and the
result powers the skew check you want BEFORE launching the big join (see
``keys.py`` salting). No Python worker runs on this path.

The reference GX has no sketch tier — ``expect_column_values_to_be_in_set``
takes literal lists only (reference
great_expectations/expectations/core/expect_column_values_to_be_in_set.py)
and value counts always materialize exactly
(reference great_expectations/expectations/metrics/column_aggregate_metrics/
column_value_counts.py:32). These are north-rule scale additions.
"""

from __future__ import annotations

import datetime
import math
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Callable, Iterator

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .expectations import Expectation, build_domain, register_expectation
from .metrics import Domain, MetricConfiguration, eager_metric, freeze_kwargs
from .states import StateKind

__all__ = [
    "BloomFilter",
    "bloom_build",
    "bloom_flag",
    "bloom_referential_violations",
    "bloom_referential_check",
    "heavy_hitters",
    "heavy_hitter_report",
]

# ---------------------------------------------------------------------------
# deterministic vectorized hashing
# ---------------------------------------------------------------------------

def _make_hash_pair():
    """Build the vectorized (h1, h2) key hasher as a NESTED closure.

    Executor-side closures (mapInArrow/applyInPandas below) must not
    reference ``sparkcheck``-module globals: cloudpickle serializes those
    by name, so a consumer running without ``--py-files sparkcheck`` gets
    ``ModuleNotFoundError`` on the workers. A nested function has a
    non-importable qualname, so cloudpickle ships its CODE by value —
    self-contained, spark-submit-safe.

    ``pd.util.hash_pandas_object`` is C-vectorized and keyed with pandas'
    fixed default hash key, so it is stable across processes and sessions
    (no PYTHONHASHSEED dependence). h2 is a splitmix64 re-mix of h1, made
    odd so the double-hash probe sequence cycles through all of [0, m).
    """

    def hash_pair(values) -> tuple:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        h1 = pd.util.hash_pandas_object(values, index=False).to_numpy(
            dtype=np.uint64
        )
        z = (h1 + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)
        return h1, h2

    return hash_pair


_hash_pair = _make_hash_pair()


# ---------------------------------------------------------------------------
# Bloom filter: sharded build, broadcast, Arrow probe
# ---------------------------------------------------------------------------


@dataclass
class BloomFilter:
    """Sharded Bloom filter over the *string form* of a key column.

    ``shards[i]`` is a packed uint8 bitset of ``m_bits`` bits holding the
    keys whose ``pmod(xxhash64(key_str), n_shards) == i``. All shards share
    ``m_bits`` and ``k_hashes`` so the probe kernel is uniform.
    """

    shards: dict
    m_bits: int
    k_hashes: int
    n_keys: int

    @property
    def n_shards(self) -> int:
        return len(self.shards)

    def total_bytes(self) -> int:
        return sum(len(b) for b in self.shards.values())

    def might_contain(self, key: Any) -> bool:
        """Driver-side point probe for tests/debugging; the data path is
        :func:`bloom_flag`. Probes EVERY shard (the JVM-side xxhash64 shard
        routing is not replicated here), so it keeps the no-false-negative
        guarantee but its false-positive rate is ~n_shards x fpp."""
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        s = pd.Series([str(key)], dtype=object)
        h1a, h2a = _hash_pair(s)
        h1, h2 = int(h1a[0]), int(h2a[0])  # python ints: no scalar overflow
        idxs = [
            ((h1 + j * h2) % (1 << 64)) % self.m_bits
            for j in range(self.k_hashes)
        ]
        for bits_bytes in self.shards.values():
            bits = np.frombuffer(bits_bytes, dtype=np.uint8)
            if all(bits[i >> 3] & (1 << (i & 7)) for i in idxs):
                return True
        return False


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(m_bits_total, k_hashes) for n keys at target false-positive rate."""
    n = max(1, n)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def bloom_build(
    dim: DataFrame,
    dim_col: str,
    fpp: float = 0.01,
    expected: int | None = None,
    max_shard_keys: int = 4_000_000,
) -> BloomFilter:
    """Build a sharded Bloom filter from the distinct non-null dim keys.

    One narrow shuffle (key string + shard id) groups each shard's keys
    into a single ``applyInPandas`` task that sets its bitset exactly; the
    driver then collects ``m_total/8`` bytes ONCE — never per-partition
    partial bitsets. ``max_shard_keys`` bounds the per-task pandas frame;
    at a 10^9-key dim the default yields ~250 shards of ~4.8 MB each.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    keys = (
        dim.select(F.col(dim_col).cast("string").alias("__k"))
        .where(F.col("__k").isNotNull())
        .distinct()
    )
    n = int(expected) if expected is not None else keys.count()
    m_total, k_hashes = _bloom_params(n, fpp)
    n_shards = max(1, math.ceil(n / max_shard_keys))
    # per-shard bitset, padded to whole bytes; keys spread ~uniformly so a
    # ceil split keeps the per-shard load factor at or below the target
    m_bits = ((m_total // n_shards + 7) // 8 + 1) * 8
    m_u64 = m_bits  # closed over below

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_u64 // 8, dtype=np.uint8)
        h1, h2 = _hash_pair(pdf["__k"])
        m = np.uint64(m_u64)
        for j in range(k_hashes):
            idx = (h1 + np.uint64(j) * h2) % m
            np.bitwise_or.at(
                bits, (idx >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
            )
        return pd.DataFrame(
            {"shard": [int(pdf["__shard"].iloc[0])], "bits": [bits.tobytes()]}
        )

    sharded = keys.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col("__k")), F.lit(n_shards)).cast("int")
    )
    rows = (
        sharded.groupBy("__shard")
        .applyInPandas(build_shard, schema="shard int, bits binary")
        .collect()
    )
    shards = {int(r["shard"]): bytes(r["bits"]) for r in rows}
    empty = bytes(m_bits // 8)
    for i in range(n_shards):  # shards with no keys (tiny dims) stay all-zero
        shards.setdefault(i, empty)
    return BloomFilter(shards=shards, m_bits=m_bits, k_hashes=k_hashes, n_keys=n)


def bloom_flag(
    fact: DataFrame,
    fact_col: str,
    bloom: BloomFilter,
    flag_col: str = "__bloom_hit",
) -> DataFrame:
    """Append ``flag_col``: False ⇒ key CERTAINLY absent from the dim.

    Single ``mapInArrow`` pass — the batch's key strings are hashed as one
    vectorized block and tested against the broadcast bitsets; no shuffle,
    no join. NULL keys flag True (they are not membership violations,
    matching the anti-join's non-null semantics). Apply AFTER projecting
    the columns you need: Catalyst cannot prune through mapInArrow.
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    spark = fact.sparkSession
    bc = spark.sparkContext.broadcast(
        {s: np.frombuffer(b, dtype=np.uint8) for s, b in bloom.shards.items()}
    )
    m_bits = bloom.m_bits
    k_hashes = bloom.k_hashes
    src = fact.withColumn("__k", F.col(fact_col).cast("string")).withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col("__k")), F.lit(bloom.n_shards)).cast("int"),
    )
    out_fields = fact.schema.fields
    n_keep = len(out_fields)

    def probe(batches: Iterator) -> Iterator:
        shards = bc.value
        m = np.uint64(m_bits)
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ks = batch.column(n_keep).to_pandas()
            shard_ids = np.asarray(batch.column(n_keep + 1), dtype=np.int64)
            null_mask = ks.isna().to_numpy()
            h1, h2 = _hash_pair(ks.fillna(""))
            hit = np.ones(nrows, dtype=bool)
            for j in range(k_hashes):
                idx = (h1 + np.uint64(j) * h2) % m
                byte_i = (idx >> np.uint64(3)).astype(np.int64)
                bit_m = np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)
                # gather per-shard: group rows by shard id to index each bitset
                for s in np.unique(shard_ids):
                    rows_s = shard_ids == s
                    hit[rows_s] &= (
                        shards[int(s)][byte_i[rows_s]] & bit_m[rows_s]
                    ) != 0
                if not hit.any():
                    break
            hit |= null_mask
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_keep)] + [pa.array(hit)],
                names=[f.name for f in out_fields] + [flag_col],
            )

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
        + [f"`{flag_col}` boolean"]
    )
    return src.mapInArrow(probe, schema=out_schema)


def bloom_referential_violations(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    fpp: float = 0.01,
    exact: bool = True,
    bloom: BloomFilter | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """Exact referential violations through the Bloom tier.

    Tier 1 (one Arrow pass, no join): bloom-miss rows are violations with
    certainty. Tier 2 (only when ``exact``): the bloom-HIT remainder —
    true members plus ~fpp false positives — goes through the exact
    anti-join of :func:`referential.anti_join_violations`. The union is
    row-identical to the plain anti-join; the join's probe side shrank by
    every certain violation. With ``exact=False`` the result is the
    certain-violation SUBSET (no join at all) — a lower bound, the right
    tier for alerting/short-circuit paths.
    """
    from .referential import DEFAULT_BROADCAST_THRESHOLD, anti_join_violations

    if bloom is None:
        bloom = bloom_build(dim, dim_col, fpp=fpp)
    fact_nn = fact.where(F.col(fact_col).isNotNull())
    flagged = bloom_flag(fact_nn, fact_col, bloom)
    certain = flagged.where(~F.col("__bloom_hit")).drop("__bloom_hit")
    if not exact:
        return certain
    suspects = flagged.where(F.col("__bloom_hit")).drop("__bloom_hit")
    verified = anti_join_violations(
        suspects,
        fact_col,
        dim,
        dim_col,
        broadcast_threshold=(
            DEFAULT_BROADCAST_THRESHOLD
            if broadcast_threshold is None
            else broadcast_threshold
        ),
        dim_count=bloom.n_keys,
    )
    return certain.unionByName(verified)


def bloom_referential_check(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    mostly: float = 1.0,
    fpp: float = 0.01,
    bloom: BloomFilter | None = None,
) -> dict:
    """Tiered pass/fail with the ``mostly`` short-circuit.

    Counts certain (bloom-miss) violations first — one Arrow pass, no
    join. If those alone already exceed the ``mostly`` budget the verdict
    is final (``tiers_run=1``) and the exact anti-join NEVER runs; at
    10^12 rows that is the difference between a scan and a scan+shuffle
    for every blocklist-style check that is clearly failing. Otherwise the
    bloom-hit remainder is verified exactly (``tiers_run=2``).
    """
    if bloom is None:
        bloom = bloom_build(dim, dim_col, fpp=fpp)
    fact_nn = fact.where(F.col(fact_col).isNotNull())
    flagged = bloom_flag(fact_nn, fact_col, bloom)
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("__bloom_hit")).cast("long")).alias("certain"),
    ).collect()[0]
    nonnull_count = int(counts["n"] or 0)
    certain = int(counts["certain"] or 0)
    budget = math.floor((1.0 - mostly) * nonnull_count + 1e-9)
    if certain > budget:
        return {
            "success": False,
            "nonnull_count": nonnull_count,
            "unexpected_count_lower_bound": certain,
            "certain_violations": certain,
            "tiers_run": 1,
            "short_circuit": True,
        }
    exact_violations = bloom_referential_violations(
        fact, fact_col, dim, dim_col, bloom=bloom, exact=True
    )
    unexpected = exact_violations.count()
    return {
        "success": unexpected <= budget,
        "nonnull_count": nonnull_count,
        "unexpected_count": unexpected,
        "certain_violations": certain,
        "tiers_run": 2,
        "short_circuit": False,
    }


# ---------------------------------------------------------------------------
# Heavy hitters on Spark's frequent-items sketch (approx_top_k_*)
# ---------------------------------------------------------------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
# item types a sketch returns through py4j in the column's own Python form
_AS_IS = (
    T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.FloatType, T.DoubleType,
)
# ... and the three it returns in Spark's internal form
_FROM_INTERNAL = {
    T.DateType: lambda days: _EPOCH_DATE + datetime.timedelta(days=days),
    T.TimestampType: lambda us: _EPOCH_TS + datetime.timedelta(microseconds=us),
    T.DecimalType: lambda dec: Decimal(dec.toString()),
}


def _item_converter(dtype: T.DataType) -> Callable[[Any], Any]:
    """Sketch item -> Python value of ``dtype``; refuses other types."""
    if isinstance(dtype, _AS_IS):
        return lambda v: v
    for t, convert in _FROM_INTERNAL.items():
        if isinstance(dtype, t):
            return convert
    raise ValueError(
        f"heavy-hitter sketches support string, boolean, numeric, date and "
        f"timestamp columns, not {dtype.simpleString()}"
    )


def _max_map_size(k: int) -> int:
    """Hash-map size of a sketch tracking ``k`` items: the smallest power
    of 2 >= k/0.75 (Spark's ``ApproxTopK.calMaxMapSize``)."""
    return 1 << (math.ceil(4 * k / 3) - 1).bit_length()


def _sketch_items(state: Any, threshold: float) -> "tuple[list[tuple], T.DataType]":
    """The items of one ``approx_top_k`` state whose upper bound reaches
    ``threshold``, as (value, lower, upper) with ``value`` in the column's
    type, and that type. The only code that reads a sketch.

    It goes through py4j because SQL ``approx_top_k_estimate`` lists only
    the NO_FALSE_POSITIVES items (lower bound above the maximum error), so
    it drops a value whose count may still reach the threshold. Read with
    ``ErrorType.NO_FALSE_NEGATIVES`` the sketch lists every value whose
    count exceeds ``getMaximumError()``, with lower <= count <= upper."""
    jvm = SparkContext._jvm
    agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate
    topk = getattr(agg, "ApproxTopK$").__getattr__("MODULE$")
    ddl = state["itemDataTypeDDL"]
    serde = topk.genSketchSerDe(topk.DDLToDataType(ddl))
    sketch = agg.ApproxTopKAggregateBuffer.deserialize(state["sketch"], serde).sketch()
    dtype = T.StructType.fromDDL(ddl).fields[0].dataType
    convert = _item_converter(dtype)
    # the sketch keeps upper > its argument, and counts are integers
    rows = sketch.getFrequentItems(
        max(math.ceil(threshold) - 1, 0),
        jvm.org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES,
    )
    return [
        (convert(r.getItem()), r.getLowerBound(), r.getUpperBound()) for r in rows
    ], dtype


def _accumulate(col: str, k: int) -> Column:
    return F.call_function("approx_top_k_accumulate", F.col(col), F.lit(int(k)))


def _heavy_hitters(
    df: DataFrame, col: str, min_fraction: float, k: int | None
) -> "tuple[DataFrame, int]":
    """:func:`heavy_hitters` plus the row count N of its first pass."""
    # maxMapSize(k) > k, so k >= 3.5/min_fraction keeps eps below min_fraction
    k_min = math.ceil(3.5 / max(min_fraction, 1e-9))
    if k is None:
        k = max(64, k_min)
    eps = 3.5 / _max_map_size(k)
    if min_fraction <= eps:
        raise ValueError(
            f"min_fraction={min_fraction} <= 3.5/maxMapSize={eps:.6g} at "
            f"k={k}: the sketch cannot guarantee completeness; raise k to "
            f"{k_min} or more"
        )
    src = df.select(F.col(col).alias("v"))
    _item_converter(src.schema[0].dataType)
    first = src.agg(
        _accumulate("v", k).alias("sketch"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_rows = int(first["n"])
    threshold = min_fraction * n_rows
    items, _ = _sketch_items(first["sketch"], threshold)
    candidates = df.sparkSession.createDataFrame(
        [(v,) for v, _, _ in items], schema=src.schema
    )
    exact = (
        src.where(F.col("v").isNotNull())
        .join(F.broadcast(candidates), on="v", how="inner")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(threshold))
    )
    return exact.select(F.col("v").alias("value"), "cnt"), n_rows


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_fraction: float,
    k: int | None = None,
) -> DataFrame:
    """EXACT set of values with ``count >= min_fraction * N`` and their
    exact counts — without ever shuffling the column's full cardinality.

    Pass 1 is one ``df.agg`` row: Spark's frequent-items sketch of the
    column at ``k`` tracked items (``approx_top_k_accumulate``) and N,
    which counts NULL rows too. The sketch's maximum error is at most
    3.5/maxMapSize(k) of the non-NULL rows, with maxMapSize(k) the
    smallest power of 2 >= k/0.75, so requiring ``min_fraction`` above
    that bound makes every heavy value a candidate: its count exceeds the
    maximum error, so its upper bound reaches the threshold. The default
    ``k = max(64, ceil(3.5/min_fraction))`` always meets it. Pass 2: a
    broadcast semi-join counts ONLY the candidates exactly (map-side
    combine → <= |candidates| grouped rows), then the exact threshold
    filter lands. Output columns: (value, cnt), value keeping the source
    dtype.
    """
    return _heavy_hitters(df, col, min_fraction, k)[0]


# ---------------------------------------------------------------------------
# Mergeable heavy-hitter states — incremental heavy hitters from commit units
# ---------------------------------------------------------------------------


def mg_states(
    df: DataFrame, col: str, k: int, state_key: str
) -> DataFrame:
    """Per-commit-unit frequent-items sketches — the frequency member of
    the mergeable-states family (states.column_states /
    histogram_states): one row (state_key, column, k, sketch, pn) per
    unit, where ``sketch`` is Spark's ``approx_top_k_accumulate`` state
    tracking ``k`` items (DataSketches' ``ItemsSketch``, a Misra-Gries
    summary) and ``pn`` counts the unit's rows, NULL values included.
    NULL values never enter the sketch; a NULL ``state_key`` is an
    ordinary unit.

    The sketch bounds every value's count f: lower <= f <= upper, and a
    value it does not list has f <= its maximum error, which stays below
    3.5/maxMapSize(k) of the non-NULL rows under merges (Agarwal et al.,
    "Mergeable Summaries", PODS'12). :func:`merge_mg_states` combines the
    units, so :func:`certified_heavy_hitters` answers corpus-level
    hot-key questions from committed states with three-valued certainty
    and NO rescan of finished partitions. Scale shape: one
    groupBy(state_key) aggregate; the data is scanned once, and only the
    per-task partial sketches are shuffled.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _item_converter(df.select(col).schema[0].dataType)
    # the source column and k are stamped so states.update can refuse
    # merges of mismatched states — the rows alone look alike
    return df.groupBy(F.expr(state_key).cast("string").alias("state_key")).agg(
        F.lit(col).alias("column"),
        F.lit(int(k)).alias("k"),
        _accumulate(col, k).alias("sketch"),
        F.count(F.lit(1)).alias("pn"),
    )


def merge_mg_states(states: DataFrame, k: int) -> DataFrame:
    """Combine per-commit-unit states into ONE corpus row (sketch, pn),
    or no row when there are no states: ``approx_top_k_combine`` at ``k``
    tracked items, and N = sum(pn). Every value's true corpus count lies
    within the combined sketch's bounds."""
    # grouped by a constant: a global combine over zero states fails in
    # Spark 4.1 (MatchError on the empty buffer)
    return (
        states.groupBy(F.lit(1).alias("__g"))
        .agg(
            F.call_function("approx_top_k_combine", F.col("sketch"), F.lit(int(k)))
            .alias("sketch"),
            F.sum("pn").alias("pn"),
        )
        .drop("__g")
    )


def misra_gries(column: str, k: int) -> StateKind:
    """Frequent-items sketches of ``column`` at ``k`` tracked items as a
    :class:`states.StateKind` (:func:`mg_states`), combined by
    :func:`merge_mg_states` and read by :func:`certified_heavy_hitters`."""
    return StateKind(
        "mg_states",
        (column,),
        lambda df, key: mg_states(df, column, k, key),
        ("column", "k"),
        frozenset({(column, int(k))}),
    )


def certified_heavy_hitters(
    merged: DataFrame, min_fraction: float
) -> DataFrame:
    """Three-valued corpus heavy hitters from a merged state, with NO
    rescan: (value, lower, upper, n, threshold, verdict) where

      - ``certified``     — lower >= threshold: the value is a heavy
                            hitter with certainty;
      - ``indeterminate`` — lower < threshold <= upper: only an exact
                            count (one candidate-semi-join scan) can
                            decide;
      - values absent from the output have true count < threshold or <=
        the sketch's maximum error. With ``min_fraction`` above
        3.5/maxMapSize(k) the maximum error is below the threshold, so
        the rows returned are a guaranteed SUPERSET of the true
        heavy-hitter set (completeness).

    The one merged row is collected and read on the driver."""
    rows: list[tuple] = []
    dtype: T.DataType = T.StringType()  # no states, no item type
    for m in merged.collect():
        n = int(m["pn"])
        threshold = float(min_fraction) * n
        items, dtype = _sketch_items(m["sketch"], threshold)
        rows += [
            (v, lo, up, n, threshold, "certified" if lo >= threshold else "indeterminate")
            for v, lo, up in items
        ]
    schema = T.StructType([
        T.StructField("value", dtype),
        T.StructField("lower", T.LongType()),
        T.StructField("upper", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("verdict", T.StringType()),
    ])
    return merged.sparkSession.createDataFrame(rows, schema)


def heavy_hitter_report(
    df: DataFrame,
    col: str,
    max_fraction: float,
    k: int | None = None,
    top: int = 20,
) -> dict:
    """Eager report for the expectation: offenders + their exact shares."""
    hits, n_rows = _heavy_hitters(df, col, max_fraction, k)
    if n_rows == 0:
        return {"element_count": 0, "offenders": []}
    rows = hits.orderBy(F.desc("cnt"), "value").limit(top).collect()
    offenders = [
        {"value": r["value"], "count": int(r["cnt"]), "fraction": r["cnt"] / n_rows}
        for r in rows
    ]
    return {"element_count": n_rows, "offenders": offenders}


@eager_metric("column.heavy_hitters")
def _heavy_hitters_metric(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    return heavy_hitter_report(
        ddf,
        cfg.domain.column,
        max_fraction=float(cfg.kw("max_fraction")),
        k=(int(cfg.kw("k")) if cfg.kw("k", None) is not None else None),
    )


class HeavyHitterExpectation(Expectation):
    """expect_column_value_frequencies_to_be_below(column, max_fraction, k=)

    Fails when ANY single value holds >= ``max_fraction`` of the rows —
    the shuffle-skew tripwire you run BEFORE the expensive join/groupBy
    (a hot key found here is what ``keys.py`` salting exists for). No
    reference analog; north-rule scale addition. Costs two narrow scans
    with dimension-sized shuffles regardless of column cardinality."""

    name = "expect_column_value_frequencies_to_be_below"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration(
            "column.heavy_hitters",
            build_domain(cfg),
            freeze_kwargs(
                max_fraction=float(cfg.get("max_fraction")),
                k=cfg.get("k"),
            ),
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        report = resolver[self._metric_cfg(cfg)]
        offenders = report["offenders"]
        success = not offenders
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": (
                    offenders[0]["fraction"] if offenders else 0.0
                ),
                "element_count": report["element_count"],
                "details": {"heavy_hitters": offenders},
            }
        return ret


register_expectation(HeavyHitterExpectation())


# ---------------------------------------------------------------------------
# Mergeable deterministic quantile-summary states (MRL-style)
# ---------------------------------------------------------------------------
#
# The quantile member of the mergeable-states family. states.py already
# answers quantile expectations incrementally from FIXED-BIN histogram
# states (quantile_bounds) — exact brackets, but the edges must be chosen
# up front and changed edges force a recompute. This summary needs no
# edges: a Manku-Rajagopalan-Lindsay-style multi-level sample (the
# deterministic ancestor of KLL; Agarwal et al. PODS'12 prove the family
# mergeable) with an EXPLICIT, certified rank-error accumulator.
#
# Representation: per (state_key, column), items at level l carry weight
# 2^l; each level holds at most k items. A full level is sorted and every
# other item promoted (offset alternating with the summary's compaction
# counter — deterministic, no RNG), which changes any value's estimated
# rank by at most 2^l; ``err`` accumulates exactly that, so for every x
#
#     |R(x) - true_rank(x)| <= err,   R(x) = sum_l 2^l |{v in B_l: v<=x}|
#
# holds as a worst-case certificate, not a probabilistic bound. Merging
# concatenates levels (R is additive, errors add) and re-compacts; the
# bound survives arbitrary merge trees, so corpus-level quantile
# questions are answered from committed per-partition states with NO
# rescan — and the answer is three-valued (pass/fail/indeterminate via
# states.quantile_bracket_verdicts), never silently approximate.
#
# Scale shape: one mapInArrow pass (numpy sorts over <= k-item buffers)
# emits <= O(k log(n/k)) rows per (task, unit); one applyInPandas fold
# per state_key collapses task partials; everything downstream is
# dimension-sized. err/n <= log2(n/k)/k worst-case (k=1024, n=10^9:
# ~2%); typical is far smaller because alternating offsets cancel.


QS_DEFAULT_K = 1024


class _QSummary:
    """In-memory quantile summary: {level: sorted np.array}, exact n/mn/mx,
    certified err, ncomp compaction counter (drives the alternating
    offset)."""

    __slots__ = ("k", "levels", "n", "n_null", "mn", "mx", "err", "ncomp")

    def __init__(self, k: int):
        self.k = k
        self.levels: dict[int, Any] = {}
        self.n = 0          # nonnull items represented
        self.n_null = 0
        self.mn = None
        self.mx = None
        self.err = 0.0
        self.ncomp = 0

    def add_values(self, arr) -> None:
        import numpy as np  # noqa: PLC0415

        if len(arr) == 0:
            return
        self.n += int(len(arr))
        lo, hi = float(arr.min()), float(arr.max())
        self.mn = lo if self.mn is None else min(self.mn, lo)
        self.mx = hi if self.mx is None else max(self.mx, hi)
        cur = self.levels.get(0)
        self.levels[0] = arr if cur is None else np.concatenate([cur, arr])
        self._compact()

    def _compact(self) -> None:
        import numpy as np  # noqa: PLC0415

        l = 0
        while l <= max(self.levels, default=0):
            buf = self.levels.get(l)
            if buf is not None and len(buf) > self.k:
                buf = np.sort(buf)
                m = len(buf) - (len(buf) % 2)  # odd leftover stays at l
                off = (self.ncomp + l) % 2
                promoted = buf[off:m:2]
                self.levels[l] = buf[m:]
                nxt = self.levels.get(l + 1)
                self.levels[l + 1] = (
                    promoted if nxt is None else np.concatenate([nxt, promoted])
                )
                self.err += float(2**l)
                self.ncomp += 1
            l += 1

    def merge(self, other: "_QSummary") -> None:
        import numpy as np  # noqa: PLC0415

        assert self.k == other.k
        for l, buf in other.levels.items():
            cur = self.levels.get(l)
            self.levels[l] = buf if cur is None else np.concatenate([cur, buf])
        self.n += other.n
        self.n_null += other.n_null
        for m in (other.mn,):
            if m is not None:
                self.mn = m if self.mn is None else min(self.mn, m)
        for m in (other.mx,):
            if m is not None:
                self.mx = m if self.mx is None else max(self.mx, m)
        self.err += other.err
        self.ncomp += other.ncomp
        self._compact()

    def rows(self):
        """Long rows (level, v); per-summary scalars ride every row."""
        for l in sorted(self.levels):
            for v in self.levels[l]:
                yield int(l), float(v)

    def rank_bracket(self, target: int) -> tuple:
        """(lo, hi, est) values certifying true quantile at rank ``target``
        in [lo, hi]; est is the point estimate. Requires n > 0."""
        import numpy as np  # noqa: PLC0415

        vals, wts = [], []
        for l in sorted(self.levels):
            buf = self.levels[l]
            vals.append(buf)
            wts.append(np.full(len(buf), float(2**l)))
        v = np.concatenate(vals) if vals else np.array([])
        w = np.concatenate(wts) if wts else np.array([])
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        cum = np.cumsum(w)              # R(v_i) = weight of items <= v_i
        below = cum - w                 # weight of items strictly before i
        err = self.err
        # est: first summary value whose estimated rank reaches the target
        i_est = int(np.searchsorted(cum, target, side="left"))
        est = float(v[min(i_est, len(v) - 1)]) if len(v) else self.mn
        # hi: first value v with R(v) - err >= target (true rank certainly
        # reached); none -> exact max
        i_hi = int(np.searchsorted(cum, target + err, side="left"))
        hi = float(v[i_hi]) if i_hi < len(v) else self.mx
        # lo: last value whose strictly-below weight + err stays under the
        # target (quantile certainly not below it), i.e. below < target-err
        # strictly; none -> exact min
        j = int(np.searchsorted(below, target - err, side="left")) - 1
        lo = float(v[j]) if j >= 0 else self.mn
        return max(lo, self.mn), min(hi, self.mx), est


def _qs_from_group(pdf, k: int) -> "_QSummary":
    """Rebuild a _QSummary from its long-row frame (level, v, n, n_null,
    mn, mx, err, ncomp scalars repeated per row)."""
    import numpy as np  # noqa: PLC0415

    s = _QSummary(k)
    first = pdf.iloc[0]
    s.n = int(first["n"])
    s.n_null = int(first["n_null"])
    s.mn = None if pdf["mn"].isna().iloc[0] else float(first["mn"])
    s.mx = None if pdf["mx"].isna().iloc[0] else float(first["mx"])
    s.err = float(first["err"])
    s.ncomp = int(first["ncomp"])
    real = pdf[pdf["level"] >= 0]
    for l, grp in real.groupby("level"):
        s.levels[int(l)] = np.sort(grp["v"].to_numpy(dtype="float64"))
    return s


_QS_SCHEMA = (
    "state_key string, column string, k int, level int, v double, "
    "n long, n_null long, mn double, mx double, err double, ncomp long"
)


def _qs_rows(sk, col: str, s: "_QSummary"):
    base = dict(
        state_key=sk, column=col, k=s.k, n=s.n, n_null=s.n_null,
        mn=s.mn, mx=s.mx, err=s.err, ncomp=s.ncomp,
    )
    out = [dict(base, level=l, v=v) for l, v in s.rows()]
    if not out:  # all-null unit: keep one marker row (level -1)
        out = [dict(base, level=-1, v=None)]
    return out


def quantile_states(
    df: DataFrame, col: str, state_key: str, k: int = QS_DEFAULT_K
) -> DataFrame:
    """Per-commit-unit mergeable quantile summaries, long format (see
    module section above): one row per retained (level, value) plus the
    unit's exact n/n_null/mn/mx and certified err/ncomp on every row.

    One mapInArrow pass builds per-task partials bounded at
    O(k·log(n/k)) items; one applyInPandas fold per state_key merges
    them — the data is scanned once, and only summary rows shuffle."""
    import pandas as pd  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    src = df.select(
        F.expr(state_key).cast("string").alias("sk"),
        F.col(col).cast("double").alias("v"),
    )

    def summarize(batches: Iterator) -> Iterator:
        import numpy as np  # noqa: PLC0415

        sums: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pdf = batch.to_pandas()
            for sk, grp in pdf.groupby("sk", dropna=False):
                key = None if (sk is None or sk != sk) else sk
                s = sums.get(key)
                if s is None:
                    s = sums[key] = _QSummary(k)
                vals = grp["v"].to_numpy(dtype="float64")
                nan = np.isnan(vals)
                s.n_null += int(nan.sum())
                s.add_values(vals[~nan])
        target = pa.schema(
            [
                ("state_key", pa.string()), ("column", pa.string()),
                ("k", pa.int32()), ("level", pa.int32()), ("v", pa.float64()),
                ("n", pa.int64()), ("n_null", pa.int64()),
                ("mn", pa.float64()), ("mx", pa.float64()),
                ("err", pa.float64()), ("ncomp", pa.int64()),
            ]
        )
        for key, s in sums.items():
            rows = _qs_rows(key, col, s)
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(rows)[target.names],
                schema=target,
                preserve_index=False,
            )

    partials = src.mapInArrow(summarize, schema=_QS_SCHEMA)

    # tag each partial with a task-unique id so the fold can rebuild each
    # summary separately before merging
    partials = partials.withColumn("part_id", F.spark_partition_id())

    def fold_sk(pdf):
        import pandas as pd  # noqa: PLC0415

        kk = int(pdf["k"].iloc[0])
        col_name = pdf["column"].iloc[0]
        sk_isnull = pdf["state_key"].isna().iloc[0]
        sk = None if sk_isnull else pdf["state_key"].iloc[0]
        merged = None
        for _, grp in pdf.groupby("part_id"):
            s = _qs_from_group(grp, kk)
            if merged is None:
                merged = s
            else:
                merged.merge(s)
        rows = _qs_rows(sk, col_name, merged)
        return pd.DataFrame(rows)[
            ["state_key", "column", "k", "level", "v", "n",
             "n_null", "mn", "mx", "err", "ncomp"]
        ]

    return partials.groupBy("state_key").applyInPandas(fold_sk, schema=_QS_SCHEMA)


def _merge_states_pdf(states: DataFrame) -> "tuple[_QSummary, str]":
    """(merged summary, column name) from ONE execution of the states
    plan — the column rides in the collected frame, so callers never
    re-run the (potentially full-scan) plan just to learn the name.
    (None, None) when the frame is empty."""
    pdf = states.toPandas()
    if pdf.empty:
        return None, None
    cols = pdf["column"].unique()
    if len(cols) != 1:
        raise ValueError(
            f"merge_quantile_states folds ONE column per call; got {sorted(cols)}"
        )
    ks = pdf["k"].unique()
    if len(ks) != 1:
        raise ValueError(
            f"quantile states built with different k are not mergeable: {sorted(ks)}"
        )
    merged = None
    for sk, grp in pdf.groupby("state_key", dropna=False):
        s = _qs_from_group(grp, int(ks[0]))
        if merged is None:
            merged = s
        else:
            merged.merge(s)
    return merged, str(pdf["column"].iloc[0])


def merge_quantile_states(states: DataFrame) -> "_QSummary":
    """Fold a quantile-states frame (any number of commit units, one
    column) into a single in-memory summary. The frame is
    dimension-sized, so the driver collect is O(k · #units) rows; the
    certified error bound is preserved through the merge tree."""
    merged, _ = _merge_states_pdf(states)
    if merged is None:
        raise ValueError("merge_quantile_states: empty states frame")
    return merged


def quantile_sketch_bounds(
    states: DataFrame, ps: "list[float]"
) -> DataFrame:
    """Certified quantile brackets from merged quantile states:
    (column, p, n, lo, hi, est) with the TRUE type-1 quantile guaranteed
    inside [lo, hi] by the summary's worst-case rank certificate. The
    schema matches states.quantile_bounds (minus bin), so
    states.quantile_bracket_verdicts consumes it directly for
    three-valued incremental quantile expectations. An EMPTY states
    frame (e.g. zero committed partitions/batches yet) yields an empty
    result frame, matching the graceful behavior of the histogram and
    profile read paths. The states plan executes exactly once."""
    from .stats import _p_fraction

    if not ps:
        raise ValueError("quantile_sketch_bounds needs at least one probability")
    schema = "column string, p double, n long, lo double, hi double, est double"
    s, col = _merge_states_pdf(states)
    if s is None:
        return states.sparkSession.createDataFrame([], schema)
    rows = []
    for p in ps:
        num, den = _p_fraction(p)
        if s.n == 0:
            rows.append((col, float(p), 0, None, None, None))
            continue
        target = (num * s.n + den - 1) // den  # ceil(p*n), all-integer
        lo, hi, est = s.rank_bracket(max(target, 1))
        rows.append((col, float(p), s.n, lo, hi, est))
    spark = states.sparkSession
    return spark.createDataFrame(
        rows, "column string, p double, n long, lo double, hi double, est double"
    )


def quantiles(column: str, k: int = QS_DEFAULT_K) -> StateKind:
    """Quantile summaries of ``column`` at ``k`` items per level as a
    :class:`states.StateKind` (:func:`quantile_states`), read by
    :func:`quantile_sketch_bounds`."""
    return StateKind(
        "quantile_states",
        (column,),
        lambda df, key: quantile_states(df, column, key, k=k),
        ("column", "k"),
        frozenset({(column, int(k))}),
    )
