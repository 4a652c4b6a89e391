"""Benchmark inputs and their oracle.

1. A seed-independent pool of ``POOL_DOCS`` docs is written once per
   checkout by ``sparkcheck.synth.generate_docs`` in its own process (its
   own JVM, so the measured JVM never runs the generator). Each row
   carries a unique ``gid``. DuckDB then flags the pool's span-level
   violations once.
2. For each (workload, seed) DuckDB picks rows from the pool in the order
   of ``md5(seed/gid)``, writes them in the workload's layout, and
   computes the expected validation results over the written rows.
   Results are cached under ``work/inputs/<workload>-s<seed>-<size>``, so
   set-up never includes generating inputs.

sparkcheck only ever sees the written parquet files.

Run ``python3 -m perfbench.inputs pool <work>`` from the checkout root to
write the pool by hand; ``run.py`` does it on first use.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

from perfbench import suites
from perfbench.sparkenv import nproc

POOL_DOCS = 1_000_000

SCAN_DOCS = 200_000

CK_CORPORA = 4  # one runner.run per corpus, cycled through
CK_BUCKETS = 5  # committed partitions per runner.run
CK_CORPUS_DOCS = 62_500

MB_BATCHES = 64
MB_BATCH_DOCS = 5_000

PRINTABLE_RE = r"^[\x20-\x7E]*$"  # sparkcheck.spans.PRINTABLE_RE
KNOWN_KINDS = ("text", "image", "audio", "video")
SPAN_EXPECTATIONS = (
    "expect_span_text_printable",
    "expect_span_kind_payload_consistent",
    "expect_span_offsets_increasing",
)


def pool_dir(work: Path) -> Path:
    return work / f"pool-{POOL_DOCS}"


def write_pool(work: Path) -> None:
    """Generate the pool with Spark. Runs in a process of its own."""
    from pyspark.sql import functions as F

    from perfbench.sparkenv import build_session, shutdown_jvm
    from sparkcheck.synth import generate_docs

    out = pool_dir(work)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    spark = build_session(work)
    try:
        # one spark.range partition per output file: gid is
        # partition_index << 33 | row, deterministic for a fixed count
        docs = generate_docs(spark, POOL_DOCS, n_partitions=16)
        docs.withColumn("gid", F.monotonically_increasing_id()).write.parquet(
            str(tmp)
        )
    finally:
        shutdown_jvm(spark)
    tmp.rename(out)


def pool_spans(work: Path) -> Path:
    return work / f"pool-{POOL_DOCS}-span-violations.parquet"


def ensure_pool(work: Path, root: Path) -> None:
    """Write the pool (in a child process) and its span-violation oracle."""
    if pool_spans(work).exists():
        return
    if not pool_dir(work).exists():
        import subprocess

        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", "pool", str(work)],
            cwd=root,
            check=True,
            timeout=600,
        )
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {nproc()}")
        tmp = pool_spans(work).with_suffix(".tmp")
        con.execute(
            f"COPY ({_span_violations_sql(pool_dir(work))}) TO '{tmp}' (FORMAT parquet)"
        )
    finally:
        con.close()
    tmp.rename(pool_spans(work))


def size_tag(workload: str) -> str:
    files = 4 * nproc()
    return {
        "corpus_scan": f"{SCAN_DOCS}x{files}",
        "checkpoint_run": f"{CK_CORPORA}x{CK_BUCKETS}x{CK_CORPUS_DOCS}x{nproc()}",
        "microbatch": f"{MB_BATCHES}x{MB_BATCH_DOCS}",
    }[workload]


def prepare(work: Path, workload: str, seed: int) -> Path:
    """Directory holding the workload's inputs for ``seed`` and their
    expected results (``expected.json``); built on first use."""
    out = work / "inputs" / f"{workload}-s{seed}-{size_tag(workload)}"
    if (out / "expected.json").exists():
        return out
    import duckdb

    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {nproc()}")
        con.execute(f"SET temp_directory = '{work / 'tmp' / 'duckdb'}'")
        n = {
            "corpus_scan": SCAN_DOCS,
            # plus one single-bucket corpus for the warm-up partitions
            "checkpoint_run": (CK_CORPORA * CK_CORPUS_DOCS
                               + CK_CORPUS_DOCS // CK_BUCKETS),
            "microbatch": MB_BATCHES * MB_BATCH_DOCS,
        }[workload]
        _select(con, pool_dir(work), seed, n)
        con.execute(
            f"CREATE TEMP VIEW pool_spans AS SELECT * FROM read_parquet('{pool_spans(work)}')"
        )
        expected = {
            "corpus_scan": _write_scan,
            "checkpoint_run": _write_checkpoint,
            "microbatch": _write_microbatch,
        }[workload](con, tmp)
    finally:
        con.close()
    (tmp / "expected.json").write_text(json.dumps(expected))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def _select(con, pool: Path, seed: int, n: int) -> None:
    src = f"read_parquet('{pool}/*.parquet')"
    con.execute(
        f"""CREATE TEMP TABLE pick AS
        SELECT gid, (row_number() OVER (ORDER BY h, gid) - 1)::BIGINT AS rank
        FROM (SELECT gid, md5_number(concat({int(seed)}, '/', gid)) AS h
              FROM {src} ORDER BY h, gid LIMIT {int(n)})"""
    )
    con.execute(
        f"""CREATE TEMP TABLE sel AS
        SELECT k.rank, p.gid, p.doc_id, p.spans,
               len(p.spans)::INTEGER AS n_spans,
               split_part(p.doc_id, '-', 1) AS source
        FROM {src} p JOIN pick k USING (gid)"""
    )


def _copy_partitioned(con, query: str, keys: list[str], dest, name) -> None:
    """COPY ``query`` partitioned by ``keys`` and move each partition's
    files to ``dest / name(values)`` (no partition directories left)."""
    stage = dest / "_stage"
    con.execute(
        f"COPY ({query}) TO '{stage}' "
        f"(FORMAT parquet, PARTITION_BY ({', '.join(keys)}))"
    )
    for f in sorted(stage.rglob("*.parquet")):
        values = [
            int(p.split("=", 1)[1])
            for p in f.relative_to(stage).parts[:-1]
        ]
        target = dest / name(*values, f.stem)
        target.parent.mkdir(parents=True, exist_ok=True)
        f.rename(target)
    shutil.rmtree(stage)


def _write_scan(con, out: Path) -> dict:
    files = 4 * nproc()
    con.execute("CREATE TEMP VIEW t AS SELECT 0 AS g, * FROM sel")
    _copy_partitioned(
        con,
        f"SELECT doc_id, spans, rank % {files} AS f FROM sel",
        ["f"],
        out,
        lambda f, stem: f"docs/part-{f:03d}-{stem}.parquet",
    )
    return {"docs": _oracle(con, suites.NORTH_RULE)[0]}


def _write_checkpoint(con, out: Path) -> dict:
    timed = CK_CORPORA * CK_CORPUS_DOCS
    # corpus c takes every CK_CORPORA-th pick; the bucket is a hash of
    # doc_id, so duplicate doc_ids share a partition as in production
    con.execute(
        f"""CREATE TEMP TABLE ck AS SELECT
            CASE WHEN rank < {timed} THEN rank % {CK_CORPORA} ELSE -1 END AS c,
            CASE WHEN rank < {timed}
                 THEN coalesce(abs(md5_number(doc_id)) % {CK_BUCKETS}, 0)::INTEGER
                 ELSE 0 END AS b,
            (rank // {CK_CORPORA}) % {nproc()} AS f,
            gid, doc_id, spans, n_spans, source
        FROM sel"""
    )
    _copy_partitioned(
        con,
        "SELECT doc_id, spans, n_spans, c + 1 AS c1, b, f FROM ck",
        ["c1", "b", "f"],
        out,
        lambda c1, b, f, stem: (
            f"{'warm' if c1 == 0 else f'c{c1 - 1}'}/bucket={b}/part-{f}-{stem}.parquet"
        ),
    )
    con.execute(
        "CREATE TEMP VIEW t AS SELECT concat('c', c, '/bucket=', b) AS g, * "
        "FROM ck WHERE c >= 0"
    )
    return {"partitions": _oracle(con, suites.NORTH_RULE)}


def _write_microbatch(con, out: Path) -> dict:
    con.execute(
        f"CREATE TEMP VIEW t AS SELECT rank // {MB_BATCH_DOCS} AS g, * FROM sel"
    )
    _copy_partitioned(
        con,
        "SELECT doc_id, spans, n_spans, source, g FROM t",
        ["g"],
        out,
        lambda g, stem: f"batches/b{g:04d}/part-{stem}.parquet",
    )
    by_batch = _oracle(con, suites.INGEST)
    return {"batches": [by_batch[g] for g in range(MB_BATCHES)]}


def _oracle(con, suite: list[dict]) -> dict:
    """Expected results of ``suite`` and of span_violations for every
    group ``g`` of the view ``t``."""
    re_ = suites.DOC_ID_REGEX
    srcs = ", ".join(f"'{s}'" for s in suites.SOURCES)
    rows = con.execute(
        f"""SELECT g,
          count(*) AS n,
          count(*) FILTER (WHERE doc_id IS NULL) AS nulls,
          count(*) FILTER (WHERE doc_id IS NOT NULL AND dup > 1) AS dups,
          count(*) FILTER (WHERE doc_id IS NOT NULL
                           AND NOT regexp_matches(doc_id, '{re_}')) AS bad_re,
          count(*) FILTER (WHERE doc_id IS NOT NULL
                           AND (length(doc_id) < 16 OR length(doc_id) > 17)) AS bad_len,
          count(*) FILTER (WHERE source IS NOT NULL
                           AND source NOT IN ({srcs})) AS bad_src,
          count(*) FILTER (WHERE n_spans < 1 OR n_spans > 16) AS bad_between,
          avg(n_spans) AS mean,
          stddev_samp(n_spans) AS stdev,
          quantile_cont(n_spans, {suites.QUANTILES}) AS qs,
          count(*) FILTER (WHERE source LIKE 'hot%') AS hot_n,
          count(*) FILTER (WHERE source LIKE 'hot%'
                           AND (n_spans < 1 OR n_spans > 16)) AS hot_bad
        FROM (SELECT *, count(*) OVER (PARTITION BY g, doc_id) AS dup FROM t)
        GROUP BY g"""
    ).fetchall()
    counts: dict = {}
    for g, v, c in con.execute(
        "SELECT g, n_spans, count(*) FROM t GROUP BY ALL"
    ).fetchall():
        counts.setdefault(g, {})[v] = c
    spans = _span_oracle(con)

    out = {}
    for (g, n, nulls, dups, bad_re, bad_len, bad_src, bad_between, mean, stdev,
         qs, hot_n, hot_bad) in rows:
        def m(u: int, elements: int = n) -> dict:
            return {"element_count": elements, "unexpected_count": u}

        if suite is suites.NORTH_RULE:
            expected = [m(nulls), m(dups), m(bad_re), {"observed_value": n}]
        else:
            expected = [
                m(nulls), m(dups), m(bad_re), m(bad_len), m(bad_src),
                m(bad_between),
                {"observed_value": float(mean)},
                {"observed_value": float(stdev)},
                {"observed_value": {"quantiles": suites.QUANTILES,
                                    "values": [float(q) for q in qs]}},
                {"observed_value": suites.kl_uniform(counts[g])},
                m(hot_bad, hot_n),
                {"observed_value": n},
            ]
        out[g] = {"docs": n, "suite": expected, **spans.get(
            g, {"spans": {}, "span_rows": 0, "span_keys": 0})}
    return out


def _span_violations_sql(pool: Path) -> str:
    """(gid, doc_id, span_index, expectation) for every span the three
    span-level checks of sparkcheck.spans.span_violations flag."""
    kinds = ", ".join(f"'{k}'" for k in KNOWN_KINDS)
    return f"""
        WITH ex AS (
          SELECT gid, doc_id, i - 1 AS span_index,
                 struct_extract(spans[i], 'kind') AS kind,
                 struct_extract(spans[i], 'text') AS text,
                 struct_extract(spans[i], 'media_ref') AS media_ref,
                 struct_extract(spans[i], 'offset') AS off,
                 CASE WHEN i > 1 THEN struct_extract(spans[i - 1], 'offset') END AS prev
          FROM (SELECT gid, doc_id, spans, generate_subscripts(spans, 1) AS i
                FROM read_parquet('{pool}/*.parquet'))
        ), flagged AS (
          SELECT gid, doc_id, span_index,
            coalesce(kind = 'text' AND text IS NOT NULL
                     AND NOT regexp_matches(text, '{PRINTABLE_RE}'), false) AS text_bad,
            coalesce(kind NOT IN ({kinds})
                     OR (kind = 'text' AND (text IS NULL OR media_ref IS NOT NULL))
                     OR (kind <> 'text' AND (media_ref IS NULL OR text IS NOT NULL)),
                     false) AS kind_bad,
            coalesce(prev IS NOT NULL AND off IS NOT NULL AND off <= prev, false) AS off_bad
          FROM ex
        )
        SELECT gid, span_index, '{SPAN_EXPECTATIONS[0]}' AS expectation FROM flagged WHERE text_bad
        UNION ALL SELECT gid, span_index, '{SPAN_EXPECTATIONS[1]}' FROM flagged WHERE kind_bad
        UNION ALL SELECT gid, span_index, '{SPAN_EXPECTATIONS[2]}' FROM flagged WHERE off_bad"""


def _span_oracle(con) -> dict:
    con.execute(
        """CREATE OR REPLACE TEMP TABLE v AS
        SELECT t.g, t.doc_id, s.span_index, s.expectation
        FROM t JOIN pool_spans s USING (gid)"""
    )
    out: dict = {}
    for g, e, c in con.execute("SELECT g, expectation, count(*) FROM v GROUP BY ALL").fetchall():
        out.setdefault(g, {"spans": {}})["spans"][e] = c
    for g, rows, keys in con.execute(
        """SELECT g, sum(c), count(*) FROM (
             SELECT g, doc_id, span_index, expectation, count(*) AS c
             FROM v GROUP BY ALL) GROUP BY g"""
    ).fetchall():
        out[g]["span_rows"] = int(rows)
        out[g]["span_keys"] = keys
    return out


def span_summary(con, parquet_glob: str, where: str = "true") -> dict:
    """The same per-expectation counts, rows and distinct keys, read from
    violation rows that sparkcheck wrote."""
    src = f"read_parquet('{parquet_glob}')"
    spans = dict(
        con.execute(
            f"SELECT expectation, count(*) FROM {src} WHERE {where} GROUP BY ALL"
        ).fetchall()
    )
    rows, keys = con.execute(
        f"""SELECT coalesce(sum(c), 0), count(*) FROM (
              SELECT partition_id, doc_id, span_index, expectation, count(*) AS c
              FROM {src} WHERE {where} GROUP BY ALL)"""
    ).fetchone()
    return {"spans": spans, "span_rows": rows, "span_keys": keys}


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "pool":
        sys.exit("usage: python3 -m perfbench.inputs pool <work-dir>")
    write_pool(Path(sys.argv[2]))
