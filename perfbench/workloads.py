"""The three workloads. Each drives sparkcheck through its public API from
one thread with one op in flight (a closed loop with one client).

A workload object lives for one benchmark process: ``open`` (re)opens its
input on a session, ``warm`` runs one full-size untimed op, ``step`` runs
timed ops and appends them to ``ops``, and ``finish`` checks what the ops
wrote against the DuckDB oracle and marks mismatching ops failed.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from perfbench import inputs, suites
from perfbench.tracing import Op, Recorder


def _docs_schema(*extra: tuple[str, str]):
    from pyspark.sql import types as T

    from sparkcheck.schema import SPAN_STRUCT

    fields = [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
    kinds = {"int": T.IntegerType(), "string": T.StringType()}
    fields += [T.StructField(name, kinds[kind]) for name, kind in extra]
    return T.StructType(fields)


def _store_usage(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Workload:
    name = ""
    #: ops every run makes, even past --seconds; traced runs fold the
    #: per-layer metrics over exactly these, so counts repeat exactly
    MIN_OPS = 1
    #: full-size warm-up ops in each of the three set-ups
    WARM_OPS = 1

    def __init__(self, data: Path, stores: Path, recorder: Recorder):
        self.data = data
        self.expected = json.loads((data / "expected.json").read_text())
        self.stores = stores
        self.recorder = recorder
        self.ops: list[Op] = []  # timed ops
        self.checks: list[Op] = []  # untimed checked deliveries and failures
        self.spark = None

    def open(self, spark) -> None:
        self.spark = spark

    def finish(self) -> None:
        """Check outputs after the timed window; mark failed ops."""

    def _begin(self) -> int:
        op_id = len(self.ops)
        self.recorder.set_op(op_id)
        return op_id

    def store_usage(self) -> tuple[int, int]:
        """Files and bytes the timed ops left in their stores."""
        timed = self.stores / "timed"
        return _store_usage(timed) if timed.exists() else (0, 0)


class CorpusScan(Workload):
    """validate_and_extract(docs, north-rule suite, span_violations) over
    the stored corpus; the violation rows go to a noop sink."""

    name = "corpus_scan"
    MIN_OPS = 4

    def open(self, spark) -> None:
        super().open(spark)
        self.suite = suites.build(suites.NORTH_RULE)
        self.docs = spark.read.schema(_docs_schema()).parquet(str(self.data / "docs"))

    def _call(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sparkcheck import fused
        from sparkcheck.spans import span_violations

        seen = Observation("perfbench_span_rows")

        def noop_sink(rows):
            counts = [
                F.sum((F.col("expectation") == e).cast("long")).alias(e)
                for e in inputs.SPAN_EXPECTATIONS
            ]
            rows.observe(seen, F.count(F.lit(1)).alias("rows"), *counts).write.format(
                "noop"
            ).mode("overwrite").save()

        report, _, _ = fused.validate_and_extract(
            self.docs, self.suite, span_violations, action=noop_sink,
            result_format="BASIC",
        )
        return report, seen.get

    def warm(self, i: int) -> None:
        self._call()

    def step(self) -> None:
        op_id = self._begin()
        t0 = time.time()
        report, seen = self._call()
        op = Op(op_id, t0, time.time(), self.expected["docs"]["docs"])
        want = self.expected["docs"]
        bad = suites.mismatches(suites.report_results(report), want["suite"])
        got_spans = {e: seen[e] for e in inputs.SPAN_EXPECTATIONS if seen[e]}
        if got_spans != want["spans"] or seen["rows"] != want["span_rows"]:
            bad.append(f"span rows {seen['rows']} {got_spans} != "
                       f"{want['span_rows']} {want['spans']}")
        op.error = "; ".join(bad) or None
        self.ops.append(op)


class CheckpointRun(Workload):
    """PartitionedCorpusRunner's default leg over a bucket=<b> corpus with
    n_spans profile states and span violations, into a fresh ParquetStore
    per runner.run. One op is one committed partition."""

    name = "checkpoint_run"
    MIN_OPS = inputs.CK_BUCKETS

    def open(self, spark) -> None:
        super().open(spark)
        self.suite = suites.build(suites.NORTH_RULE)
        self.runs: list[tuple[int, Path, str]] = []  # corpus, store, run_id
        self.pids: list[str] = []  # partition id of each op

    def _run(self, corpus: str, store_dir: Path, run_id: str) -> None:
        from sparkcheck.runner import ParquetStore, PartitionedCorpusRunner
        from sparkcheck.spans import span_violations

        shutil.rmtree(store_dir, ignore_errors=True)
        runner = PartitionedCorpusRunner(
            self.spark,
            ParquetStore(str(store_dir)),
            str(self.data / corpus),
            violations_fn=span_violations,
            profile_columns=["n_spans"],
            max_concurrency=1,
        )
        runner.run(None, self.suite, run_id=run_id)

    def warm(self, i: int) -> None:
        self._run("warm", self.stores / f"warm{i}", f"warm{i}")

    def step(self) -> None:
        k = len(self.runs)
        corpus = k % inputs.CK_CORPORA
        store_dir = self.stores / "timed" / f"run{k}"
        run_id = f"run{k}"
        first = self._begin()
        # the commit of one partition starts the next op
        self.recorder.on_commit = lambda: self.recorder.set_op(self.recorder.op + 1)
        t0 = time.time()
        try:
            self._run(f"c{corpus}", store_dir, run_id)
        finally:
            self.recorder.on_commit = None
        # partitions commit one after another (max_concurrency=1): each
        # manifest's mtime ends one op and starts the next
        commits = sorted(
            (p.stat().st_mtime_ns / 1e9, p.stem.split("_", 1)[1])
            for p in (store_dir / "_manifest").glob(f"{run_id}_*.json")
        )
        start = t0
        for i, (end, pid) in enumerate(commits):
            self.ops.append(Op(first + i, start, end, 0))
            self.pids.append(pid)
            start = end
        self.runs.append((corpus, store_dir, run_id))

    def finish(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            ops = iter(zip(self.ops, self.pids))
            for corpus, store_dir, run_id in self.runs:
                expected = {
                    g.split("/", 1)[1]: v
                    for g, v in self.expected["partitions"].items()
                    if g.startswith(f"c{corpus}/")
                }
                committed = {}
                for p in (store_dir / "_manifest").glob(f"{run_id}_*.json"):
                    m = json.loads(p.read_text())
                    committed[m["partition_id"]] = m
                results = con.execute(
                    f"""SELECT partition_id, expectation, element_count,
                               unexpected_count, observed_value
                        FROM read_parquet('{store_dir}/results/*.parquet')"""
                ).fetchall()
                for _ in range(len(committed)):
                    op, pid = next(ops)
                    want = expected.get(pid)
                    if want is None:
                        op.error = f"unexpected partition {pid}"
                        continue
                    op.docs = int(committed[pid]["n_docs"])
                    by_type = {
                        t: {"element_count": ec, "unexpected_count": uc,
                            "observed_value": None if ov is None else json.loads(ov)}
                        for p, t, ec, uc, ov in results if p == pid
                    }
                    got = [by_type.get(e["expectation_type"], {}) for e in suites.NORTH_RULE]
                    bad = suites.mismatches(got, want["suite"])
                    if op.docs != want["docs"]:
                        bad.append(f"n_docs {op.docs} != {want['docs']}")
                    spans = inputs.span_summary(
                        con, f"{store_dir}/violations/*.parquet",
                        f"partition_id = '{pid}'",
                    )
                    wanted = {k: want[k] for k in spans}
                    if spans != wanted:
                        bad.append(f"violations {spans} != {wanted}")
                    op.error = "; ".join(bad) or None
                missing = sorted(set(expected) - set(committed))
                for pid in missing:
                    self.checks.append(Op(-1, 0.0, 0.0, 0, f"{pid} not committed"))
        finally:
            con.close()


class Microbatch(Workload):
    """StreamingValidationSink(store, ingest suite, span_violations) called
    as foreachBatch would: sink(batch_df, batch_id), one batch per op."""

    name = "microbatch"
    MIN_OPS = 4
    # planning-bound batches kept getting faster over the first ten (one
    # run went from 2.4 s to 1.7 s); six warm-up batches take most of that
    # drift out of the timed window
    WARM_OPS = 2
    REDELIVER = 3  # committed batch ids delivered again after the window

    def open(self, spark) -> None:
        super().open(spark)
        self.suite = suites.build(suites.INGEST)
        self.schema = _docs_schema(("n_spans", "int"), ("source", "string"))
        self.sent: list[int] = []  # data batch of each timed batch id
        self.reports: dict[int, dict] = {}
        self.sink = None

    def _batch(self, data_idx: int):
        return self.spark.read.schema(self.schema).parquet(
            str(self.data / "batches" / f"b{data_idx:04d}")
        )

    def _sink(self, store_dir: Path, keep: bool):
        from sparkcheck.runner import ParquetStore
        from sparkcheck.spans import span_violations
        from sparkcheck.streaming import StreamingValidationSink

        shutil.rmtree(store_dir, ignore_errors=True)
        sink = StreamingValidationSink(
            ParquetStore(str(store_dir)), self.suite, run_id="ingest",
            violations_fn=span_violations, result_format="BASIC",
        )
        if keep:
            sink.on_result = lambda bid, r: self.reports.__setitem__(bid, r)
        return sink

    def warm(self, i: int) -> None:
        # warm-up batches are taken from the end, timed ones from the start
        batch = self._batch(inputs.MB_BATCHES - 1 - i)
        self._sink(self.stores / f"warm{i}", keep=False)(batch, i)

    def step(self) -> None:
        if self.sink is None:
            self.sink = self._sink(self.stores / "timed", keep=True)
        batch_id = len(self.sent)
        data_idx = batch_id % inputs.MB_BATCHES
        df = self._batch(data_idx)
        op_id = self._begin()
        t0 = time.time()
        self.sink(df, batch_id)
        self.ops.append(Op(op_id, t0, time.time(), inputs.MB_BATCH_DOCS))
        self.sent.append(data_idx)

    def finish(self) -> None:
        import duckdb

        store = self.stores / "timed"
        viol = f"{store}/violations/*.parquet"
        con = duckdb.connect()
        try:
            manifests = list((store / "_manifest").glob("ingest_*.json"))
            rows_before = con.execute(f"SELECT count(*) FROM read_parquet('{viol}')").fetchone()[0]
            for op, data_idx in zip(self.ops, self.sent):
                want = self.expected["batches"][data_idx]
                pid = f"batch={op.op_id}"
                report = self.reports.get(op.op_id)
                bad = (
                    suites.mismatches(suites.report_results(report), want["suite"])
                    if report is not None else ["no report"]
                )
                spans = inputs.span_summary(con, viol, f"partition_id = '{pid}'")
                wanted = {k: want[k] for k in spans}
                if spans != wanted:
                    bad.append(f"violations {spans} != {wanted}")
                op.error = "; ".join(bad) or None
            if len(manifests) != len(self.sent):
                self.ops[-1].error = f"{len(manifests)} batches committed, {len(self.sent)} sent"
            # at-least-once delivery: committed ids again must append nothing
            for batch_id in range(min(self.REDELIVER, len(self.sent))):
                t0 = time.time()
                self.sink(self._batch(self.sent[batch_id]), batch_id)
                rows = con.execute(f"SELECT count(*) FROM read_parquet('{viol}')").fetchone()[0]
                after = len(list((store / "_manifest").glob("ingest_*.json")))
                err = None
                if rows != rows_before or after != len(manifests):
                    err = f"redelivery of batch {batch_id} appended"
                self.checks.append(Op(-1, t0, time.time(), 0, err))
        finally:
            con.close()



WORKLOADS = {w.name: w for w in (CorpusScan, CheckpointRun, Microbatch)}
