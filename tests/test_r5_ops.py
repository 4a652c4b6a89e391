"""Round-5 operators: sliding-window chunking, TF-IDF distinctive terms,
edit-distance fuzzy join (deletion blocking), embedding decontamination."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row, functions as F

from sparkcheck import keys, similarity, text


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def _chunks(spark, texts, max_tokens, stride):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    return {
        (r["doc_id"], r["chunk_index"]): r
        for r in text.chunk_documents(
            df, max_tokens=max_tokens, stride=stride
        ).collect()
    }


def test_chunking_layout(spark):
    doc = " ".join(f"t{i}" for i in range(10))
    out = _chunks(spark, [doc], max_tokens=4, stride=3)
    # n=10, max=4, stride=3 -> n_chunks = 1 + ceil(6/3) = 3
    assert sorted(out) == [(0, 0), (0, 1), (0, 2)]
    assert out[(0, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert out[(0, 1)]["chunk_text"] == "t3 t4 t5 t6"
    assert out[(0, 2)]["chunk_text"] == "t6 t7 t8 t9"
    assert all(r["start_tok"] == i * 3 for (_, i), r in out.items())
    assert all(r["n_tokens_chunk"] == 4 for r in out.values())


def test_chunking_short_doc_single_chunk(spark):
    out = _chunks(spark, ["a b"], max_tokens=8, stride=4)
    assert list(out) == [(0, 0)]
    assert out[(0, 0)]["chunk_text"] == "a b"
    assert out[(0, 0)]["n_tokens_chunk"] == 2


def test_chunking_empty_doc_dropped(spark):
    out = _chunks(spark, ["", "   ", "x"], max_tokens=4, stride=2)
    assert sorted({d for d, _ in out}) == [2]


@pytest.mark.parametrize("n,mx,st", [(1, 4, 2), (4, 4, 2), (5, 4, 2),
                                     (17, 5, 5), (23, 7, 3), (8, 3, 1)])
def test_chunking_invariants(spark, n, mx, st):
    """Every token covered; chunk i starts at i*stride; last chunk reaches
    the end; no chunk fully contained in its predecessor beyond the last."""
    toks = [f"w{i}" for i in range(n)]
    out = _chunks(spark, [" ".join(toks)], max_tokens=mx, stride=st)
    n_chunks = 1 + max(0, -(-(n - mx) // st))
    assert len(out) == n_chunks
    covered = set()
    for (_, ci), r in sorted(out.items()):
        got = r["chunk_text"].split(" ")
        assert got == toks[ci * st: ci * st + mx]
        covered.update(range(ci * st, min(ci * st + mx, n)))
    assert covered == set(range(n))
    # second-to-last chunk does not already reach the end
    if n_chunks >= 2:
        assert (n_chunks - 2) * st + mx < n


def test_chunking_validation(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a")])
    with pytest.raises(ValueError, match="stride"):
        text.chunk_documents(df, max_tokens=4, stride=5)
    with pytest.raises(ValueError, match="max_tokens"):
        text.chunk_documents(df, max_tokens=0)


def test_chunking_plan_is_narrow(spark, documents):
    plan = text.chunk_documents(
        documents, max_tokens=64, stride=48
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# distinctive_terms
# ---------------------------------------------------------------------------


def test_distinctive_terms_manual(spark):
    rows = [
        Row(source="a", text="apple apple banana shared"),
        Row(source="a", text="apple shared"),
        Row(source="b", text="cherry shared shared"),
    ]
    df = spark.createDataFrame(rows)
    out = text.distinctive_terms(df, top_k=2)
    got = {(r["source"], r["token"]): r for r in out.collect()}
    import math

    # apple: tf=3 in a, df=1, N=2 -> 3*ln2
    assert got[("a", "apple")]["tf"] == 3
    assert got[("a", "apple")]["df"] == 1
    assert got[("a", "apple")]["score"] == pytest.approx(
        round(3 * math.log(2), 6)
    )
    assert got[("a", "apple")]["rank"] == 1
    # shared appears in both groups -> score 0, never beats distinctive terms
    assert ("a", "shared") not in got or got[("a", "shared")]["score"] == 0.0
    assert got[("b", "cherry")]["rank"] == 1
    # rank 2 in a is banana (1*ln2) over shared (0)
    assert got[("a", "banana")]["rank"] == 2


def test_distinctive_terms_min_tf_and_ties(spark):
    rows = [Row(source="a", text="x y"), Row(source="b", text="z")]
    df = spark.createDataFrame(rows)
    out = {
        (r["source"], r["token"]): r["rank"]
        for r in text.distinctive_terms(df, top_k=5).collect()
    }
    # x and y tie on score in a -> token-alphabetical rank
    assert out[("a", "x")] == 1 and out[("a", "y")] == 2
    pruned = text.distinctive_terms(df, top_k=5, min_tf=2).collect()
    assert pruned == []


def test_distinctive_terms_null_group_is_dropped(spark):
    """A NULL group is not a group: it must not raise df above N."""
    df = spark.createDataFrame(
        [("a", "tok x"), ("b", "tok y"), (None, "tok z")], "source string, text string"
    )
    got = text.distinctive_terms(df, top_k=5).collect()
    assert got and all(r["score"] >= 0 for r in got)
    assert {r["source"] for r in got} == {"a", "b"}


# ---------------------------------------------------------------------------
# fuzzy_join
# ---------------------------------------------------------------------------


def _lev(a, b):
    # reference DP
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _naive_pairs(vals, d):
    return {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2)
        if _lev(a, b) <= d
    }


@pytest.mark.parametrize("d", [1, 2])
def test_fuzzy_self_join_matches_naive(spark, d):
    import random

    rng = random.Random(42 + d)
    alphabet = "abc"
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 7)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([Row(id=i, s=v) for i, v in enumerate(vals)])
    got = {
        (r["left_id"], r["right_id"])
        for r in keys.fuzzy_self_join(df, "s", id_col="id", max_distance=d).collect()
    }
    assert got == _naive_pairs(vals, d)


def test_fuzzy_join_cross_table(spark):
    left = spark.createDataFrame(
        [Row(id=1, name="johnson"), Row(id=2, name="smith"), Row(id=3, name="xy")]
    )
    right = spark.createDataFrame(
        [Row(id=10, name="jonson"),   # deletion of h -> d=1
         Row(id=11, name="smyth"),    # substitution -> d=1
         Row(id=12, name="smith"),    # exact -> d=0
         Row(id=13, name="zzzz")]
    )
    out = keys.fuzzy_join(
        left, right, "name", "name", max_distance=1, left_id="id", right_id="id"
    )
    got = {(r["left_id"], r["right_id"]): r["distance"] for r in out.collect()}
    assert got == {(1, 10): 1, (2, 11): 1, (2, 12): 0}


def test_fuzzy_join_distance_column_exact(spark):
    df = spark.createDataFrame(
        [Row(id=0, s="kitten"), Row(id=1, s="sitten"), Row(id=2, s="sittn")]
    )
    out = keys.fuzzy_self_join(df, "s", id_col="id", max_distance=2).collect()
    got = {(r["left_id"], r["right_id"]): r["distance"] for r in out}
    assert got == {(0, 1): 1, (1, 2): 1, (0, 2): 2}


def test_fuzzy_join_hot_bucket_guard(spark):
    df = spark.createDataFrame([Row(id=i, s="ab") for i in range(50)])
    # the guard is IN-PLAN (raise_error inside the join job — no extra
    # pre-count jobs), so it fires on execution, as a Spark runtime error
    with pytest.raises(Exception, match="max_bucket"):
        keys.fuzzy_self_join(
            df, "s", id_col="id", max_distance=1, max_bucket=10
        ).count()
    # under the (default 100k) bucket limit the exact quadratic answer
    # comes back intact
    n = keys.fuzzy_self_join(df, "s", id_col="id", max_distance=1).count()
    assert n == 50 * 49 // 2
    # and disabling the guard entirely also works
    n2 = keys.fuzzy_self_join(
        df, "s", id_col="id", max_distance=1, max_bucket=None
    ).count()
    assert n2 == n


def test_fuzzy_join_validates_distance(spark):
    df = spark.createDataFrame([Row(id=0, s="a")])
    with pytest.raises(ValueError, match="max_distance"):
        keys.fuzzy_join(df, df, "s", "s", max_distance=3)


def test_fuzzy_join_empty_strings(spark):
    df = spark.createDataFrame(
        [Row(id=0, s=""), Row(id=1, s="a"), Row(id=2, s="")]
    )
    got = {
        (r["left_id"], r["right_id"]): r["distance"]
        for r in keys.fuzzy_self_join(df, "s", id_col="id", max_distance=1).collect()
    }
    assert got == {(0, 1): 1, (0, 2): 0, (1, 2): 1}


# ---------------------------------------------------------------------------
# embedding_decontaminate
# ---------------------------------------------------------------------------


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
    )


@pytest.mark.parametrize("impl", ["arrow", "fold"])
def test_embedding_decontaminate_flags(spark, impl):
    ev = _vec_df(spark, [(100, [1.0, 0.0]), (101, [0.0, 1.0])])
    corpus = _vec_df(
        spark,
        [
            (0, [1.0, 0.01]),   # ~parallel to eval 100 -> contaminated
            (1, [1.0, 1.0]),    # cos 0.7071 to both -> clean at 0.95
            (2, [-1.0, 0.0]),   # anti-parallel -> clean
        ],
    )
    out = {
        r["vec_id"]: r
        for r in similarity.embedding_decontaminate(
            corpus, ev, threshold=0.95, assign_impl=impl
        ).collect()
    }
    assert out[0]["contaminated"] is True
    assert out[1]["contaminated"] is False
    assert out[1]["max_eval_cos"] == pytest.approx(0.707107)
    assert out[2]["contaminated"] is False
    assert out[2]["max_eval_cos"] == pytest.approx(0.0)


def test_embedding_decontaminate_impls_agree(spark):
    embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ev = embeddings.where(F.col("vec_id") % 25 == 0)
    corpus = embeddings.where(F.col("vec_id") % 25 != 0)
    a = similarity.embedding_decontaminate(corpus, ev, 0.9, assign_impl="arrow")
    f = similarity.embedding_decontaminate(corpus, ev, 0.9, assign_impl="fold")
    assert a.exceptAll(f).count() == 0 and f.exceptAll(a).count() == 0


def test_embedding_decontaminate_eval_ids_need_not_be_unique(spark):
    """Two eval vectors sharing an id both count on both paths."""
    ev = _vec_df(spark, [("e", [1.0, 0.0]), ("e", [0.0, 1.0])])
    corpus = _vec_df(spark, [("c1", [1.0, 0.0])])
    out = {
        impl: [tuple(r) for r in similarity.embedding_decontaminate(
            corpus, ev, threshold=0.95, assign_impl=impl).collect()]
        for impl in ("arrow", "fold")
    }
    assert out["arrow"] == out["fold"] == [("c1", 1.0, True)]


def test_embedding_decontaminate_cap_names_fold(spark, monkeypatch):
    monkeypatch.setattr(similarity, "MAX_CLOSURE_QUERIES", 1)
    ev = _vec_df(spark, [(100, [1.0, 0.0]), (101, [0.0, 1.0])])
    corpus = _vec_df(spark, [(0, [1.0, 0.0])])
    with pytest.raises(ValueError, match="assign_impl='fold'"):
        similarity.embedding_decontaminate(corpus, ev)


def test_lsh_topk_cap_names_n_probe(spark, monkeypatch):
    """Multi-probe with the default scorer collects the queries for their
    probe signatures; over the cap the remedy is n_probe, not a scorer."""
    monkeypatch.setattr(similarity, "MAX_CLOSURE_QUERIES", 1)
    qs = _vec_df(spark, [(100, [1.0, 0.0]), (101, [0.0, 1.0])])
    corpus = _vec_df(spark, [(0, [1.0, 0.0])])
    with pytest.raises(ValueError, match="n_probe=2 .*lower n_probe to 1") as err:
        similarity.lsh_topk(corpus, qs, n_planes=4, n_probe=2)
    assert "scorer" not in str(err.value)


def test_embedding_decontaminate_empty_eval_raises(spark):
    corpus = _vec_df(spark, [(0, [1.0, 0.0])])
    ev = corpus.where(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        similarity.embedding_decontaminate(corpus, ev)


@pytest.mark.parametrize("impl", ["arrow", "fold"])
def test_embedding_decontaminate_zero_norm_null_verdict(spark, impl):
    """Zero-norm vectors contribute no similarity on EITHER path: a
    zero corpus vector gets NULL max/verdict (no NaN false positive),
    and a zero eval vector is ignored in every row's max."""
    ev = _vec_df(spark, [(100, [0.0, 0.0]), (101, [0.0, 1.0])])
    corpus = _vec_df(spark, [(0, [0.0, 0.0]), (1, [0.0, 2.0])])
    out = {
        r["vec_id"]: r
        for r in similarity.embedding_decontaminate(
            corpus, ev, threshold=0.95, assign_impl=impl
        ).collect()
    }
    assert out[0]["max_eval_cos"] is None and out[0]["contaminated"] is None
    assert out[1]["max_eval_cos"] == pytest.approx(1.0)
    assert out[1]["contaminated"] is True


def test_embedding_decontaminate_empty_eval_raises_fold(spark):
    corpus = _vec_df(spark, [(0, [1.0, 0.0])])
    ev = corpus.where(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        similarity.embedding_decontaminate(corpus, ev, assign_impl="fold")


def test_distinctive_terms_df_is_unpruned(spark):
    """df must count ALL groups containing the token, even groups where
    it falls under min_tf — a token every group shares scores 0."""
    rows = [
        Row(source="a", text="shared shared alpha alpha"),
        Row(source="b", text="shared beta beta"),  # shared: tf=1 here
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["source"], r["token"]): r
        for r in text.distinctive_terms(df, top_k=5, min_tf=2).collect()
    }
    # shared survives min_tf only in a, but its df is 2 -> score 0
    assert got[("a", "shared")]["df"] == 2
    assert got[("a", "shared")]["score"] == 0.0
    assert ("b", "shared") not in got  # pruned by tf, not df
    assert got[("a", "alpha")]["rank"] == 1


def test_fuzzy_self_join_property_fuzz(spark):
    """Hypothesis-style fuzz (driven manually in one Spark session —
    per-example sessions would dominate): random corpora over tiny
    alphabets (worst case for deletion-variant collisions), unicode
    chars, empty strings, heavy duplicates; the blocked join must equal
    the naive O(n²) reference on every draw, for d in {1, 2}."""
    import random

    for seed in range(8):
        rng = random.Random(1000 + seed)
        alphabet = ["a", "b", "é", ""][seed % 3] or "ab"
        vals = []
        for _ in range(rng.randint(2, 40)):
            if rng.random() < 0.15:
                vals.append("")
            elif rng.random() < 0.2 and vals:
                vals.append(rng.choice(vals))  # exact duplicates
            else:
                vals.append(
                    "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
                )
        d = 1 + (seed % 2)
        df = spark.createDataFrame(
            [Row(id=i, s=v) for i, v in enumerate(vals)]
        )
        got = {
            (r["left_id"], r["right_id"], r["distance"])
            for r in keys.fuzzy_self_join(
                df, "s", id_col="id", max_distance=d, max_bucket=None
            ).collect()
        }
        want = {
            (i, j, _lev(a, b))
            for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2)
            if _lev(a, b) <= d
        }
        assert got == want, (seed, d, vals)
