"""Round-6 BM25 scoring kernel parity: `_score_sets` (int64 matmul Arrow
kernel with per-task partial top-k) must produce EXACTLY the same top-k as
`_score_sets_sql` (equi-join + BIGINT sum) once the shared window ranks the
candidates — and the full `bm25_topk` must be invariant to which path runs.
Pins the shapes where the implementations can diverge: zero-score
contributions (presence vs value), sets with no matching docs, terms absent
from the corpus, identical query term-sets (the set-dedup fan-out), and
ties broken on doc_id."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkdoc.retrieval import _QuerySets, _score_sets, _score_sets_sql, bm25_topk


@pytest.fixture(scope="module")
def spark():
    from sparkdoc.session import get_spark

    s = get_spark("test-retrieval-kernel", master="local[4]", shuffle_partitions=4)
    yield s


def _rank(df, k):
    w = Window.partitionBy("set_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id").asc()
    )
    # (set_id, rank) is unique per row; sorting on it never compares a
    # null doc_id with an int
    return sorted(
        map(
            tuple,
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("set_id", "doc_id", "rank", "score_e6")
            .collect(),
        ),
        key=lambda r: (r[0], r[2]),
    )


CPD = [
    # (term, doc_id, c_e6) — includes a zero contribution (doc 3 / "b":
    # the pair must still EXIST with its zero in the sum)
    ("a", 1, 100), ("b", 1, 50),
    ("a", 2, 100),              # tie with doc 1 on set {a} → doc_id breaks
    ("b", 3, 0),
    ("c", 4, 7),
    ("a", 5, -20),              # negative long is legal in the sum
]
SETS = [
    (10, "a"), (10, "b"),       # set 10 = {a, b}
    (20, "b"),                  # set 20 = {b} — catches doc 3's zero score
    (30, "zzz"),                # set 30's term missing from the corpus
    (40, "c"), (40, "zzz"),     # set 40 partially present
]


def test_kernel_matches_sql_on_hostile_fixture(spark):
    cpd = spark.createDataFrame(CPD, "term string, doc_id long, c_e6 long").repartition(
        "doc_id"
    )
    qs = _QuerySets(
        sorted({t for _, t in SETS}),
        list(SETS),
        [(s, s) for s in sorted({s for s, _ in SETS})],
        "bigint",
    )
    for k in (1, 2, 10):
        got = _rank(_score_sets(cpd, qs, k), k)
        want = _rank(_score_sets_sql(cpd, qs), k)
        assert got == want, f"k={k}"
    # semantic spot checks on the fixture itself
    full = dict(((s, d), c) for s, d, _, c in _rank(_score_sets(cpd, qs, 10), 10))
    assert full[(10, 1)] == 150 and full[(10, 3)] == 0
    assert (20, 3) in full and full[(20, 3)] == 0
    assert not any(s == 30 for s, _ in full)       # no shared term → no pair
    assert full[(40, 4)] == 7


def test_bm25_topk_invariant_to_kernel_path(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat cat cat dog"),
            (4, None),
            (5, ""),
            (6, "completely different words entirely"),
        ],
        "doc_id long, text string",
    ).repartition(3)
    # duplicate term-set probes (1 and 11 tokenize identically) exercise the
    # set-dedup fan-out
    q = spark.createDataFrame(
        [(1, "cat sat"), (11, "sat cat"), (2, "dog"), (3, "unseen zzz")],
        "query_id long, text string",
    )
    kernel_rows = sorted(map(tuple, bm25_topk(docs, q, k=3).collect()))
    # force the SQL path by making doc_id an int (non-bigint → fallback)
    docs_i = docs.select(F.col("doc_id").cast("int").alias("doc_id"), "text")
    sql_rows = sorted(
        (int(a), int(b), c, d)
        for a, b, c, d in bm25_topk(docs_i, q, k=3).collect()
    )
    assert kernel_rows == sql_rows
    # identical term-sets must rank identically
    r1 = [(d, r, s) for (qq, d, r, s) in kernel_rows if qq == 1]
    r11 = [(d, r, s) for (qq, d, r, s) in kernel_rows if qq == 11]
    assert r1 == r11 and len(r1) > 0


def test_kernel_matches_sql_with_null_doc_ids(spark):
    """A null doc_id is one doc key in the SQL path's groupBy(set_id,
    doc_id): the kernel must report it as null (never a made-up INT64_MIN
    id) and rank it the same way (doc_id ascending puts nulls first)."""
    rows = CPD + [("a", None, 100), ("b", None, 30), ("c", None, 7)]
    cpd = spark.createDataFrame(rows, "term string, doc_id long, c_e6 long").repartition(
        "doc_id"
    )
    qs = _QuerySets(
        sorted({t for _, t in SETS}),
        list(SETS),
        [(s, s) for s in sorted({s for s, _ in SETS})],
        "bigint",
    )
    for k in (1, 2, 10):
        got = _rank(_score_sets(cpd, qs, k), k)
        want = _rank(_score_sets_sql(cpd, qs), k)
        assert got == want, f"k={k}"
    full = {(s, d): c for s, d, _, c in _rank(_score_sets(cpd, qs, 10), 10)}
    assert full[(10, None)] == 130 and full[(20, None)] == 30
    # a tie with doc 4 on set 40: the null id ranks first, as in the window
    assert _rank(_score_sets(cpd, qs, 1), 1)[-1] == (40, None, 1, 7)
    assert all(d is None or d >= 0 for _, d in full)


def test_bm25_topk_null_doc_id_invariant_to_kernel_path(spark):
    docs = spark.createDataFrame(
        [(1, "cat sat"), (None, "cat cat sat"), (2, "dog"), (None, "dog dog")],
        "doc_id long, text string",
    ).repartition(2)
    q = spark.createDataFrame([(1, "cat sat"), (2, "dog")], "query_id long, text string")
    key = lambda r: (r[0], r[2])  # noqa: E731 — (query_id, rank) is unique
    kernel_rows = sorted(map(tuple, bm25_topk(docs, q, k=3).collect()), key=key)
    docs_i = docs.select(F.col("doc_id").cast("int").alias("doc_id"), "text")
    sql_rows = sorted(
        ((a, None if b is None else int(b), c, d)
         for a, b, c, d in bm25_topk(docs_i, q, k=3).collect()),
        key=key,
    )
    assert kernel_rows == sql_rows
    assert any(d is None for _, d, _, _ in kernel_rows)
