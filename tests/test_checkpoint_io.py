"""Checkpoint/resume + exporter tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_run_resumable_and_resume(spark, tmp_path):
    from sparkdoc.checkpoint import completed_buckets, run_resumable
    from sparkdoc.synth import raw_nodes_df

    from sparkdoc.golden import extract_corpus_golden
    from sparkdoc.synth import synth_corpus

    n_expected = len(extract_corpus_golden(synth_corpus(24, 5)))

    out = str(tmp_path / "out")
    raw = raw_nodes_df(spark, 24, 5, partitions=4)
    s1 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert sorted(s1["buckets_processed"]) == [0, 1, 2, 3]
    assert s1["docs"] == n_expected
    assert s1["spans"] > 0 and s1["chunks"] > 0
    assert completed_buckets(spark, out) == {0, 1, 2, 3}
    # all docs present exactly once
    docs = spark.read.parquet(os.path.join(out, "documents"))
    assert docs.select("doc_id").distinct().count() == n_expected
    assert docs.count() == n_expected
    # resume: nothing left to do
    s2 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert s2["buckets_processed"] == []
    assert sorted(s2["buckets_skipped"]) == [0, 1, 2, 3]
    # partial kill simulation: drop manifest rows → those buckets recompute
    man = os.path.join(out, "_manifest")
    files = sorted(os.listdir(man))
    assert files
    # wipe the whole manifest, keep data: job must redo all buckets idempotently
    for f in files:
        os.remove(os.path.join(man, f))
    s3 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert sorted(s3["buckets_processed"]) == [0, 1, 2, 3]
    docs2 = spark.read.parquet(os.path.join(out, "documents"))
    assert docs2.count() == n_expected  # dynamic partition overwrite → no duplicates


@pytest.fixture(scope="module")
def small_graph(spark):
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("P_1", "d1", "Person", "Ada", {"name": "Ada"}, '{"k":"v"}'),
            ("C_1", "d1", "Company", "ACME's \"Inc\"", {"name": "ACME"}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame([("P_1", "C_1", "works at", {"since": "2020"})], EDGES)
    return nodes, edges


def test_export_csv_and_json_roundtrip(spark, small_graph, tmp_path):
    from sparkdoc.io import export_csv, export_json, graph_to_dict, load_graph_from_json

    nodes, edges = small_graph
    out = str(tmp_path / "g")
    export_csv(nodes, edges, out)
    n = spark.read.option("header", True).option("escape", '"').csv(f"{out}/nodes.csv")
    assert n.count() == 2
    assert set(n.columns) == {"id:ID", ":LABEL", "label", "attrs", "provenance"}
    export_json(nodes, edges, out)
    n2, e2 = load_graph_from_json(spark, out)
    assert n2.count() == 2 and e2.count() == 1
    d = graph_to_dict(nodes, edges)
    assert d["metadata"] == {"node_count": 2, "edge_count": 1}
    json.dumps(d)  # serializable


def test_json_roundtrip_all_null_provenance_and_no_edges(spark, tmp_path):
    """Every pipeline-produced node has provenance=NULL (entities_to_nodes),
    and the JSON writer drops null fields — the loader must read with the
    explicit schema (null-filled provenance, attrs as a MAP), not inference,
    and an edgeless graph must load instead of failing to resolve columns."""
    from pyspark.sql import functions as F

    from sparkdoc.io import export_json, load_graph_from_json
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("P_1", "d1", "Person", "Ada", {"name": "Ada"}, None),
            ("C_1", "d1", "Company", "ACME", {"hq": "Berlin"}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame([], EDGES)
    out = str(tmp_path / "gnull")
    export_json(nodes, edges, out)
    n2, e2 = load_graph_from_json(spark, out)
    rows = {r["node_id"]: r for r in n2.collect()}
    assert rows["P_1"]["provenance"] is None
    assert rows["P_1"]["attrs"] == {"name": "Ada"}  # map, not inferred struct
    assert rows["C_1"]["attrs"] == {"hq": "Berlin"}
    # attrs stays usable as a MAP downstream
    assert n2.select(F.map_keys("attrs")).count() == 2
    assert e2.count() == 0 and set(e2.columns) == {"src", "dst", "label", "props"}


def test_run_resumable_refuses_changed_params(spark, tmp_path):
    """completed_buckets keys on bucket number; resuming with different
    n_buckets (renumbered) or chunk flag (missing chunk outputs) must be a
    hard error, not silent data loss."""
    import pytest

    from sparkdoc.checkpoint import run_resumable
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "resume_guard")
    raw = raw_nodes_df(spark, 60, 42, partitions=2)
    run_resumable(spark, raw, out, n_buckets=4, group_size=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, raw, out, n_buckets=8, group_size=4)
    with pytest.raises(ValueError, match="chunk"):
        run_resumable(spark, raw, out, n_buckets=4, group_size=4, chunk=False)
    # unchanged params still resume cleanly
    r = run_resumable(spark, raw, out, n_buckets=4, group_size=4)
    assert r["buckets_processed"] == []


def test_export_cypher(spark, small_graph, tmp_path):
    from sparkdoc.io import export_cypher

    nodes, edges = small_graph
    out = str(tmp_path / "cy")
    export_cypher(nodes, edges, out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    text = "\n".join(lines)
    assert "CREATE CONSTRAINT IF NOT EXISTS FOR (n:`Person`)" in text
    # MERGE keys on {id} alone, then SETs label + attrs (idempotent refresh)
    assert "MERGE (n:`Person` {id: 'P_1'}) SET n.label = 'Ada', n.`name` = 'Ada';" in text
    # relationship type backticked (not sanitized-to-underscore) + props map
    assert "[:`WORKS AT` {`since`: '2020'}]" in text
    assert "ACME\\'s" in text  # quote escaping
    # edge MATCHes carry endpoint labels so the per-label uniqueness index
    # serves the import (unlabeled property MATCH = AllNodesScan per edge)
    assert "MATCH (a:`Person` {id: " in text


def test_export_cypher_hostile_labels_and_duplicates(spark, tmp_path):
    """Empty / digit-leading edge labels stay valid Cypher; per-doc node
    duplicates collapse to ONE deterministic statement (duplicate MERGEs
    with differing attrs would CREATE a second node)."""
    from sparkdoc.io import export_cypher
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("N1", "d1", "T", "n1", {"a": "from-d1"}, None),
            ("N1", "d2", "T", "n1", {"a": "from-d2"}, None),  # per-doc duplicate
            ("N2", "d1", "T", "n2", {}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame(
        [("N1", "N2", "", None), ("N2", "N1", "2nd_ref", {"w": "3"})], EDGES
    )
    out = str(tmp_path / "cy2")
    export_cypher(nodes, edges, out)
    text = "\n".join(r["value"] for r in spark.read.text(out).collect())
    assert text.count("MERGE (n:`T` {id: 'N1'})") == 1  # deduped
    assert "from-d1" in text and "from-d2" not in text  # smallest doc_id wins
    assert "[:`REL`]" in text  # empty label fallback, still valid Cypher
    assert "[:`2ND_REF` {`w`: '3'}]" in text  # digit-leading label valid


def test_bucketed_write_joins_without_shuffle(spark):
    """The Iceberg-distribution-mode claim, demonstrated: two tables bucketed
    by doc_id (same bucket count) join with NO Exchange in the plan."""
    from pyspark.sql import functions as F

    from sparkdoc.io import write_bucketed_table

    docs = spark.range(0, 500).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"), F.col("id").alias("x")
    )
    chunks = spark.range(0, 2000).select(
        F.concat(F.lit("d"), (F.col("id") % 500)).alias("doc_id"), F.col("id").alias("c")
    )
    write_bucketed_table(docs, "t_docs_b", buckets=8)
    write_bucketed_table(chunks, "t_chunks_b", buckets=8)
    a = spark.table("t_docs_b")
    b = spark.table("t_chunks_b")
    # force the non-broadcast strategy (tiny test tables would broadcast):
    # bucketing must make the SortMergeJoin shuffle-free on BOTH sides
    joined = a.hint("merge").join(b, "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert joined.count() == 2000
    # and a doc_id aggregation over a bucketed table needs no shuffle either
    agg = b.groupBy("doc_id").agg(F.count("*").alias("n"))
    aplan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in aplan, aplan
    assert agg.count() == 500


def test_run_resumable_zero_chunk_group(spark, tmp_path):
    """A bucket group yielding ZERO chunks (fewer docs than buckets) must not
    crash the chunk-count read-back on a footer-less parquet dir."""
    from sparkdoc.checkpoint import run_resumable
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "tiny")
    r = run_resumable(spark, raw_nodes_df(spark, 3, 42, partitions=1), out,
                      n_buckets=16, group_size=4)
    assert len(r["buckets_processed"]) == 16
    assert r["docs"] >= 1


def test_driver_artifact_io_scheme_aware(spark, tmp_path):
    """write_text_file/read_text_file/fs_is_dir go through the Hadoop FS API
    (same storage as the data: hdfs/s3a on a cluster, file:// here) — parents
    auto-created, overwrite semantics, UTF-8 faithful, None on absence."""
    from sparkdoc.io import fs_exists, fs_is_dir, read_text_file, write_text_file

    path = str(tmp_path / "nested" / "dir" / "manifest.json")
    assert read_text_file(spark, path) is None
    assert not fs_exists(spark, path)

    body = '{"template_schema_hash": "abc123", "note": "naïve — ünïcødé"}'
    write_text_file(spark, path, body)  # parents created by Hadoop create()
    assert read_text_file(spark, path) == body
    assert fs_exists(spark, path)
    assert not fs_is_dir(spark, path)  # a file is not a dir
    assert fs_is_dir(spark, str(tmp_path / "nested"))
    assert not fs_is_dir(spark, str(tmp_path / "absent"))

    write_text_file(spark, path, "v2")  # overwrite, not append
    assert read_text_file(spark, path) == "v2"

    # explicit file:// scheme resolves identically
    assert read_text_file(spark, f"file://{path}") == "v2"

    # artifacts are human/tool-editable: an EXTERNAL edit (plain open(),
    # which knows nothing of Hadoop's .crc sidecars) must not poison later
    # reads with ChecksumException — the helpers bypass the checksum layer
    with open(path, "w", encoding="utf-8") as f:
        f.write("edited outside the engine")
    assert read_text_file(spark, path) == "edited outside the engine"


def test_corrupt_run_params_refuses_resume(spark, tmp_path):
    """An EXISTING-but-unreadable _run_params must raise, not silently
    disable the partitioning-params guard and get overwritten."""
    import os

    import pytest

    from sparkdoc.checkpoint import _check_or_record_params, _params_path

    out = str(tmp_path / "run")
    _check_or_record_params(spark, out, n_buckets=8, chunk=True)
    # matching params resume fine
    _check_or_record_params(spark, out, n_buckets=8, chunk=True)
    with pytest.raises(ValueError, match="differ"):
        _check_or_record_params(spark, out, n_buckets=16, chunk=True)
    # corrupt the params file → hard refusal, never overwrite
    pdir = _params_path(out)
    for f in os.listdir(pdir):
        if f.endswith(".json"):
            with open(os.path.join(pdir, f), "w") as fh:
                fh.write("{ not json")
    with pytest.raises(Exception, match="unreadable|corrupt|_corrupt"):
        _check_or_record_params(spark, out, n_buckets=8, chunk=True)


# --- the driver-side commit log ------------------------------------------------

_LOG_ROWS = [
    {"bucket": 0, "n_docs": 3, "n_spans": 17, "n_chunks": 4, "wall_ms": 120,
     "commit_seq": 0, "fmt_counts": ""},
    {"bucket": 1, "n_docs": 0, "n_spans": 0, "n_chunks": 0, "wall_ms": 120,
     "commit_seq": 0, "fmt_counts": '{"html": 2, "pdf": 1}'},
]


def _listing(path):
    return {
        os.path.join(root, f): (os.path.getsize(os.path.join(root, f)),
                                os.stat(os.path.join(root, f)).st_mtime_ns)
        for root, _d, files in os.walk(path) for f in files
    }


def test_commit_log_starts_no_spark_job(spark, tmp_path):
    """Manifest append, params record/check and the resume read are
    driver-side FileSystem calls: none of them starts a Spark job."""
    import time
    import uuid

    from sparkdoc.checkpoint import (
        _check_or_record_params,
        commit_bucket_group,
        completed_buckets,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, sentinel = (f"commit-log-{uuid.uuid4().hex}" for _ in range(2))
    out = str(tmp_path / "log")
    try:
        sc.setJobGroup(group, "commit log")
        _check_or_record_params(spark, out, n_buckets=4, chunk=True)  # record
        _check_or_record_params(spark, out, n_buckets=4, chunk=True)  # check
        assert completed_buckets(spark, out) == set()
        commit_bucket_group(spark, out, "job-a", _LOG_ROWS)
        assert completed_buckets(spark, out) == {0, 1}
        # job events reach the status tracker asynchronously but in order:
        # once a later job under another group is visible, any job the
        # calls above started would be too
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(3).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(sentinel)
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_spark_written_commit_log_still_resumes(spark, tmp_path):
    """An output dir whose manifest and run params were written by Spark
    (part files with .crc sidecars and _SUCCESS, a JSON part-*.json) resumes:
    every bucket skipped, no file changed, changed params still refused."""
    import shutil

    from sparkdoc.checkpoint import _params_path, manifest_path, run_resumable
    from sparkdoc.schemas import METRICS
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "spark_log")
    raw = raw_nodes_df(spark, 24, 5, partitions=2)
    run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    man, pdir = manifest_path(out), _params_path(out)
    rows = spark.read.schema(METRICS).parquet(man).collect()
    assert len(rows) == 4
    shutil.rmtree(man)
    shutil.rmtree(pdir)
    spark.createDataFrame(rows, METRICS).coalesce(1).write.parquet(man)
    spark.createDataFrame([(4, True)], "n_buckets int, chunk boolean").coalesce(1).write.json(pdir)
    assert any(f.endswith(".parquet.crc") for f in os.listdir(man))
    assert any(f.startswith("part-") and f.endswith(".json") for f in os.listdir(pdir))
    assert "_SUCCESS" in os.listdir(pdir)

    before = _listing(out)
    r = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert r["buckets_processed"] == [] and sorted(r["buckets_skipped"]) == [0, 1, 2, 3]
    assert _listing(out) == before
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, raw, out, n_buckets=8, group_size=2)
    assert _listing(out) == before


def test_driver_written_manifest_reads_back_through_spark(spark, tmp_path):
    """A driver-written manifest file is plain parquet: it reads back equal
    through the explicit-schema and the schema-less Spark reads, and it is
    no larger than the file Spark writes for the same rows."""
    from sparkdoc.checkpoint import commit_bucket_group, manifest_path
    from sparkdoc.schemas import METRICS

    out = str(tmp_path / "readback")
    commit_bucket_group(spark, out, "job-c", _LOG_ROWS)
    man = manifest_path(out)
    files = os.listdir(man)
    assert len(files) == 1 and files[0].endswith(".parquet")  # no sidecar, no temp

    names = [f.name for f in METRICS]
    want = sorted(tuple({"job_id": "job-c", **r}[n] for n in names) for r in _LOG_ROWS)
    for df in (spark.read.schema(METRICS).parquet(man), spark.read.parquet(man)):
        assert [(f.name, f.dataType) for f in df.schema] == [(f.name, f.dataType) for f in METRICS]
        assert sorted(map(tuple, df.collect())) == want

    ref = str(tmp_path / "spark_written")
    spark.createDataFrame([tuple(w) for w in want], METRICS).coalesce(1).write.parquet(ref)
    (spark_part,) = [f for f in os.listdir(ref) if f.endswith(".parquet")]
    assert os.path.getsize(os.path.join(man, files[0])) <= os.path.getsize(os.path.join(ref, spark_part))


class _RefusingRename:
    """A Hadoop FileSystem whose rename reports failure the Hadoop way: by
    returning false."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        return False


def test_refused_rename_raises_and_commits_nothing(spark, tmp_path, monkeypatch):
    """A rename that returns false must raise IOError — for the manifest and
    for the run params — and leave no file in the target dir (the temp file
    lives outside it and is removed)."""
    from sparkdoc import checkpoint

    real = checkpoint._hadoop_fs

    def refusing(spark_, path_str):
        fs, p = real(spark_, path_str)
        return _RefusingRename(fs), p

    monkeypatch.setattr(checkpoint, "_hadoop_fs", refusing)
    out = str(tmp_path / "refused")
    with pytest.raises(IOError, match="returned false"):
        checkpoint.commit_bucket_group(spark, out, "job-d", _LOG_ROWS)
    with pytest.raises(IOError, match="returned false"):
        checkpoint._check_or_record_params(spark, out, n_buckets=4, chunk=True)
    assert _listing(out) == {}  # nothing under _manifest/ or _run_params/, no temp
    monkeypatch.undo()
    assert checkpoint.completed_buckets(spark, out) == set()


def test_single_group_wall_ms_within_call(spark, tmp_path):
    """A group's manifest wall_ms counts its parse once: for a single-group
    run (no prefetch pool) it cannot exceed the call's own wall time."""
    import time

    from sparkdoc.checkpoint import manifest_path, run_resumable
    from sparkdoc.schemas import METRICS
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "wall")
    raw = raw_nodes_df(spark, 40, 3, partitions=2)
    t0 = time.monotonic()
    run_resumable(spark, raw, out, n_buckets=4, group_size=4)
    call_ms = (time.monotonic() - t0) * 1000
    walls = {r["wall_ms"] for r in spark.read.schema(METRICS).parquet(manifest_path(out)).collect()}
    assert len(walls) == 1
    assert 0 < walls.pop() <= call_ms
