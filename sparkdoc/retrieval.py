"""BM25 full-text retrieval over the documents table.

The missing "search" capability for a curation pipeline: query-based data
selection (pull the top-k corpus documents for each probe query), built the
way a 100 TB deployment would:

- ``bm25_postings`` is the INDEX: one explode + one (doc, term) groupBy
  (map-side combined) per corpus pass, producing (term, doc_id, tf, dl).
  At scale you compute it once and WRITE it bucketed by term — query time
  then touches only the probed terms' buckets.
- ``bm25_topk`` is the QUERY: the query-term table is tiny and broadcast;
  scoring is a broadcast hash join + one aggregation, never a corpus
  shuffle.

Determinism contract: the per-(query, doc, term) BM25 contribution is
quantized to integer micro-units (round(1e6 · idf · tf_part) AS BIGINT) and
summed as BIGINT — addition order can't change the score, so ranks are
bit-identical in any engine/partitioning (same trick as cluster.py /
classifier.py). idf = ln(1 + (N - df + ½)/(df + ½)) (Robertson-Spärck
Jones, the Lucene variant); tf_part = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).

Tokenization is textops.words (one shared definition with the language-ID /
TF-IDF twins); duplicate query terms count once.

No counterpart in the reference repo; LLM-data-pipeline addition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkdoc.textops import word_count, words

#: micro-unit scale for the integer score quantization
E6 = 1e6

#: nano-unit scale for the RRF integer quantization
E9 = 1e9


def bm25_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc_id, tf, dl): the inverted-index postings table. dl is the
    word count of the document (the same words() the terms come from). One
    shuffle on (doc_id, term) with map-side combine; write this bucketed by
    term at corpus scale."""
    w = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("_w")
    ).withColumn("dl", F.size("_w"))
    return (
        w.select("doc_id", "dl", F.explode("_w").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    postings: DataFrame | None = None,
    max_df_frac: float | None = None,
    n_docs: int | None = None,
    sum_dl: int | None = None,
) -> DataFrame:
    """Top-k corpus documents per query by BM25, as (query_id, doc_id, rank,
    score_e6). score_e6 is the BIGINT micro-unit sum (divide by 1e6 for the
    conventional score). Ties break on ascending doc_id.

    Plan shape: postings (corpus-side, precomputable) ⨝ broadcast(query
    terms) on term → integer-sum per (query, doc) → window top-k. The
    corpus statistics (N, avgdl) are single scalar aggregates; at 100 TB
    they come from the index manifest, not a fresh scan.

    Pass ``postings`` (a persisted or bucketed-table read of
    ``bm25_postings``) to score against a prebuilt index — the postings
    branch feeds both the score join and the df aggregate, so without it
    each ``bm25_topk`` call recomputes the explode+groupBy twice. Building
    once and sharing is the production shape (multiple scoring variants /
    query batches against one index).

    ``max_df_frac`` prunes query terms whose document frequency exceeds
    that fraction of the corpus BEFORE the postings join — classic
    common-term (stopword) pruning. A term at df = 0.5·N contributes
    idf = ln(1 + 1/3·…) ≈ 0.6 nats spread over half the corpus: nearly
    rank-neutral, but it drags df·|queries| rows through the score join.
    Default None keeps exact BM25 (the oracle-gated semantics); the pruned
    variant is the production knob for high-volume query batches."""
    if (n_docs is None) != (sum_dl is None):
        raise ValueError("bm25_topk: pass n_docs and sum_dl together (manifest stats)")
    if n_docs is not None:
        # manifest literals: with a prebuilt postings frame this skips the
        # ONLY remaining full-corpus pass (re-tokenizing every doc for two
        # scalars) — at 100 TB these numbers come from the index manifest
        stats = docs.sparkSession.range(1).select(
            F.lit(int(n_docs)).alias("n_docs"), F.lit(int(sum_dl)).alias("sum_dl")
        )
    else:
        # word_count, not size(words()): size(NULL) is -1/NULL by ANSI mode
        # and silently poisons n_docs/sum_dl/avgdl for NULL-text docs
        doclen = docs.select(
            F.col(id_col).alias("doc_id"), word_count(F.col(text_col)).alias("dl")
        )
        stats = doclen.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.array_distinct(words(F.col(query_text_col)))).alias("term"),
        )
    )
    # ---- probed-postings stream, built doc_id-clustered (one exchange) ----
    # Only the PROBED terms' postings ever matter (scores sum query∩doc
    # terms; df is only read for query terms), so the corpus token stream is
    # semi-joined against the distinct query terms BEFORE any aggregation —
    # non-probed vocabulary never reaches a shuffle. The corpus is
    # repartitioned by doc_id FIRST, carrying (doc_id, word-array) — one
    # exchange of roughly the corpus text, which (a) parallelizes the
    # explode/aggregate work even when a compact parquet input scans as a
    # single partition, and (b) doc_id-clusters every downstream
    # aggregation: tf per (doc, term), and the per-(query, doc) score sum,
    # both group on doc_id-superset keys, so HashPartitioning(doc_id)
    # satisfies their clustered distributions and NEITHER inserts an
    # exchange. Without this the broadcast score join emits |query terms| ×
    # df rows hash-scattered by (term, doc_id) and the score groupBy
    # shuffles them UNCOLLAPSED (~q·t·df rows — the measured scale-killer:
    # 155M rows at 500 queries × 50k docs). The dfreq and stats branches
    # read the SAME exchange (ReuseExchange), so the corpus is scanned and
    # tokenized exactly once.
    # the query side is collected ONCE (queries are small by contract —
    # the old plan already required them broadcast-small) and re-enters the
    # main plan as literal frames: probed terms, the per-set term table and
    # the set→query fan-out cost zero extra executions of the query
    # subtree, where the lazy formulation re-ran its scan for every
    # broadcast branch (3-4 extra jobs of pure fixed latency per call)
    qs = _query_sets_collected(qterms)
    probed = _literal_terms_df(docs.sparkSession, qs)
    if postings is None:
        # tokenize AFTER the exchange: a compact single-file corpus scans as
        # ONE partition, and words() before the shuffle would run serially
        # on that one task (measured: 0.9 s of the wall at 50k docs); the
        # exchange carries the raw text once, every consumer tokenizes its
        # own doc_id-partitioned slice in parallel
        w = (
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
            .repartition("doc_id")
            .select("doc_id", words(F.col("_t")).alias("_w"))
        )
        tok = (
            w.select("doc_id", F.size("_w").alias("dl"), F.explode("_w").alias("term"))
            .join(F.broadcast(probed), "term", "semi")
        )
        # the trailing repartition is a REUSE POINT, not a distribution
        # change: the tf aggregate is consumed by BOTH the contribution
        # branch and the dfreq branch, and without an exchange boundary on
        # it each branch re-runs the explode/semi/aggregate (measured ~0.9 s
        # per extra branch at 50k docs). The exchange carries the compact
        # probed postings (≪ corpus) and keeps doc_id clustering
        pp = (
            tok.groupBy("term", "doc_id", "dl")
            .agg(F.count("*").alias("tf"))
            .repartition("doc_id")
        )
        if n_docs is None:
            # same values as the word_count scan (count(*) keeps null-text
            # rows; sum skips their NULL size, which word_count counted as
            # 0), but computed ABOVE the shared exchange — no second scan
            stats = w.agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.sum(F.size("_w")), F.lit(0)).alias("sum_dl"),
            )
    else:
        # prebuilt index: prune to probed terms, then doc-cluster (the index
        # is term-bucketed on disk — correct for IO pruning, wrong for the
        # score aggregation's partial collapse)
        pp = (
            postings.join(F.broadcast(probed), "term", "semi")
            .repartition("doc_id")
        )
    # df over the probed-pruned postings is identical to df over the full
    # postings for every term that can reach the output (the qterms join
    # drops the rest); (term, doc_id) is unique by the bm25_postings
    # contract, so count(*) == countDistinct(doc_id)
    dfreq = pp.groupBy("term").agg(F.count("*").alias("df_docs"))
    tstats = dfreq.crossJoin(F.broadcast(stats))
    if max_df_frac is not None:
        # the prune predicate is query-independent — applying it to the
        # per-term frame is the same filter the old query-side carried
        tstats = tstats.filter(
            F.col("df_docs") <= F.lit(float(max_df_frac)) * F.col("n_docs")
        )
    return _bm25_contrib_score_topk(pp, tstats, qs, k1, b, k)


def _bm25_contrib_score_topk(
    pp: DataFrame, tstats: DataFrame, qs: "_QuerySets", k1: float, b: float, k: int
) -> DataFrame:
    """THE definition of the integer micro-unit BM25 scoring tail — shared
    by :func:`bm25_topk` and :func:`bm25_query_index`, whose bit-identical
    contract hangs on there being exactly one copy of this math.

    ``pp`` carries the probed-term postings (term, doc_id, tf, dl),
    doc_id-clustered; ``tstats`` the per-term statistics (term, df_docs,
    n_docs, sum_dl), already max_df-pruned; ``qs`` the collected query
    side (:func:`_query_sets_collected`).

    Round-6 shape, same numbers as the original per-(query, doc, term)
    formulation (pinned by the DuckDB oracles and the golden tests):

    * idf and avgdl are functions of the TERM and corpus stats alone, so
      they are evaluated once per term (a |probed terms|-row frame), not
      once per joined row — the old plan paid a transcendental log() on
      every (query, doc, term) row (~q·t·df rows).
    * the (term, doc) contribution round(1e6·idf·tf_part) is likewise
      query-independent: computed once per posting row, the query join
      then only SUMS ready-made BIGINTs. Addition order can't change a
      BIGINT sum, so scores and ranks are bit-identical.
    * queries with the SAME term set necessarily share scores and ranking
      — score once per distinct set, fan the top-k back out to the set's
      queries with a broadcast join. Probe batches are routinely repetitive
      (lead-of-document probes, templated queries); when all sets are
      distinct the dedup costs two tiny query-side aggregates.
    * both aggregations group on supersets of pp's doc_id partitioning, so
      neither pays an exchange; the per-set window is WindowGroupLimit-
      pruned before its (tiny) shuffle. Ties break on ascending doc_id.
    """
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + F.lit(0.5)) / (F.col("df_docs") + F.lit(0.5))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    tside = tstats.select("term", idf.alias("_idf"), avgdl.alias("_avgdl"))
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
    )
    contrib = F.round(F.lit(E6) * F.col("_idf") * tf_part).cast("long")
    cpd = pp.join(F.broadcast(tside), "term").select(
        "term", "doc_id", contrib.alias("c_e6")
    )
    spark = pp.sparkSession
    fan = spark.createDataFrame(
        qs.fan_pairs, f"query_id {qs.qid_type}, set_id {qs.qid_type}"
    )
    agg = _score_sets(cpd, qs, k)
    w = Window.partitionBy("set_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id").asc()
    )
    top = (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return top.join(F.broadcast(fan), "set_id").select(
        "query_id", "doc_id", "rank", "score_e6"
    )


def _score_sets(cpd: DataFrame, qs: _QuerySets, k: int) -> DataFrame:
    """(set_id, doc_id, score_e6) candidates for the per-set top-k window:
    Σ c_e6 over set ∩ doc terms, for (set, doc) pairs sharing ≥ 1 term.

    Default path: an Arrow kernel. Each task accumulates its docs'
    (doc × term) contribution matrix and multiplies it by the broadcast
    (term × set) membership matrix as ONE int64 matmul — integer matrix
    products are exact and addition-order-independent, so every emitted
    score is bit-identical to the equi-join + BIGINT-SUM formulation
    (`_score_sets_sql`, kept as the fallback for non-bigint id types and as
    the semantic reference the kernel is parity-pinned against). The task
    emits only its own top-k per set under the window's exact comparator
    (score DESC, doc_id ASC — pure int compares), a superset-safe partial
    limit the final window re-ranks, so the q·|docs| candidate explosion
    never leaves the task. Two semantic guards: a (set, doc) pair with NO
    shared term must not appear (the join emits nothing for it) — presence
    is tracked separately from the summed contribution, so a legitimate
    all-zero score (every contribution rounding to 0) still surfaces while
    a non-pair never does; and cpd MUST be doc_id-clustered (it is — pp's
    repartition) so one task sees every posting of its docs.

    The set/term tables arrive pre-collected (queries are small by
    contract); the corpus-sized cpd stream stays distributed."""
    from pyspark.sql.types import LongType

    dtypes = {f.name: f.dataType for f in cpd.schema.fields}
    st_rows = qs.set_pairs
    if (
        not isinstance(dtypes.get("doc_id"), LongType)
        or qs.qid_type != "bigint"
        or not st_rows
    ):
        return _score_sets_sql(cpd, qs)
    terms = qs.terms
    tmap = {t: i for i, t in enumerate(terms)}
    set_ids = sorted({s for s, _ in st_rows})
    smap = {s: i for i, s in enumerate(set_ids)}
    if len(terms) * len(set_ids) > 50_000_000:
        # membership matrix would not be broadcast-small — out of the
        # query-batch contract; the join path degrades gracefully
        return _score_sets_sql(cpd, qs)
    import numpy as np

    member = np.zeros((len(terms), len(set_ids)), dtype=np.int64)
    for s, t in st_rows:
        member[tmap[t], smap[s]] = 1
    set_id_np = np.asarray(set_ids, dtype=np.int64)
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        term_arr = pa.array(terms, type=pa.string())
        ids_parts, valid_parts, tidx_parts, c_parts = [], [], [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tidx = pc.index_in(batch.column(0), value_set=term_arr)
            # fill null ids BEFORE to_numpy (a null forces a float64 array
            # that astype turns into INT64_MIN, a made-up doc id); the valid
            # mask keeps them apart, as similarity._corpus_rows does
            ids = batch.column(1)
            valid_parts.append(np.asarray(ids.is_valid()))
            ids_parts.append(
                ids.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            tidx_parts.append(tidx.to_numpy(zero_copy_only=False))
            c_parts.append(
                batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            )
        out_s = np.empty(0, dtype=np.int64)
        out_d = np.empty(0, dtype=np.int64)
        out_c = np.empty(0, dtype=np.int64)
        out_null = np.empty(0, dtype=bool)
        if ids_parts:
            ids = np.concatenate(ids_parts)
            valid = np.concatenate(valid_parts)
            tidx = np.concatenate(tidx_parts)
            c = np.concatenate(c_parts)
            # terms outside the probed set cannot occur (cpd is built from
            # the probed postings), but a null index would poison the
            # scatter — drop defensively (index_in nulls surface as NaN)
            ok = ~np.isnan(tidx.astype(np.float64))
            ids, valid, tidx, c = ids[ok], valid[ok], tidx[ok].astype(np.int64), c[ok]
            # null ids are ONE doc key, as in the SQL path's groupBy(set_id,
            # doc_id); it takes row 0, so row order IS the window's doc
            # order (ascending, NULLS FIRST)
            has_null = int(not valid.all())
            docs_u, inv = np.unique(ids[valid], return_inverse=True)
            rows = np.zeros(len(ids), dtype=np.int64)
            rows[valid] = inv + has_null
            docs_u = np.r_[np.zeros(has_null, dtype=np.int64), docs_u]
            doc_null = np.arange(len(docs_u)) < has_null
            C = np.zeros((len(docs_u), len(terms)), dtype=np.int64)
            P = np.zeros((len(docs_u), len(terms)), dtype=np.int64)
            np.add.at(C, (rows, tidx), c)
            P[rows, tidx] = 1
            S = C @ member          # int64: exact, order-independent
            overlap = P @ member    # pairs sharing >= 1 term
            di, si = np.nonzero(overlap)
            if len(di):
                # per-set partial top-k, exact window comparator: group by
                # set, then score desc, then doc asc (all int64 compares)
                order = np.lexsort((di, -S[di, si], si))
                si_o, di_o = si[order], di[order]
                starts = np.flatnonzero(
                    np.r_[True, si_o[1:] != si_o[:-1]]
                )
                ranks = np.arange(len(si_o)) - np.repeat(
                    starts, np.diff(np.r_[starts, len(si_o)])
                )
                keep = ranks < kk
                out_s = set_id_np[si_o[keep]]
                out_d = docs_u[di_o[keep]]
                out_null = doc_null[di_o[keep]]
                out_c = S[di_o[keep], si_o[keep]]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_s, type=pa.int64()),
                pa.array(out_d, type=pa.int64(), mask=out_null),
                pa.array(out_c, type=pa.int64()),
            ],
            names=["set_id", "doc_id", "score_e6"],
        )

    return cpd.select("term", "doc_id", "c_e6").mapInArrow(
        kernel, "set_id long, doc_id long, score_e6 long"
    )


def _score_sets_sql(cpd: DataFrame, qs: _QuerySets) -> DataFrame:
    """The equi-join + BIGINT-sum formulation — the semantic reference for
    `_score_sets` and the path for non-bigint id types."""
    set_terms = cpd.sparkSession.createDataFrame(
        qs.set_pairs, f"set_id {qs.qid_type}, term string"
    )
    return (
        cpd.join(F.broadcast(set_terms), "term")
        .groupBy("set_id", "doc_id")
        .agg(F.sum("c_e6").alias("score_e6"))
    )


class _QuerySets:
    """The collected query side of one BM25 batch: distinct term-SETS
    (queries with identical term sets share one set_id — the smallest
    member's query_id — so scoring runs once per set), the probed-term
    vocabulary, and the set→query fan-out. Queries are small by contract
    (the old plan already required them broadcast-small; bm25_query_index
    collects them for bucket enumeration the same way), so ONE driver
    collect replaces what the lazy formulation re-executed once per
    broadcast branch."""

    __slots__ = ("terms", "set_pairs", "fan_pairs", "qid_type")

    def __init__(self, terms, set_pairs, fan_pairs, qid_type):
        self.terms = terms            # sorted distinct probed terms
        self.set_pairs = set_pairs    # [(set_id, term)]
        self.fan_pairs = fan_pairs    # [(query_id, set_id)]
        self.qid_type = qid_type      # simpleString of the query-id type


def _query_sets_collected(qterms: DataFrame) -> _QuerySets:
    qid_type = dict(qterms.dtypes)["query_id"]
    setrep = (
        qterms.groupBy("query_id")
        .agg(F.sort_array(F.collect_set("term")).alias("_ts"))
        .groupBy("_ts")
        .agg(
            F.min("query_id").alias("set_id"),
            F.collect_list("query_id").alias("_qids"),
        )
    )
    rows = setrep.collect()
    terms = sorted({t for r in rows for t in r["_ts"]})
    set_pairs = [(r["set_id"], t) for r in rows for t in r["_ts"]]
    fan_pairs = [(q, r["set_id"]) for r in rows for q in r["_qids"]]
    return _QuerySets(terms, set_pairs, fan_pairs, qid_type)


def _literal_terms_df(spark, qs: _QuerySets) -> DataFrame:
    return spark.createDataFrame([(t,) for t in qs.terms], "term string")


def _term_bucket_expr(term: Column, n_buckets: int) -> Column:
    """md5-prefix bucket of a term — engine-portable (any engine/driver can
    recompute it; same convention as the LSH plan-time md5 literals), stable
    across Spark versions, uniform over [0, n_buckets)."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("bigint") % n_buckets
    ).cast("int")


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`_term_bucket_expr` (byte-identical)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def bm25_write_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Build the durable inverted index: postings written PARTITIONED BY an
    md5 term-bucket (``postings/bucket=K/``), corpus statistics (N, Σdl) in
    ``manifest.json``. This is the 100 TB shape the bm25_topk docstring
    promises: the corpus is tokenized and shuffled ONCE at build time; a
    query batch computes its terms' buckets driver-side and reads ONLY those
    partitions (partition pruning on the scan), and the scalar stats come
    from the manifest — no corpus scan at query time, ever.

    Bucketing by term HASH (not raw term) keeps the partition count fixed
    and uniform regardless of vocabulary size; every posting row of one term
    lands in one partition, so per-term df at query time is exact from the
    pruned read alone. Returns the manifest dict.

    ``path`` may live on any Spark-reachable filesystem (hdfs://, s3a://,
    local) — the manifest goes through the Hadoop FS API like the parquet
    parts, not the driver's local disk."""
    import json
    import os

    from sparkdoc.io import hadoop_write_text

    posts = bm25_postings(docs, text_col, id_col).withColumn(
        "bucket", _term_bucket_expr(F.col("term"), n_buckets)
    )
    posts.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(path, "postings")
    )
    stats = (
        docs.select(word_count(F.col(text_col)).alias("dl"))
        .agg(F.count("*").alias("n_docs"), F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
        .collect()[0]
    )
    manifest = {
        "format": "bm25_postings_v1",
        "n_buckets": n_buckets,
        "n_docs": int(stats["n_docs"]),
        "sum_dl": int(stats["sum_dl"]),
        # the postings schema rides the manifest so query-side reads never
        # infer (faster, and an all-empty-docs corpus writes zero part
        # files — inference would fail outright on it)
        "schema": posts.schema.json(),
    }
    hadoop_write_text(
        docs.sparkSession,
        os.path.join(path, "manifest.json"),
        json.dumps(manifest, sort_keys=True),
    )
    return manifest


def bm25_update_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Append a delta corpus to an existing :func:`bm25_write_index` dir —
    the incremental-ingest path (same shape as jobs/dedup_delta.py's
    persisted-index updates). The delta is tokenized once and its postings
    APPENDED into the same bucket partitions (a term's rows stay in its one
    bucket, old + new, so per-term df from a pruned read remains exact);
    n_docs / Σdl accumulate in the manifest. Afterwards queries score
    bit-identically to a fresh index over the union.

    Caller contract: delta doc_ids are DISJOINT from the indexed corpus —
    re-ingesting a doc would double-count its postings. Run the delta
    through the incremental dedup first (sparkdoc/incremental.py) when that
    isn't guaranteed. Returns the updated manifest."""
    import json
    import os

    from pyspark.sql.types import StructType

    from sparkdoc.io import hadoop_read_text, hadoop_write_text

    spark = new_docs.sparkSession
    mpath = os.path.join(path, "manifest.json")
    pending = os.path.join(path, "update_pending.json")
    # append + manifest rewrite cannot be atomic on a bare parquet dir (an
    # Iceberg table would make this transactional); a pending marker turns
    # a mid-update crash from SILENT corruption (postings appended, stats
    # not) into a detected, refusing state
    from sparkdoc.io import hadoop_delete, hadoop_exists

    if hadoop_exists(spark, pending):
        raise RuntimeError(
            f"bm25_update_index: {pending} exists — a previous update died "
            "between the postings append and the manifest rewrite; the index "
            "may hold uncounted postings. Rebuild it (bm25_write_index) or "
            "restore from backup, then delete the marker."
        )
    manifest = json.loads(hadoop_read_text(spark, mpath))
    n_buckets = int(manifest["n_buckets"])

    posts = bm25_postings(new_docs, text_col, id_col).withColumn(
        "bucket", _term_bucket_expr(F.col("term"), n_buckets)
    )
    want = StructType.fromJson(json.loads(manifest["schema"]))
    # compare (name, type) only: StructType equality includes NULLABILITY,
    # which differs by construction path (parquet reads are nullable,
    # range-derived frames are not) and rejects type-identical deltas with
    # two identical-looking simpleStrings in the message
    got_sig = [(f.name, f.dataType.simpleString()) for f in posts.schema.fields]
    want_sig = [(f.name, f.dataType.simpleString()) for f in want.fields]
    if got_sig != want_sig:
        raise ValueError(
            "bm25_update_index: delta postings schema "
            f"{got_sig} != index schema {want_sig} — "
            "doc_id type must match the indexed corpus"
        )
    # delta stats FIRST (pure function of new_docs) so the only crash window
    # is append→manifest, which the marker brackets
    stats = (
        new_docs.select(word_count(F.col(text_col)).alias("dl"))
        .agg(F.count("*").alias("n_docs"), F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
        .collect()[0]
    )
    hadoop_write_text(
        spark, pending,
        json.dumps({"n_docs": int(stats["n_docs"]), "sum_dl": int(stats["sum_dl"])}),
    )
    posts.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(path, "postings")
    )
    manifest["n_docs"] = int(manifest["n_docs"]) + int(stats["n_docs"])
    manifest["sum_dl"] = int(manifest["sum_dl"]) + int(stats["sum_dl"])
    hadoop_write_text(spark, mpath, json.dumps(manifest, sort_keys=True))
    hadoop_delete(spark, pending)
    return manifest


def bm25_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    cache_pruned: bool = True,
) -> DataFrame:
    """Score a query batch against a :func:`bm25_write_index` directory,
    bit-identical to ``bm25_topk`` over the same corpus (same integer
    micro-unit quantization, same ties). The query batch is collected
    driver-side to enumerate its term buckets — queries are small by
    contract (the corpus never is); the postings scan then carries a
    partition filter on exactly those buckets, df per probed term is exact
    from the pruned read (a term's postings all live in one bucket), and
    N / avgdl are manifest literals.

    ``cache_pruned`` persists the pruned postings read (default True): the
    pruned rows feed both the df aggregate and the score join, and for a
    one-shot query job caching them halves the bucket IO. Pass False when
    composing into a long-lived session that manages its own caching. A
    query batch with no tokenizable terms returns an empty frame with the
    index-derived schema (no synthetic schema drift)."""
    import json
    import os

    from sparkdoc.io import hadoop_read_text

    manifest = json.loads(
        hadoop_read_text(spark, os.path.join(path, "manifest.json"))
    )
    n_buckets = int(manifest["n_buckets"])
    n_docs = int(manifest["n_docs"])
    sum_dl = int(manifest["sum_dl"])

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(words(F.col(query_text_col)))).alias("term"),
    )
    # ONE driver collect serves bucket enumeration AND the scoring tail's
    # term/set/fan literals (round 6 — the separate distinct().collect()
    # was a second full pass over the query subtree)
    qs = _query_sets_collected(qterms)
    buckets = sorted({term_bucket(t, n_buckets) for t in qs.terms})

    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    posts = (
        spark.read.schema(schema)
        .parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets) if buckets else F.lit(False))
    )
    if cache_pruned and buckets:
        posts = posts.persist()
    # same round-6 shape as bm25_topk: prune to the probed terms (df per
    # probed term is unchanged — a term's postings all live in its one
    # bucket, and the bucket read can carry OTHER terms whose df we never
    # use), doc-cluster once so the score aggregation collapses without an
    # exchange, and evaluate idf/contrib per term/posting, not per joined
    # row. Manifest stats ride in as literals.
    probed = _literal_terms_df(spark, qs)
    pp = posts.join(F.broadcast(probed), "term", "semi").repartition("doc_id")
    dfreq = pp.groupBy("term").agg(F.countDistinct("doc_id").alias("df_docs"))
    tstats = dfreq.select(
        "term",
        "df_docs",
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(sum_dl).cast("long").alias("sum_dl"),
    )
    if max_df_frac is not None:
        tstats = tstats.filter(
            F.col("df_docs") <= F.lit(float(max_df_frac)) * F.col("n_docs")
        )
    out = _bm25_contrib_score_topk(pp, tstats, qs, k1, b, k)
    if cache_pruned and buckets:
        # hand the pinned pruned-postings frame to the caller via the
        # package's cache-handle convention (ngram_jaccard does the same):
        # after materializing the result, release it with
        #   for c in getattr(result, "_sparkdoc_caches", []): c.unpersist()
        # — without the handle a long-lived session leaked one cached frame
        # per query batch (the CLI jobs release it; an eager checkpoint here
        # would truncate the plan and hide the partition-filter shape the
        # pruning test asserts)
        out._sparkdoc_caches = [posts]  # type: ignore[attr-defined]
    return out


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k_rrf: int = 60,
    topk: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09) of two or
    more per-query rankings — the standard hybrid-retrieval combiner (BM25 +
    dense ANN). Each input carries (query_id, <id_col>, rank); output is
    (query_id, doc_id, rank, rrf_e9, n_systems) with
    rrf_e9 = Σ_r round(1e9 / (k_rrf + rank_r)) summed as BIGINT — the
    integer quantization makes the fused score order-independent, so ranks
    are engine/partitioning-exact (same trick as bm25_topk). A (query, doc)
    seen by only some rankers contributes only those terms (n_systems says
    how many). Ties break on ascending doc_id.

    Scale shape: the inputs are already top-k-per-query tables — tiny
    relative to the corpus — so fusion is one union + one (query_id, doc_id)
    groupBy + one per-query window; the corpus is never touched again. At
    100 TB the heavy work lives in the retrievers (bucketed BM25 postings,
    ANN index); this post-merge is O(queries · k · systems).
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings to fuse")
    contrib = F.round(F.lit(E9) / (F.lit(k_rrf) + F.col("rank"))).cast("long")
    parts = [
        r.select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            contrib.alias("c_e9"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.groupBy("query_id", "doc_id").agg(
        F.sum("c_e9").alias("rrf_e9"),
        F.count("*").alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_e9").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "rank", "rrf_e9", "n_systems")
    )
