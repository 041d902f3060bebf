"""Sources/sinks: parquet tables + CSV/JSON/Cypher graph exporters.

Reference export shapes reproduced:
  CSV   nodes.csv/edges.csv, Neo4j-compatible, provenance as JSON string,
        non-numeric quoting           (core/exporters/csv_exporter.py:26-111)
  JSON  {"nodes","edges","metadata"}  (core/exporters/json_exporter.py:14-108)
  Cypher cypher-shell script: per-label uniqueness constraints, MERGE
        idempotent style, type-preserving literals
                                      (core/exporters/cypher_exporter.py:57-315)

All exporters are DataFrame writers (distributed); Cypher statement text is
built with concat exprs (JVM-side), written via write.text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --- driver-side artifacts on the DATA filesystem ----------------------------
#
# Jobs write small driver-side artifacts (manifest.json, merge_report.json,
# report.md, graph.html) next to their parquet outputs. Python's open() only
# reaches the driver's LOCAL disk; on a real cluster --out is hdfs://|s3a://
# and the artifact must land on the same storage as the data. These helpers
# go through the JVM Hadoop FileSystem API, so they resolve the path's scheme
# exactly like the DataFrame writers do (file:// in tests, hdfs/s3a on a
# cluster). Same mechanism as the checkpoint commit log (checkpoint.py).


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str``, scheme-resolved."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark: SparkSession, path_str: str) -> bool:
    fs, p = hadoop_fs(spark, path_str)
    return bool(fs.exists(p))


def fs_is_dir(spark: SparkSession, path_str: str) -> bool:
    fs, p = hadoop_fs(spark, path_str)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def _text_fs(fs):
    """The RAW filesystem for text artifacts. Hadoop's LocalFileSystem is a
    ChecksumFileSystem: writing manifest.json through it leaves a hidden
    .manifest.json.crc sidecar, and any OTHER tool (a text editor, a test,
    jq) that later edits the artifact leaves the sidecar stale — every
    subsequent read then dies with ChecksumException. These artifacts are
    meant to be human/tool-editable, so bypass the checksum layer; HDFS/S3A
    filesystems have no such client-side sidecar (no getRawFileSystem) and
    are used as-is."""
    try:
        return fs.getRawFileSystem()
    except Exception:
        return fs


def write_fs_bytes(fs, p, data: bytes) -> None:
    """Overwrite file ``p`` of filesystem ``fs`` with ``data`` (parents
    created by Hadoop create())."""
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def read_fs_bytes(spark: SparkSession, fs, p) -> bytes:
    """The whole of file ``p`` of filesystem ``fs``, copied on the JVM side
    into one byte array (one py4j transfer, not one per buffer)."""
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        sink = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 65536, False)
        return bytes(sink.toByteArray())
    finally:
        stream.close()


def write_text_file(spark: SparkSession, path_str: str, text: str) -> None:
    """Overwrite a small text artifact at ``path_str`` (parents created)."""
    fs, p = hadoop_fs(spark, path_str)
    write_fs_bytes(_text_fs(fs), p, text.encode("utf-8"))


def read_text_file(spark: SparkSession, path_str: str) -> str | None:
    """Contents of a small text artifact, or None when absent."""
    fs, p = hadoop_fs(spark, path_str)
    if not fs.exists(p):
        return None
    return read_fs_bytes(spark, _text_fs(fs), p).decode("utf-8")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# --- CSV (csv_exporter.py:26-111) --------------------------------------------


def _unique_nodes(nodes: DataFrame) -> DataFrame:
    """One export row per node_id, deterministically. The pipeline nodes
    table may carry one row per (doc_id, node_id); duplicate ``id:ID`` rows
    make ``neo4j-admin import`` reject the CSV outright, and a Cypher MERGE
    whose property maps differ across duplicates would CREATE a second node.
    Winner = the smallest doc_id's row (the pipeline's earliest-doc enrich
    precedence); without a doc_id column any stable total order works."""
    from pyspark.sql import Window

    if "doc_id" in nodes.columns:
        order = [F.col("doc_id")]
    else:
        order = [F.to_json(F.struct(*[F.col(c) for c in nodes.columns]))]
    w = Window.partitionBy("node_id").orderBy(*order)
    return nodes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def export_csv(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """nodes.csv / edges.csv, Neo4j-admin-compatible headers."""
    nodes = _unique_nodes(nodes)
    edges = edges.dropDuplicates(["src", "dst", "label"])
    n = nodes.select(
        F.col("node_id").alias("id:ID"),
        F.col("node_class").alias(":LABEL"),
        F.col("label").alias("label"),
        F.to_json("attrs").alias("attrs"),
        F.coalesce("provenance", F.lit("")).alias("provenance"),
    )
    e = edges.select(
        F.col("src").alias(":START_ID"),
        F.col("dst").alias(":END_ID"),
        F.col("label").alias(":TYPE"),
        F.to_json(F.coalesce("props", F.create_map())).alias("props"),
    )
    opts = {"header": "true", "quoteAll": "true", "escape": '"'}
    n.write.mode("overwrite").options(**opts).csv(f"{out_dir}/nodes.csv")
    e.write.mode("overwrite").options(**opts).csv(f"{out_dir}/edges.csv")


# --- JSON (json_exporter.py:14-108) ------------------------------------------


def export_json(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """Canonical node/edge JSON-lines (distributed analog of the single-file
    {"nodes","edges"} artifact; per-doc single-file collection is a driver
    concern at small scale)."""
    nodes = _unique_nodes(nodes)
    edges = edges.dropDuplicates(["src", "dst", "label"])
    nodes.select(
        F.col("node_id").alias("id"),
        F.col("node_class").alias("type"),
        "label",
        "attrs",
        "provenance",
    ).write.mode("overwrite").json(f"{out_dir}/nodes.json")
    edges.select(
        F.col("src").alias("source"), F.col("dst").alias("target"), "label", "props"
    ).write.mode("overwrite").json(f"{out_dir}/edges.json")


def graph_to_dict(nodes: DataFrame, edges: DataFrame) -> dict:
    """Driver-side canonical {"nodes","edges","metadata"} (small graphs only;
    json_exporter.graph_to_dict analog)."""
    n = [r.asDict(recursive=True) for r in nodes.collect()]
    e = [r.asDict(recursive=True) for r in edges.collect()]
    return {
        "nodes": n,
        "edges": e,
        "metadata": {"node_count": len(n), "edge_count": len(e)},
    }


def load_graph_from_json(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    """Inverse of export_json (core/importers/graph_json.py analog).

    Explicit schemas, NOT inference: the JSON writer drops null fields (an
    all-null provenance — every pipeline-produced graph — would vanish from
    the inferred schema and crash the select), and inference would widen
    ``attrs``/``props`` into structs keyed by the union of all attr names
    where the engine contract is map<string,string>."""
    nodes = spark.read.schema(
        "id string, type string, label string, attrs map<string,string>, provenance string"
    ).json(f"{out_dir}/nodes.json").select(
        F.col("id").alias("node_id"),
        F.col("type").alias("node_class"),
        "label",
        "attrs",
        "provenance",
    )
    edges = spark.read.schema(
        "source string, target string, label string, props map<string,string>"
    ).json(f"{out_dir}/edges.json").select(
        F.col("source").alias("src"), F.col("target").alias("dst"), "label", "props"
    )
    return nodes, edges


# --- Cypher (cypher_exporter.py:57-315) ---------------------------------------


def _cy_quote(col):
    return F.concat(
        F.lit("'"),
        F.replace(F.replace(col, F.lit("\\"), F.lit("\\\\")), F.lit("'"), F.lit("\\'")),
        F.lit("'"),
    )


def _cy_label(col):
    """Backtick-quoted Neo4j label — template classes are arbitrary strings
    ('Legal Entity' must not produce invalid Cypher); backticks inside a
    name are escaped by doubling, per Cypher naming rules."""
    return F.concat(F.lit("`"), F.replace(col, F.lit("`"), F.lit("``")), F.lit("`"))


def _cy_prop_entries(map_col, sep: str = ": ", prefix: str = ""):
    """Sorted ``[prefix]\\`key\\`[sep]'value'`` fragments from a map column —
    sep ': ' for map literals, ' = ' with prefix 'n.' for SET clauses."""
    return F.transform(
        F.array_sort(F.map_entries(F.coalesce(map_col, F.create_map().cast("map<string,string>")))),
        lambda e: F.concat(
            F.lit(prefix + "`"), F.replace(e["key"], F.lit("`"), F.lit("``")), F.lit("`" + sep),
            _cy_quote(F.coalesce(e["value"], F.lit(""))),
        ),
    )


def export_cypher(nodes: DataFrame, edges: DataFrame, out_path: str, merge: bool = True) -> None:
    """One cypher-shell script: uniqueness constraints per label, then
    MERGE-idempotent node/edge statements (CREATE style when merge=False).
    Edge MATCHes carry the endpoint labels so the per-label uniqueness
    index serves them (an unlabeled property MATCH is an AllNodesScan per
    edge in Neo4j — O(E·N) import).

    Node attrs and edge props ARE exported (cypher_exporter.py's
    type-preserving property emission — engine attrs are string-typed, so
    values emit as quoted strings): MERGE keys on {id} alone then SETs the
    properties (idempotent re-import refreshes attrs); CREATE inlines the
    full property map. Relationship types are backtick-quoted (uppercased,
    reference convention) — sanitizing to [A-Z0-9_] collapsed distinct
    labels and produced invalid Cypher for empty/digit-leading labels;
    an empty label falls back to ``REL``."""
    verb = "MERGE" if merge else "CREATE"
    nodes = _unique_nodes(nodes)
    edges = edges.dropDuplicates(["src", "dst", "label"])
    labels = [r["node_class"] for r in nodes.select("node_class").distinct().collect()]
    constraints = [
        "CREATE CONSTRAINT IF NOT EXISTS FOR (n:`{}`) REQUIRE n.id IS UNIQUE;".format(
            l.replace("`", "``")
        )
        for l in sorted(labels)
    ]
    attr_entries = _cy_prop_entries(F.col("attrs"))
    if merge:
        set_entries = _cy_prop_entries(F.col("attrs"), sep=" = ", prefix="n.")
        set_tail = F.when(
            F.size(set_entries) > 0,
            F.concat(F.lit(", "), F.array_join(set_entries, ", ")),
        ).otherwise(F.lit(""))
        node_stmts = nodes.select(
            F.concat(
                F.lit("MERGE (n:"), _cy_label(F.col("node_class")),
                F.lit(" {id: "), _cy_quote(F.col("node_id")), F.lit("})"),
                F.lit(" SET n.label = "), _cy_quote(F.coalesce(F.col("label"), F.lit(""))),
                set_tail, F.lit(";"),
            ).alias("stmt")
        )
    else:
        inline = F.when(
            F.size(attr_entries) > 0,
            F.concat(F.lit(", "), F.array_join(attr_entries, ", ")),
        ).otherwise(F.lit(""))
        node_stmts = nodes.select(
            F.concat(
                F.lit("CREATE (n:"), _cy_label(F.col("node_class")),
                F.lit(" {id: "), _cy_quote(F.col("node_id")),
                F.lit(", label: "), _cy_quote(F.coalesce(F.col("label"), F.lit(""))),
                inline, F.lit("});"),
            ).alias("stmt")
        )
    # distinct: the nodes table may carry one row per (doc_id, node_id); a
    # plain join would emit duplicate edge statements per document
    cls = nodes.select("node_id", "node_class").distinct()
    e = (
        edges.join(
            cls.withColumnRenamed("node_id", "src").withColumnRenamed("node_class", "_src_cls"),
            "src",
            "left",
        ).join(
            cls.withColumnRenamed("node_id", "dst").withColumnRenamed("node_class", "_dst_cls"),
            "dst",
            "left",
        )
    )
    label_part = lambda c: F.when(  # noqa: E731 — dangling endpoint: unlabeled MATCH
        F.col(c).isNotNull(), F.concat(F.lit(":"), _cy_label(F.col(c)))
    ).otherwise(F.lit(""))
    rel_type = F.when(
        F.length(F.coalesce(F.col("label"), F.lit(""))) > 0,
        _cy_label(F.upper(F.col("label"))),
    ).otherwise(F.lit("`REL`"))
    prop_entries = (
        _cy_prop_entries(F.col("props"))
        if "props" in edges.columns
        else F.array().cast("array<string>")
    )
    rel_props = F.when(
        F.size(prop_entries) > 0,
        F.concat(F.lit(" {"), F.array_join(prop_entries, ", "), F.lit("}")),
    ).otherwise(F.lit(""))
    edge_stmts = e.select(
        F.concat(
            F.lit("MATCH (a"),
            label_part("_src_cls"),
            F.lit(" {id: "),
            _cy_quote(F.col("src")),
            F.lit("}), (b"),
            label_part("_dst_cls"),
            F.lit(" {id: "),
            _cy_quote(F.col("dst")),
            F.lit(f"}}) {verb} (a)-[:"),
            rel_type,
            rel_props,
            F.lit("]->(b);"),
        ).alias("stmt")
    )
    spark = nodes.sparkSession
    header = spark.createDataFrame([(s,) for s in constraints], "stmt string")
    header.unionByName(node_stmts).unionByName(edge_stmts).coalesce(1).write.mode(
        "overwrite"
    ).text(out_path)


def write_bucketed_table(
    df: DataFrame, name: str, key: str = "doc_id", buckets: int = 32, sort: bool = True
) -> str:
    """Hash-bucketed managed table — the Iceberg ``bucket(N, doc_id)``
    distribution-mode analog on plain parquet (SURVEY §7: the reference runs
    on an Iceberg table of 10^12 docs; the sandbox has no Iceberg runtime, so
    the bucketed-write claim is demonstrated with Spark's native bucketing,
    which has the same co-location contract).

    Two tables bucketed by the same key with the same bucket count join and
    aggregate WITHOUT a shuffle — verified by the bucketed-join plan test
    (no Exchange on either side). At 100 TB this is what turns every
    doc_id-keyed stage after ingest into a scan-local operation.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a crashed previous run can leave the managed location behind with no
    # catalog entry — Spark then refuses the name (LOCATION_ALREADY_EXISTS)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    if warehouse:
        shutil.rmtree(f"{warehouse}/{name.lower()}", ignore_errors=True)
    writer = df.write.format("parquet").mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(name)
    return name


# The hadoop_* text helpers below are thin delegates over the
# write_text_file family above — ONE implementation (with the _text_fs
# checksum-sidecar bypass for editable artifacts) behind both names. They
# existed as a parallel re-implementation WITHOUT the bypass, which left
# stale .manifest.json.crc sidecars on local filesystems whenever another
# tool later edited the artifact — the exact hazard _text_fs documents.


def hadoop_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file on any Spark-reachable filesystem
    (delegates to :func:`write_text_file`)."""
    write_text_file(spark, path, content)


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (delegates to :func:`fs_exists`)."""
    return fs_exists(spark, path)


def hadoop_delete(spark: SparkSession, path: str) -> None:
    """Delete a file (non-recursive; raw-fs so the checksum sidecar, if one
    was ever created, goes with it)."""
    fs, p = hadoop_fs(spark, path)
    _text_fs(fs).delete(p, False)


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file; raises FileNotFoundError when absent (unlike
    :func:`read_text_file`'s None — index manifests are REQUIRED files and
    a clear error beats a downstream json.loads(None))."""
    out = read_text_file(spark, path)
    if out is None:
        raise FileNotFoundError(f"required text artifact missing: {path}")
    return out
