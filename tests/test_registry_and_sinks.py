"""Registry consistency, the package's environment surface, and the
partitioned parquet sink round-trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import all_oracle_sql, all_queries
from data_pipeline_playground_spark.tables import table


def test_every_oracle_has_a_query():
    qs, osql = all_queries(), all_oracle_sql()
    assert set(osql) <= set(qs)
    # every query is callable and named sanely
    assert all(callable(fn) for fn in qs.values())
    assert all(n == n.lower() and " " not in n for n in qs)


def test_rows_only_queries_are_the_ml_set():
    """Non-SQL queries must be exactly the iterative/UDF operators —
    anything else missing an oracle is an accidental coverage gap."""
    qs, osql = all_queries(), all_oracle_sql()
    rows_only = set(qs) - set(osql)
    assert rows_only == {
        "ann_ivf_trained_topk",
        "kmeans_clusters",
        "bisecting_kmeans_clusters",
        "power_iteration_clusters",
        "lda_topics",
        "lda_doc_topics",
        "lexrank_representatives",
        "news_pipeline",
        "stem_profile",
        "pos_noun_profile",
        "lexrank_summaries",
        "news_summaries",
    }


def test_package_reads_environment_only_in_session():
    """AST guard: a value the code can derive is not an environment
    knob. Only session.py reads the environment, for the deployment
    settings (cores, driver memory, extra Spark confs). The match is on
    the attribute or imported name, so ``import os as _os`` and
    ``from os import environ`` are caught too."""
    import ast
    import pathlib

    import data_pipeline_playground_spark as pkg

    env_names = {"environ", "environb", "getenv", "getenvb"}
    root = pathlib.Path(pkg.__file__).parent
    readers = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Attribute) and node.attr in env_names
            ) or (
                isinstance(node, ast.ImportFrom) and node.module == "os"
                and any(a.name in env_names for a in node.names)
            ):
                readers.add(path.relative_to(root).as_posix())
    assert readers == {"session.py"}


def test_partitioned_parquet_roundtrip(spark, sf_dir, tmp_path):
    """Scale-practice sink: write partitioned by lang, read back with a
    partition-pruned scan (the layout a 100 TB corpus would use)."""
    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    en = back.filter(F.col("lang") == "en")
    plan = en.queryExecution.executedPlan.toString() if hasattr(en, "queryExecution") else ""
    # partition pruning: the lang filter must land in PartitionFilters
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        en.explain()
    assert "PartitionFilters" in buf.getvalue()
    n_en = docs.filter(F.col("lang") == "en").count()
    assert en.count() == n_en


def test_jsonlines_datasource_writer_roundtrip(spark, sf_dir, tmp_path):
    """The Python DataSource sink writes task files + _SUCCESS via
    two-phase commit, and the written directory reads back value-equal
    through spark.read.json."""
    from data_pipeline_playground_spark.sources.jsonlines_sink import (
        JsonLinesDataSource,
    )
    from data_pipeline_playground_spark.tables import table

    try:
        spark.dataSource.register(JsonLinesDataSource)
    except Exception as exc:  # already registered by a prior test
        assert "already" in str(exc).lower()

    out = str(tmp_path / "docs_out")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs.repartition(3).write.format("jsonlines").mode("append").option(
        "path", out
    ).save()

    import os

    files = os.listdir(out)
    assert "_SUCCESS" in files
    parts = [f for f in files if f.startswith("part-") and f.endswith(".json")]
    assert len(parts) == 3  # one task file per partition
    assert "_temporary" not in files  # temp dir cleaned after commit

    back = spark.read.json(out)
    assert back.count() == docs.count()
    a = {(r.doc_id, r.text, r.source) for r in docs.collect()}
    b = {(r.doc_id, r.text, r.source) for r in back.collect()}
    assert a == b
