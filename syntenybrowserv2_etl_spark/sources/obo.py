"""S7 — OBO stanza source, Spark-native.

Reference: src/import_ontology.py:192-268 — a stateful line machine: `[Term]`
starts a stanza, `key: value` lines accumulate, `is_a:` repeats, obsolete
terms are discarded mid-stanza, and the final stanza is flushed at EOF.

Order-dependent parsing is the one place Spark's unordered model needs care
(SURVEY §7 hard-part 2): ``monotonically_increasing_id`` is only
partition-monotonic, so instead each file is read WHOLE (``wholetext``) and
line-numbered with ``posexplode`` — per-file line order is then exact by
construction, regardless of partitioning. One file = one row = one task;
ontology files are ≤ tens of MB (GO ~35 MB), far under the 2 GB string cap.
At 100 TB-scale ingest the unit of parallelism is the *file*, which is how
ontology releases ship; data-plane tables never flow through this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_obo_terms(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Parse OBO → one row per non-obsolete [Term] stanza.

    ``path`` may list several files: they are read by one scan, and stanzas
    are numbered within each file.

    Output: (file, stanza, id, name, namespace, def, is_a ARRAY<STRING>)
    where is_a holds bare parent ids (`` ! comment`` suffix stripped —
    reference src/import_ontology.py:246-251).
    """
    # NOTE: must be the ``wholetext=True`` kwarg — in PySpark 4.1 the
    # ``.option("wholetext", "true")`` spelling is silently ignored for the
    # text source and the file comes back line-split, collapsing every pos
    # to 0 and breaking stanza assignment.
    # Lines are keyed by ``doc``, the file's row, not by its name: a file
    # listed twice is then parsed twice, and its terms collide in the
    # caller's X6 check instead of merging silently.
    lines = (
        spark.read.text(path, wholetext=True)
        .withColumn("file", F.input_file_name())
        .withColumn("doc", F.monotonically_increasing_id())
        .select(
            "file", "doc",
            F.posexplode(F.split("value", r"\r?\n")).alias("pos", "line"),
        )
    )
    w = Window.partitionBy("doc").orderBy("pos")
    # Running count of stanza-header lines = stanza id; the header's own text
    # identifies stanza kind ([Term] vs [Typedef] — the latter ignored,
    # reference src/import_ontology.py:204-205).
    lines = lines.withColumn(
        "stanza", F.sum(F.when(F.col("line").startswith("["), 1).otherwise(0)).over(w)
    )
    kv = lines.select(
        "file",
        "doc",
        "stanza",
        F.col("line").startswith("[").alias("is_header"),
        F.col("line").alias("line"),
        F.regexp_extract("line", r"^([A-Za-z_]+): (.*)$", 1).alias("key"),
        F.regexp_extract("line", r"^([A-Za-z_]+): (.*)$", 2).alias("value"),
    )

    def first_of(key: str):
        return F.max(F.when(F.col("key") == key, F.col("value"))).alias(key)

    stanzas = (
        kv.groupBy("file", "doc", "stanza")
        .agg(
            F.max(F.when(F.col("is_header"), F.col("line"))).alias("header"),
            first_of("id"),
            first_of("name"),
            first_of("namespace"),
            F.max(F.when(F.col("key") == "def", F.col("value"))).alias("def"),
            first_of("is_obsolete"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("key") == "is_a",
                        F.trim(F.split(F.col("value"), "!").getItem(0)),
                    )
                )
            ).alias("is_a"),
        )
    )
    return (
        stanzas.filter(F.col("header") == "[Term]")
        .filter(~F.coalesce(F.col("is_obsolete") == "true", F.lit(False)))  # F4
        .filter(F.col("id").isNotNull())
        .select("file", "stanza", "id", "name", "namespace", "def", "is_a")
    )


def obo_edges(terms: DataFrame) -> DataFrame:
    """A1 — (child, parent) is_a edge DataFrame from parsed stanzas.

    Reference holds this as a module-global dict-of-sets accumulated across
    all three ontologies (src/import_ontology.py:54,248 — SURVEY Q9); here
    the caller unions per-ontology term DataFrames before closure to match.
    """
    return (
        terms.select(F.col("id").alias("child"), F.explode("is_a").alias("parent"))
        .filter(F.col("parent").isNotNull() & (F.length("parent") > 0))
        .distinct()
    )
