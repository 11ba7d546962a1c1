"""Python UDTF (table function) — Spark 4's lateral-view surface for row →
many-rows Python logic (SURVEY §2.8 lists UDTF as absent in the reference;
provided as the escape hatch for logic neither Columns nor a single pandas
UDF express, e.g. per-document segmenters that emit variable row counts).

Discipline: a UDTF is Python in the row path — below built-ins even when
Arrow-batched (``useArrow=True``, r5: plans as ArrowEvalPythonUDTF instead
of the pickled row-at-a-time BatchEvalPythonUDTF the plan-hygiene sweep
forbids). It belongs at the edge of the plan (post-filter, few columns),
never in a hot join. The driver entry proves exact parity with a pure-SQL
formulation, so the correctness bar for custom UDTFs is the same oracle
gate as everything else.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load, spread


@udtf(returnType="seg_idx int, segment string, n_words int", useArrow=True)
class SentenceSegments:
    """Split a document into '. '-delimited segments; one output row per
    non-empty segment. Word count = single-space tokens (mirrors the SQL
    oracle exactly — NOT str.split()'s any-whitespace semantics)."""

    def eval(self, doc_id: int, text: str) -> Iterator[tuple]:  # noqa: ARG002
        if text is None:
            return
        idx = 0
        for seg in text.split(". "):
            if seg:
                words = [t for t in seg.split(" ") if t]
                yield (idx, seg, len(words))
                idx += 1


_UDTF_SQL = """
WITH segs AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, '. '), s -> s != '')) AS segment,
         generate_subscripts(list_filter(string_split(text, '. '), s -> s != ''), 1) - 1 AS seg_idx
  FROM documents
  WHERE doc_id % 20 = 0
)
SELECT doc_id, CAST(seg_idx AS INTEGER) AS seg_idx, segment,
       CAST(len(list_filter(string_split(segment, ' '), t -> t != '')) AS INTEGER) AS n_words
FROM segs
"""


@q("udtf_sentence_segments", _UDTF_SQL)
def udtf_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-join the UDTF over a 5% slice of documents (edge-of-plan
    discipline: filter first, two columns in). Fully oracle-checked against
    the unnest formulation."""
    docs = spread(load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0))
    return docs.lateralJoin(
        SentenceSegments(F.col("doc_id").outer(), F.col("text").outer())
    ).select("doc_id", "seg_idx", "segment", "n_words")
