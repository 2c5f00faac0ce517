"""Batch text summarization over mapInPandas (SURVEY §2.10 ML16).

The reference runs a HuggingFace distilbart pipeline per account note
(src/ml/summarizer.py:7-33, invoked row-at-a-time from
src/orchestrator.py:285-288). The Spark-native shape is Arrow-batched
``mapInPandas`` applied per batch — never per row, never on the
driver. The summarizer is deterministic and extractive: pick the
sentence with the most tokens (first wins on ties), so an ANSI-SQL
oracle reproduces it exactly. A model-backed summarizer would slot
into ``summarize_batch`` with its weights loaded once per Python
worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

OUT_SCHEMA = (
    "doc_id bigint, summary string, n_sentences int, method string"
)


def extractive_summary(text: str) -> tuple[str, int]:
    """The sentence with the most whitespace tokens; first sentence
    wins ties. Returns (summary, n_sentences)."""
    sentences = text.split(". ")
    lens = [len(s.split(" ")) for s in sentences]
    return sentences[lens.index(max(lens))], len(sentences)


def summarize_batch(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in frames:
        pairs = [extractive_summary(t) for t in pdf["text"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "summary": [p[0] for p in pairs],
                "n_sentences": pd.array(
                    [p[1] for p in pairs], dtype="int32"
                ),
                "method": "extractive",
            }
        )


def summarize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Summarize a (doc_id, text) table. Arrow ships each partition to
    Python in column batches; cost scales with partition count, so
    callers control parallelism with a repartition when the input is a
    single small file."""
    sel = docs.selectExpr(f"{id_col} as doc_id", f"{text_col} as text")
    return sel.mapInPandas(summarize_batch, schema=OUT_SCHEMA)
