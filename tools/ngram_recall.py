"""Banded-simhash recall/cost curve for ngram_jaccard_dedup.

Round-5's B=8 band count was chosen without measuring the B=4/B=6
points; this tool produces the full curve so the production setting is
a measured choice, not a guess (same discipline as the ANN recall
curves in tools/recall_bench.py and the reference's ER threshold sweep,
/root/reference/scripts/evaluate_entity_resolution.py:78-118).

Ground truth is EXACT: every pair with bigram-set Jaccard >= 0.5,
found with the standard inverted-index algorithm (pairs sharing at
least one gram — a superset of any pair with jaccard > 0 — then exact
|A∩B| / |A∪B| on the gram rows). No sampling, no sketch.

For each B it reports:
- truth pairs / candidate pairs / found pairs / recall
- steady-state wall seconds for the FULL query (min of N after one
  discarded warm run, so Janino/JIT compile noise is excluded)

Usage:
    python tools/ngram_recall.py [sf_dir]        # default sf0.1
Prints one JSON line per B.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from multi_crm_cross_sell_spark.operators.dedup import (  # noqa: E402
    GRAM_K,
    P,
    banded_simhash_bands,
    base_hash_sql,
)
from multi_crm_cross_sell_spark.session import get_spark  # noqa: E402
from multi_crm_cross_sell_spark.sources.bronze import load_table  # noqa: E402

THRESHOLD = 0.5


def gram_rows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    scoped = docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    return (
        scoped.repartition(n_parts, F.col("doc_id"))
        .select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"))
        .select("doc_id", "pos", F.expr(base_hash_sql("word")).alias("h"))
        .withColumn("h2", F.lead("h").over(wnd))
        .where(F.col("h2").isNotNull())
        .select("doc_id", ((F.col("h") * F.lit(GRAM_K) + F.col("h2")) % F.lit(P)).alias("g"))
        .dropDuplicates(["doc_id", "g"])
    )


def exact_truth(grams):
    """All pairs with jaccard >= THRESHOLD via gram-sharing join."""
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("nb"))
    g1 = grams.select(F.col("doc_id").alias("doc1"), "g")
    g2 = grams.select(F.col("doc_id").alias("doc2"), "g")
    inter = (
        g1.join(g2, "g")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("ni"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("nb").alias("nb1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("nb").alias("nb2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .where(
            F.col("ni") / (F.col("nb1") + F.col("nb2") - F.col("ni")).cast("double")
            >= THRESHOLD
        )
        .select("doc1", "doc2")
    )


def main() -> None:
    # args: [sf_dir] [--bands=8[,6,...]] [--no-time]
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.1"
    bands_arg = [a for a in sys.argv[1:] if a.startswith("--bands=")]
    band_list = (
        tuple(int(x) for x in bands_arg[0].split("=", 1)[1].split(","))
        if bands_arg
        else (4, 6, 8)
    )
    do_time = "--no-time" not in sys.argv[1:]
    use_idf = "--weights=idf" in sys.argv[1:]
    tfb = [a for a in sys.argv[1:] if a.startswith("--truth-from-base=")]
    spark = get_spark("ngram-recall")
    spark.sparkContext.setLogLevel("ERROR")

    grams = gram_rows(spark, sf_dir).cache()
    n_docs = grams.select("doc_id").distinct().count()
    if tfb:
        # Scaled corpora from tools/scale_bench.py are token-disjoint
        # replicas (replica k prefixes every word with "rk"), so the
        # exact truth at K× is EXACTLY K shifted copies of the base
        # truth — no cross-replica pair can share a gram, let alone
        # reach jaccard 0.5. Computing it this way avoids the base
        # inverted-index join's Σ df² shuffle growing 100× (measured:
        # it filled the 126G tmpfs at 100×); the CANDIDATE side is
        # still computed genuinely on the full scaled corpus.
        factor = int(tfb[0].split("=", 1)[1])
        base = "/root/testdata/sf0.1"
        bg = gram_rows(spark, base).cache()
        base_n = bg.select("doc_id").distinct().count()
        bt = exact_truth(bg)
        parts = [
            bt.select(
                (F.col("doc1") + F.lit(k * base_n)).alias("doc1"),
                (F.col("doc2") + F.lit(k * base_n)).alias("doc2"),
            )
            for k in range(factor)
        ]
        truth = parts[0]
        for p in parts[1:]:
            truth = truth.unionByName(p)
        truth = truth.cache()
    else:
        truth = exact_truth(grams).cache()
    n_truth = truth.count()
    print(f"# n_docs={n_docs} truth_pairs={n_truth}", file=sys.stderr)

    from multi_crm_cross_sell_spark.plans.datapipe import _make_ngram_query

    for n_bands in band_list:
        if use_idf:
            df_tbl = grams.groupBy("g").agg(F.count("*").alias("df"))
            wgrams = grams.join(df_tbl, "g").withColumn(
                "wt",
                F.length(F.bin(F.expr(f"CAST({n_docs} AS BIGINT) div df"))).cast(
                    "bigint"
                ),
            )
            bands = banded_simhash_bands(
                wgrams, n_docs, n_bands=n_bands, weight_col="wt"
            )
        else:
            bands = banded_simhash_bands(grams, n_docs, n_bands=n_bands)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (
                    F.least(F.col("a.nb"), F.col("b.nb"))
                    >= THRESHOLD * F.greatest(F.col("a.nb"), F.col("b.nb"))
                ),
            )
            .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
            .dropDuplicates(["doc1", "doc2"])
            .cache()
        )
        n_cand = cand.count()
        n_found = cand.join(truth, ["doc1", "doc2"]).count()
        cand.unpersist()

        # steady-state wall: full query with this band count
        times = []
        if do_time:
            fn = _make_ngram_query(n_bands=n_bands)
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
            for _ in range(3):
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                times.append(round(time.time() - t0, 3))
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_bands": n_bands,
                    "weights": "idf" if use_idf else "uniform",
                    "truth": n_truth,
                    "candidates": n_cand,
                    "found": n_found,
                    "recall": round(n_found / n_truth, 4) if n_truth else None,
                    "wall_min": min(times) if times else None,
                    "wall_all": times,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
