"""Round-7 auxiliary benchmarks (guide §1.4 noop-sink isolation).

Phase-level timing for the heavy operators so optimization targets the
right stage, plus repeatable per-query timing with more reps than
bench.py. Does NOT touch bench.py (frozen for measurement).

Usage:
  python bench_extra.py queries [name ...]   # best-of-3 per query
  python bench_extra.py substr               # q96 phase breakdown
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _time(spark, label, build, reps=3):
    best = float("inf")
    samples = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        _materialize(build())
        dt = time.monotonic() - t0
        samples.append(round(dt, 3))
        best = min(best, dt)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"label": label, "best": round(best, 3), "samples": samples}))
    return best


def cmd_queries(names):
    from htrtf_spark.queries import spark_queries
    from htrtf_spark.session import get_spark

    spark = get_spark(app_name="bench_extra")
    qs = spark_queries()
    if not names:
        names = [
            "q96_repeated_substring_spans",
            "q97_substring_dedup_apply",
            "q101_training_corpus_stripped",
            "q25_trigram_jaccard_pairs",
            "q27_minhash_neardup_verified",
            "q99_pii_redaction",
        ]
    _materialize(qs["q31_extract_documents"](spark, SF_DIR))  # warm
    for n in names:
        _time(spark, n, lambda n=n: qs[n](spark, SF_DIR))
    spark.stop()


def cmd_substr():
    """Phase breakdown of q96 at SF_DIR: window generation alone, hash
    projection, phase-1 candidate selection, full spans."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators import substr_dedup as sd
    from htrtf_spark.queries.util import t
    from htrtf_spark.session import get_spark

    spark = get_spark(app_name="bench_extra_substr")
    docs = t(spark, SF_DIR, "documents")
    L = 50
    _materialize(docs)  # warm
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.sum(F.length("text")).alias("chars")
    ).collect()[0]
    print(json.dumps({"n_docs": stats["n_docs"], "chars": stats["chars"]}))

    _time(spark, "substr:windows_only",
          lambda: sd._windows(docs, "doc_id", "text", L))
    _time(spark, "substr:windows_hashed",
          lambda: sd._windows(docs, "doc_id", "text", L)
          .withColumn("_h", F.xxhash64("g")))
    _time(spark, "substr:windows_hash_only",
          lambda: sd._windows(docs, "doc_id", "text", L)
          .select("id", "pos", F.xxhash64("g").alias("_h")))
    _time(spark, "substr:hash_groupby_counts",
          lambda: sd._windows(docs, "doc_id", "text", L)
          .select(F.xxhash64("g").alias("_h"))
          .groupBy("_h").agg(F.count(F.lit(1)).alias("n"))
          .filter(F.col("n") >= 2))
    _time(spark, "substr:full_spans",
          lambda: sd.repeated_substring_spans(docs, "doc_id", "text", L))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "substr":
        cmd_substr()
    else:
        cmd_queries(sys.argv[2:])
