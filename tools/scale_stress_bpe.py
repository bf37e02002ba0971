"""Scale stress for the exact BPE tokenizer (round-5 family).

Three measured regimes, each isolating one scale lever of
``operators/bpe.py``:

- ``doc_counts``: per-source exact counts over N synthetic docs (small
  vocabulary -> the auto gate picks the broadcast join-back). The cost
  driver is the native explode + map-side-combined (id, word) reduce;
  the Arrow encode stage sees only the distinct vocabulary, so wall
  should scale with corpus size but stay far below per-token Python
  cost.
- ``doc_counts_shuffle``: the same corpus with ``broadcast_vocab=False``
  — the >2M-word fallback path — proving the word-keyed shuffle join
  costs about the same at this scale (it must not be a cliff).
- ``vocab_encode``: raw Arrow-stage throughput on N_VOCAB DISTINCT
  generated words (every word unique — the worst case for the memo),
  reported as words/sec. This is the number that bounds encode cost at
  a web-scale vocabulary: 10^8 distinct words / (rate x executors).

Usage: python tools/scale_stress_bpe.py [n_docs] [n_vocab]
Prints one JSON line; paste the numbers into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import functions as F
    from scale_stress import gen_documents

    from apde_etl_spark.operators import bpe
    from apde_etl_spark.session import get_spark

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000
    spark = get_spark("scale-stress-bpe")
    work = tempfile.mkdtemp(prefix="scale_stress_bpe_")
    out: dict[str, object] = {"n_docs": n_docs, "n_vocab": n_vocab}

    t0 = time.perf_counter()
    gen_documents(spark, n_docs, f"{work}/documents.parquet")
    out["generate_s"] = round(time.perf_counter() - t0, 2)
    docs = spark.read.parquet(f"{work}/documents.parquet")

    t0 = time.perf_counter()
    agg = (
        bpe.bpe_doc_token_counts(docs, id_cols=("source",))
        .agg(F.sum("n_bpe_tokens").alias("bpe"), F.sum("n_words").alias("ws"))
        .first()
    )
    out["doc_counts_s"] = round(time.perf_counter() - t0, 2)
    out["total_bpe_tokens"] = int(agg["bpe"])
    out["exact_over_heuristic"] = round(agg["bpe"] / agg["ws"], 4)

    t0 = time.perf_counter()
    bpe.bpe_doc_token_counts(
        docs, id_cols=("source",), broadcast_vocab=False
    ).agg(F.sum("n_bpe_tokens")).first()
    out["doc_counts_shuffle_s"] = round(time.perf_counter() - t0, 2)

    # worst-case Arrow stage: every word distinct
    words = spark.range(n_vocab).select(
        F.concat(
            F.lit("w"),
            F.col("id").cast("string"),
            F.repeat(F.lit("ab"), F.pmod(F.col("id"), 7).cast("int") + 1),
        ).alias("word")
    )
    t0 = time.perf_counter()
    n = bpe.bpe_word_token_counts(words).agg(
        F.count(F.lit(1)), F.sum("n_bpe_tokens")
    ).first()[0]
    dt = time.perf_counter() - t0
    out["vocab_encode_s"] = round(dt, 2)
    out["vocab_words_per_s"] = int(n / dt)

    print(json.dumps(out))
    import shutil

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
