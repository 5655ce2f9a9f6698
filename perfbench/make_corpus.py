"""Write ``perfbench/data/corpus.parquet``: the first ``--docs`` documents
of a ``documents.parquet`` corpus, shaped by
``__spark_entry__._interleaved_documents``.

    python3 perfbench/make_corpus.py <dir holding documents.parquet> [--docs N]

Each row keeps what the shaping gives one source document: its text span
and its number of media frames.  The benchmark reads only files of its
own checkout, so it ships this sample instead of reading the corpus; it
then gives every document it links a seed-salted id, the sampled text
and frame count of one source row, and frames keyed by the new id.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "perfbench" / "data" / "corpus.parquet"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--docs", type=int, default=1000)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))

    import pyspark.sql.functions as F

    from __spark_entry__ import _interleaved_documents
    from face_hunter_spark.session import build_session

    spark = build_session(app_name="make_corpus", master="local[2]",
                          shuffle_partitions=2)
    try:
        shaped = _interleaved_documents(spark, args.sf_dir).select(
            F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
            .alias("source_id"),
            F.col("spans")[0]["text"].alias("text"),
            (F.size("spans") - 1).alias("n_frames"),
        )
        pdf = (shaped.where(F.col("source_id") < args.docs)
               .orderBy("source_id").toPandas())
    finally:
        spark.stop()
    OUT.parent.mkdir(parents=True, exist_ok=True)
    pdf.to_parquet(OUT, index=False, compression="zstd")
    print(f"{len(pdf)} documents -> {OUT.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
