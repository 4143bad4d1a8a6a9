"""spark-submit entry point for the KG-construction job.

Ship with:
    python scripts/package.py                      # builds dist/kgforge.zip
    spark-submit --master <cluster> \
        --py-files dist/kgforge.zip \
        scripts/submit_kg.py --sf-dir /root/testdata/sf0.01 --out /tmp/graph

The job is resumable: re-running with the same input fingerprint reuses the
last committed snapshot (kgforge.kg.io.resume_or_run).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-docs", type=int, default=None,
                    help="synthesize N docs instead of deriving from sf-dir")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kgforge-kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from kgforge.kg.io import resume_or_run
    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import docs_from_testdata, synth_docs

    if args.n_docs:
        docs = synth_docs(spark, args.n_docs)
        fingerprint = f"synth:{args.n_docs}:42"
    else:
        docs = docs_from_testdata(spark, args.sf_dir)
        fingerprint = f"testdata:{args.sf_dir}:42"

    def build():
        triples, metrics = build_kg(docs)
        print(json.dumps({"stage_metrics": metrics}))
        return triples

    df, resumed = resume_or_run(spark, args.out, "kg_construct", fingerprint, build)
    print(json.dumps({"rows": df.count(), "resumed": resumed, "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
