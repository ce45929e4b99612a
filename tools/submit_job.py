"""The spark-submit entry point (north_rule deployment form).

    python tools/package_pyfiles.py dist/docling_spark.zip
    spark-submit --master <cluster> --py-files dist/docling_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        tools/submit_job.py <input_parquet_or_iceberg> <output_path> <metrics_path>

Runs the checkpointed, resumable extraction (bucket lineage + metrics;
buckets with an `ok` metrics row are skipped on restart) — kill it mid-run
and re-submit with the same paths, plain or as URIs (`file://`, `hdfs://`,
`s3a://`), to resume without recompute. The driver imports docling_spark from the shipped
zip; nothing here assumes a repo checkout on the executors.
"""

import sys

from pyspark.sql import SparkSession


def main() -> None:
    if len(sys.argv) < 4:
        print(__doc__)
        sys.exit(2)
    input_path, output_path, metrics_path = sys.argv[1:4]
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 16

    spark = SparkSession.builder.appName("docling_spark_extract").getOrCreate()
    from docling_spark.checkpoint import run_extract

    summary = run_extract(
        spark,
        input_path=input_path,
        output_path=output_path,
        metrics_path=metrics_path,
        n_buckets=n_buckets,
    )
    out = spark.read.parquet(output_path)
    n_docs = out.count()
    n_spans = out.selectExpr("sum(size(spans))").collect()[0][0]
    print(
        f"extract complete: run_id={summary['run_id']} resumed_from="
        f"{summary['resumed_from']} buckets; {n_docs} docs, {n_spans} spans"
    )
    spark.stop()


if __name__ == "__main__":
    main()
