"""spark-submit entrypoint for the training-corpus pipeline (the
SURVEY.md §2-G surface as a production job, not just a contract
entry):

    spark-submit --py-files kg.zip kg/corpus_main.py \
        --input  /path/or/catalog.db.documents \
        --output /path/or/catalog.db \
        [--min-tokens 5] [--min-stopword-ratio 0.05] [--tau 0.5] \
        [--sample-mod M] [--pack-ctx 2048] [--shards 8] [--gopher]

Reads a documents table (doc_id, text), runs QC → language filter →
exact dedup → LSH near-dup dedup → optional deterministic sample →
per-shard sequence packing (kg/stages/corpus.py — every stage's
semantics are oracle-pinned through the driver contract), and writes
two tables under --output:

- ``corpus``  — surviving (doc_id, n_tokens, shard, pack_id,
  pack_offset) rows, range-partitioned by (shard, pack_id) so a
  training loader reads each shard's windows contiguously;
- ``corpus_stats`` — one row of stage counters (input, survivors,
  packed windows per shard) for lineage/monitoring parity with the
  KG pipeline's metrics stage.

Same Iceberg-or-parquet routing as kg/main.py (kg/io.py seam).
"""

from __future__ import annotations

import argparse

from kg import io
from kg.session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="training-corpus preparation pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--min-stopword-ratio", type=float, default=0.05)
    ap.add_argument("--tau", type=float, default=0.5,
                    help="near-dup Jaccard threshold")
    ap.add_argument("--sample-mod", type=int, default=None,
                    help="keep doc iff md5-prefix %% M == 0 "
                         "(omit to keep all survivors)")
    ap.add_argument("--pack-ctx", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--gopher", action="store_true",
                    help="also apply the Gopher/MassiveText quality "
                         "battery (Rae21 A1.1) in the QC stage")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from kg.stages import corpus

    spark = get_spark(app_name="kg-corpus-pipeline")
    docs = io.read_table(spark, args.input).select("doc_id", "text")
    n_in = docs.count()

    out = corpus.corpus_pipeline(
        docs,
        min_tokens=args.min_tokens,
        min_stopword_ratio=args.min_stopword_ratio,
        tau=args.tau,
        sample_mod=args.sample_mod,
        pack_ctx=args.pack_ctx,
        n_shards=args.shards,
        gopher=args.gopher)

    sep = "." if io.is_iceberg(args.output) else "/"
    io.write_table(
        out.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4),
            "shard", "pack_id"),
        f"{args.output}{sep}corpus")

    written = io.read_table(spark, f"{args.output}{sep}corpus")
    # windows counted by token COVERAGE per shard (ceil(tokens/ctx)),
    # not by start positions — a window a document merely spans into
    # is still a window the training loader must emit
    row = (written.groupBy("shard")
           .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("n"))
           .agg(F.sum("n").alias("n_survivors"),
                F.sum("t").alias("n_tokens"),
                F.sum(F.ceil(F.col("t") / args.pack_ctx))
                 .alias("n_pack_windows"))
           .collect()[0])
    stats = spark.createDataFrame(
        [(n_in, row["n_survivors"] or 0, row["n_tokens"] or 0,
          row["n_pack_windows"] or 0)],
        "n_input long, n_survivors long, n_tokens long, "
        "n_pack_windows long")
    io.write_table(stats, f"{args.output}{sep}corpus_stats")
    print(f"corpus committed: {row['n_survivors'] or 0}/{n_in} docs, "
          f"{row['n_tokens'] or 0} tokens in "
          f"{row['n_pack_windows'] or 0} windows")
    spark.stop()


if __name__ == "__main__":
    main()
