"""spark-submit entrypoint (SURVEY.md §3.1; BASELINE.json:14).

    spark-submit --py-files kg.zip kg/main.py \
        --input  /path/or/catalog.db.transcripts \
        --output /path/or/catalog.db \
        [--checkpoint /path/ckpt] [--resume] [--buckets 64]

``--resume`` is implied whenever a checkpoint manifest for the same
input snapshot exists — committed buckets are never recomputed.
"""

from __future__ import annotations

import argparse
import sys

from kg import io
from kg.session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="kg triple-extraction pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--cross-turn-k", type=int, default=0,
                    help="also score mention pairs spanning <= k turns "
                         "within a conversation (B3 window variant)")
    ap.add_argument("--encoder", choices=("pcnn", "attn"), default="pcnn",
                    help="relation scorer: PCNN (lookup-table fast "
                         "path) or the BERT-style self-attention "
                         "encoder")
    ap.add_argument("--clustered-input", action="store_true",
                    help="the input layout already contains each "
                         "conversation in one scan partition (written "
                         "bucketed by conv_id / Iceberg bucket(conv_id) "
                         "with files under maxPartitionBytes): the "
                         "cross-turn pass then skips its shuffle "
                         "entirely")
    ap.add_argument("--drop-boilerplate", type=int, default=0,
                    metavar="MAX_CONVS",
                    help="pre-filter turns whose exact text occurs in "
                         "more than MAX_CONVS distinct conversations "
                         "(system preambles / canned banners) before "
                         "extraction; 0 = off. The hot-text set is "
                         "broadcast, so the turn table is not shuffled")
    ap.add_argument("--resume", action="store_true",
                    help="(informational; resume is automatic when the "
                         "manifest matches the input snapshot)")
    args = ap.parse_args(argv)

    from kg import pipeline  # after session deps
    from kg.stages import score

    spark = get_spark(app_name="kg-pipeline")
    t0 = io.read_table(spark, args.input)
    if args.drop_boilerplate > 0:
        from kg.stages.corpus import drop_boilerplate_turns

        # no eager count here: on a 10^12-turn table that would be
        # two extra full scans just for a log line — the drop count
        # shows up in the stage metrics the pipeline already emits
        t0 = drop_boilerplate_turns(
            t0, max_convs=args.drop_boilerplate)
        print(f"boilerplate filter active "
              f"(> {args.drop_boilerplate} convs)", file=sys.stderr)
    if args.clustered_input:
        from kg.stages.extract import clustered_layout_ok

        if not clustered_layout_ok(t0):
            print("WARN: --clustered-input requested but an input file "
                  "exceeds spark.sql.files.maxPartitionBytes — Spark "
                  "will split it and conversations cut at the split "
                  "lose their cross-partition pairs. Falling back to "
                  "the shuffle path.", file=sys.stderr)
            args.clustered_input = False
    out = pipeline.run(spark, t0,
                       weights_bc=score.broadcast_weights(
                           spark, encoder=args.encoder),
                       checkpoint_root=args.checkpoint,
                       n_buckets=args.buckets,
                       cross_turn_k=args.cross_turn_k,
                       clustered_input=args.clustered_input)
    sep = "." if io.is_iceberg(args.output) else "/"
    io.write_table(out["triples"], f"{args.output}{sep}triples")
    io.write_table(
        out["adjacency"].repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4), "subj"),
        f"{args.output}{sep}adjacency")
    n = io.read_table(spark, f"{args.output}{sep}triples").count()
    print(f"triples committed: {n}")
    spark.stop()


if __name__ == "__main__":
    main()
