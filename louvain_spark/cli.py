"""spark-submit entry point.

Run on a cluster (north_rule: `spark-submit --py-files`):

    zip -r louvain_spark.zip louvain_spark
    spark-submit --py-files louvain_spark.zip -m louvain_spark.cli ...

or locally:

    python -m louvain_spark.cli induce  --input T --output E [--window 8]
    python -m louvain_spark.cli louvain --input E --output A [--mode exact]
    python -m louvain_spark.cli cc|pagerank|lpa|triangles --input E --output O
    python -m louvain_spark.cli resume  --operator cc --run-id R --checkpoint-dir D --input E --output O

--input/--output are parquet paths (Iceberg tables on a real cluster:
swap `read.parquet`/`write.parquet` for `read.table`/`writeTo`). Every
iterative run takes --checkpoint-dir/--run-id for the durable ledger.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from louvain_spark.plans.loop import SuperstepRunner


def _spark(args) -> SparkSession:
    from louvain_spark.session import get_spark

    return get_spark("louvain_spark-cli", master=args.master)


def _runner(spark, args, operator: str) -> SuperstepRunner:
    return SuperstepRunner(
        spark, args.run_id, operator, checkpoint_dir=args.checkpoint_dir
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="louvain_spark")
    p.add_argument("command", choices=[
        "induce", "louvain", "cc", "pagerank", "lpa", "triangles", "resume",
    ])
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--window", type=int, default=8)
    p.add_argument("--resolution", type=float, default=1.0)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--mode", default="auto", choices=["exact", "auto"])
    p.add_argument("--weight-col", default="weight")
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--tol", type=float, default=1e-8)
    p.add_argument("--run-id", default="cli-run")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--operator", default=None, help="operator to resume")
    args = p.parse_args(argv)

    spark = _spark(args)
    inp = spark.read.parquet(args.input)

    if args.command == "induce":
        from louvain_spark.operators.induce import cooccurrence_edges

        verts, edges = cooccurrence_edges(inp, window=args.window)
        edges.write.mode("overwrite").parquet(args.output)
        verts.write.mode("overwrite").parquet(args.output + "_vertices")
    elif args.command == "louvain":
        from louvain_spark.operators.louvain import louvain

        runner = _runner(spark, args, f"louvain-{args.mode}")
        assign, mod = louvain(
            spark, inp, resolution=args.resolution, seed=args.seed,
            weight_col=args.weight_col, mode=args.mode, runner=runner,
        )
        assign.write.mode("overwrite").parquet(args.output)
        print(f"modularity={mod}")
    elif args.command == "cc":
        from louvain_spark.operators.cc import connected_components

        runner = _runner(spark, args, "cc")
        connected_components(spark, inp, runner=runner).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.command == "pagerank":
        from louvain_spark.operators.pagerank import pagerank

        runner = _runner(spark, args, "pagerank")
        pagerank(
            spark, inp, weight_col=args.weight_col,
            max_iter=args.max_iter, tol=args.tol, runner=runner,
        ).write.mode("overwrite").parquet(args.output)
    elif args.command == "lpa":
        from louvain_spark.operators.lpa import label_propagation

        runner = _runner(spark, args, "lpa")
        label_propagation(
            spark, inp, weight_col=args.weight_col, max_iter=args.max_iter,
            runner=runner,
        ).write.mode("overwrite").parquet(args.output)
    elif args.command == "triangles":
        from louvain_spark.operators.triangles import triangles_per_vertex

        triangles_per_vertex(inp).write.mode("overwrite").parquet(args.output)
    elif args.command == "resume":
        if not (args.operator and args.checkpoint_dir):
            print("resume requires --operator and --checkpoint-dir", file=sys.stderr)
            return 2
        if args.operator.startswith("louvain"):
            # louvain writes ledger rows under 'louvain-{mode}' and
            # resume_louvain does its own per-level ledger lookup — the
            # generic probe below would filter on the bare operator name,
            # match nothing, and wrongly report 'no checkpoint found'
            from louvain_spark.operators.louvain import (
                NoCheckpointError,
                resume_louvain,
            )

            suffix = args.operator.removeprefix("louvain").removeprefix("-")
            try:
                out, mod = resume_louvain(
                    spark, args.run_id, args.checkpoint_dir,
                    resolution=args.resolution, seed=args.seed,
                    mode=suffix or args.mode,
                )
            except NoCheckpointError:
                # same exit contract as the generic probe below; any other
                # error mid-resume propagates instead of masquerading as
                # 'no checkpoint found'
                print("no checkpoint found", file=sys.stderr)
                return 3
            print(f"modularity={mod}")
            out.write.mode("overwrite").parquet(args.output)
            return 0
        runner, state, step = SuperstepRunner.resume(
            spark, args.run_id, args.operator, args.checkpoint_dir
        )
        if state is None:
            print("no checkpoint found", file=sys.stderr)
            return 3
        if args.operator == "cc":
            from louvain_spark.operators.cc import connected_components

            out = connected_components(spark, inp, runner=runner, start_state=state)
        elif args.operator == "pagerank":
            from louvain_spark.operators.pagerank import pagerank

            out = pagerank(
                spark, inp, weight_col=args.weight_col, max_iter=args.max_iter,
                tol=args.tol, runner=runner, start_state=state,
            )
        elif args.operator == "lpa":
            from louvain_spark.operators.lpa import label_propagation

            out = label_propagation(
                spark, inp, weight_col=args.weight_col, max_iter=args.max_iter,
                runner=runner, start_state=state,
            )
        else:
            print(f"resume not wired for operator {args.operator}", file=sys.stderr)
            return 4
        out.write.mode("overwrite").parquet(args.output)
        print(f"resumed from superstep {step}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
