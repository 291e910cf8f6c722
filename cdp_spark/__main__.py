"""``python -m cdp_spark`` — the reference's CLI (src/index.ts:10-57).

    python -m cdp_spark [-e] [-t] [--batch] PIPELINEFILE

- ``-t/--test``: validate the pipeline file and exit ("Pipeline
  configuration looks OK!", exit 1 + the error otherwise) — `cdp -t`.
- ``-e/--environment``: envsubst-style ${VAR} replacement after YAML
  parsing, before checks — `cdp -e`.
- default: run the pipeline.  Streaming input forms (generator, tail,
  http) run continuously under the managed lifecycle (SIGINT/SIGTERM
  → ordered drain, src/index.ts:45-48); batch-capable forms with
  ``--batch`` (or stdin, which is drain-to-EOF by nature) compile
  once, run the sinks, and print the terminal events as NDJSON.
"""

from __future__ import annotations

import argparse
import signal
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m cdp_spark",
        description=(
            "Start a Composable Data Pipelines program using PIPELINEFILE "
            "as specification (PySpark engine)."
        ),
    )
    parser.add_argument("pipelinefile")
    parser.add_argument(
        "-e", "--environment", action="store_true",
        help="replace ${VAR} environment placeholders after YAML parsing",
    )
    parser.add_argument(
        "-t", "--test", action="store_true",
        help="only check PIPELINEFILE for correctness",
    )
    parser.add_argument(
        "--batch", action="store_true",
        help="run file/tail inputs as one batch instead of a stream",
    )
    args = parser.parse_args(argv)

    from cdp_spark.pipeline import from_yaml

    try:
        with open(args.pipelinefile, "r", encoding="utf-8") as f:
            template = from_yaml(f.read(), substitute=args.environment)
    except Exception as err:  # parse/validation error -> exit 1
        print(err, file=sys.stderr)
        return 1
    if args.test:
        print("Pipeline configuration looks OK!")
        return 0

    from cdp_spark.session import get_spark

    spark = get_spark(f"cdp_spark:{template.name}")
    try:
        if args.batch or template.input_form == "stdin":
            from cdp_spark.events import serialize_events
            from cdp_spark.pipeline import compile_pipeline

            from cdp_spark.dead_letter import ship_dead_letters

            def print_events(out) -> None:
                for row in (
                    out.select(serialize_events(out).alias("line"), "_ord")
                    .orderBy("_ord")
                    .toLocalIterator()
                ):
                    print(row["line"])

            result = compile_pipeline(spark, template)
            result.execute(print_events)
            ship_dead_letters(result.dead_letters)
            return 0

        from cdp_spark.streaming import run_pipeline_managed

        # Prometheus exposition behind the reference's env contract
        # (src/conf.ts:190-208): port defaults to 8001, empty
        # METRICS_EXPOSITION_PATH disables serving.
        import os

        from cdp_spark.metrics import PipelineMetrics, serve_metrics

        metrics = PipelineMetrics()
        endpoint = os.environ.get("METRICS_EXPOSITION_PATH", "/metrics")
        mserver = None
        if endpoint:
            mserver = serve_metrics(
                metrics,
                port=int(os.environ.get("METRICS_EXPOSITION_PORT", "8001")),
                endpoint=endpoint,
            )

        runner = run_pipeline_managed(template, spark, metrics=metrics)
        for sig in (signal.SIGINT, signal.SIGTERM):
            signal.signal(sig, lambda *_: runner.close())
        try:
            runner.query.awaitTermination()
        finally:
            runner.close()
            if mserver is not None:
                mserver.close()
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
