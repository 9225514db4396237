"""CLI entry points (reference §3.1 / §3.2).

The reference's primary UX is ``python -m src.pipeline.main`` — run
the pipeline, log a run summary + enrichment-health NULL counts, and
emit the documented 9-column TSV report
(/root/reference/src/pipeline/main.py:48-122, TECHNICAL.md:32) — plus
``python -m src.pipeline.temp`` for a ``SELECT *`` CSV export
(/root/reference/src/pipeline/temp.py:9-28).  This module is the
Spark-native twin:

    python -m enriched_crime_incident_data_pipeline_spark report \
        [--sf-dir /root/testdata/sf0.001] [--limit 20]
    python -m enriched_crime_incident_data_pipeline_spark export \
        --out /tmp/incidents_csv [--sf-dir ...] [--single-file]

Inputs are the driver's parquet fixtures (the events table adapted
into the incidents-raw shape, with deterministic geocode/weather
lookup fixtures standing in for the rate-limited live services, as
the engine's provider design intends).  Both commands run the
flagship query's own assembly (``registry.crime.enriched_incidents``:
bronze → silver → dedup+EMSSTAT → ranks → coordinates → side-of-town
→ weather) and differ only in the sink.
"""

from __future__ import annotations

import argparse
import logging
import sys

from pyspark.sql import DataFrame

log = logging.getLogger("enriched_crime_incident_data_pipeline_spark")


def _log_health(enriched: DataFrame) -> None:
    """Run summary + enrichment-health NULL counts
    (src/pipeline/main.py:89-96,107-112) — one aggregation pass."""
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        null_count_health,
    )

    row = null_count_health(
        enriched, ["weather", "location_rank", "side_of_town"]
    ).collect()[0]
    log.info("incidents in table: %d", row["total_rows"])
    for col in ("weather", "location_rank", "side_of_town"):
        log.info("rows with NULL %s: %d", col, row[f"null_{col}"])


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m enriched_crime_incident_data_pipeline_spark",
        description="Run the enriched-incident pipeline (Spark-native).",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p_report = sub.add_parser(
        "report", help="9-column TSV report to stdout (reference main.py)"
    )
    p_report.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_report.add_argument(
        "--limit", type=int, default=1000, help="max TSV rows printed"
    )

    p_export = sub.add_parser(
        "export", help="full-table CSV export (reference temp.py)"
    )
    p_export.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_export.add_argument("--out", required=True, help="output directory")
    p_export.add_argument(
        "--single-file",
        action="store_true",
        help="coalesce to one CSV part (small exports only)",
    )

    sub.add_parser("list", help="enumerate the registry queries")

    p_run = sub.add_parser("run", help="run one registry query, print rows")
    p_run.add_argument("query", help="registry query name (see `list`)")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_run.add_argument("--limit", type=int, default=20)

    p_explain = sub.add_parser(
        "explain", help="print one registry query's physical plan"
    )
    p_explain.add_argument("query", help="registry query name (see `list`)")
    p_explain.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_explain.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )

    args = parser.parse_args(argv)
    # rotating-file + console setup, LOG_LEVEL/LOG_FILE-driven
    # (reference src/logging_config.py analog)
    from enriched_crime_incident_data_pipeline_spark.logging_setup import (
        setup_logging,
    )

    setup_logging()

    from enriched_crime_incident_data_pipeline_spark import get_spark, registry
    from enriched_crime_incident_data_pipeline_spark.sinks.output import (
        gold_projection,
        write_csv,
        write_tsv_stdout,
    )

    if args.command == "list":
        for name in sorted(registry.spark_queries()):
            print(name)
        return 0

    if args.command in ("run", "explain"):
        qs = registry.spark_queries()
        if args.query not in qs:
            log.error("unknown query %r — see the `list` subcommand", args.query)
            return 2
        spark = get_spark(app_name=f"pipeline-{args.command}")
        df = qs[args.query](spark, args.sf_dir)
        if args.command == "run":
            df.show(args.limit, truncate=False)
        else:
            df.explain(mode=args.mode)
        return 0

    from enriched_crime_incident_data_pipeline_spark.registry.crime import (
        enriched_incidents,
    )

    spark = get_spark(app_name=f"pipeline-{args.command}")
    enriched = enriched_incidents(spark, args.sf_dir)

    if args.command == "report":
        _log_health(enriched)
        write_tsv_stdout(gold_projection(enriched), limit=args.limit)
    else:
        # the reference's export warns-and-returns on an empty table
        # (src/pipeline/temp.py:17-20); head(1) avoids a full count
        if not enriched.head(1):
            log.warning("incidents table is empty; nothing to export")
            return 0
        write_csv(enriched, args.out, single_file=args.single_file)
        log.info("exported incidents to %s", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
