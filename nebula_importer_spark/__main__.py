"""CLI: ``python -m nebula_importer_spark --config x.yaml``.

The Spark face of the reference's ``nebula-importer --config``
(``/root/reference/pkg/cmd/nebula-importer.go:46-130``): load the YAML,
run every source × tag/edge spec through the mapping core, print per-spec
stats as the reference's logger would. ``--output`` persists the rendered
statement batches as parquet (the stand-in for the reference's client
pool executing them against NebulaGraph).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m nebula_importer_spark",
        description="Config-driven import: reference-format YAML -> rendered "
        "nGQL statement batches.",
    )
    p.add_argument("-c", "--config", required=True, help="reference-format YAML config")
    p.add_argument("-o", "--output", default=None, help="write statement batches here (parquet)")
    p.add_argument(
        "--apply-to", default=None, metavar="DIR",
        help="store analog: apply each spec's INSERT/UPDATE/UPSERT/DELETE "
        "batch to a persistent parquet table under DIR (incremental runs "
        "mutate what earlier runs wrote)",
    )
    p.add_argument("--master", default=None, help="Spark master (default local[*])")
    p.add_argument("--json", action="store_true", help="print one JSON line instead of logs")
    args = p.parse_args(argv)

    from nebula_importer_spark.sources.config import ConfigError, load_config

    # a bad config fails here, before a session start costs seconds
    try:
        cfg = load_config(args.config)
    except ConfigError as e:
        p.error(str(e))

    from pyspark.sql import SparkSession

    from nebula_importer_spark.pipeline.importer import import_config
    from nebula_importer_spark.session import get_spark

    # a caller's active session is used as it is: get_spark's getOrCreate
    # would re-apply every builder setting to it. Only a session created
    # here is configured and stopped here.
    spark = SparkSession.getActiveSession()
    owns_session = spark is None
    if owns_session:
        spark = get_spark(
            app_name="nebula-importer-spark",
            master=args.master or "local[*]",
        )
        spark.sparkContext.setLogLevel("ERROR")
    try:
        result = import_config(
            spark,
            cfg,
            base_dir=os.path.dirname(os.path.abspath(args.config)),
            output_path=args.output,
            apply_path=args.apply_to,
        )
    finally:
        if owns_session:
            spark.stop()

    if args.json:
        print(json.dumps({
            "records": result.n_records,
            "statements": result.n_statements,
            "failed": result.n_failed,
            "wall_sec": round(result.wall_sec, 3),
            "specs": [
                {"source": s.source, "kind": s.kind, "name": s.name,
                 "records": s.n_records, "statements": s.n_statements,
                 "output": s.output_path, "applied": s.applied_path,
                 "table_rows": s.table_rows, "failed": s.n_failed}
                for s in result.specs
            ],
            "sources": [
                {"source": s.source, "raw": s.raw_rows,
                 "parsed": s.parsed_rows, "failed": s.failed_rows}
                for s in result.sources
            ],
            "before_hooks": [h.status for h in result.before_hooks],
            "after_hooks": [h.status for h in result.after_hooks],
        }))
    else:
        for h in result.before_hooks:
            print(f"hook(before) {h.status}: {h.statement}")
        for s in result.specs:
            print(
                f"imported {s.kind} {s.name} from {s.source}: "
                f"{s.n_records} records -> {s.n_statements} statements"
                + (f" -> {s.output_path}" if s.output_path else "")
            )
        for h in result.after_hooks:
            print(f"hook(after) {h.status}: {h.statement}")
        print(
            f"done: {result.n_records} records, {result.n_statements} "
            f"statements, {result.n_failed} failed in {result.wall_sec:.1f}s"
        )
    # the reference's exit contract (pkg/cmd/nebula-importer.go:118-130):
    # stats.IsFailed() -> the process exits non-zero so scripts can gate on it
    if result.is_failed:
        print(
            f"failed to import: {result.n_failed} record(s) dropped",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
