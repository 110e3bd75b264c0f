"""CLI job entry points — the engine's replacement for the reference's
Dagster jobs (`jobs/stations.py`, sensor + asset materializations).

  python -m bike_data_flow_spark.jobs ingest  --landing DIR --source FILE [--polls N]
  python -m bike_data_flow_spark.jobs process --landing DIR --enhanced DIR --checkpoint DIR [--follow]
  python -m bike_data_flow_spark.jobs analytics --enhanced DIR [--map-out HTML]
  python -m bike_data_flow_spark.jobs compact --zone DIR
  python -m bike_data_flow_spark.jobs curate --documents PARQUET --out DIR

`ingest` polls a source (a URL with requests when available, else a
local file path — useful for drills/tests) through the SHA-256 dup
gate. `process` drains the landing zone through the streaming
pipeline, which commits each micro-batch's own files exactly once (a
late file lands in its own day; `processed_at` is the time of the batch
that first landed a row), once with --follow absent, 30 s trigger
otherwise.
`analytics` prints the summary JSON and renders the density map.
`curate` runs the training-data pipeline (quality gate → exact dedup →
LSH near-dup clustering) and writes keeper doc ids.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# density-map render cap: the collect is bounded by the grid spec, but
# a mis-specified grid must not pull millions of cells to the driver
MAX_MAP_CELLS = 50_000


def _fetcher(source: str):
    if source.startswith(("http://", "https://")):  # pragma: no cover - no net here
        import requests

        return lambda: requests.get(source, timeout=30).text
    path = Path(source)
    return lambda: path.read_text(encoding="utf-8")


def cmd_ingest(args) -> int:
    from .streaming.ingest import LandingZone, poll_forever

    landed = poll_forever(
        _fetcher(args.source),
        LandingZone(args.landing),
        interval_s=args.interval,
        max_polls=args.polls,
    )
    print(json.dumps({"landed_files": landed}))
    return 0


def cmd_process(args) -> int:
    from .session import get_spark
    from .streaming.pipeline import start_pipeline

    spark = get_spark("process-job")
    q = start_pipeline(
        spark,
        args.landing,
        args.enhanced,
        args.checkpoint,
        available_now=not args.follow,
    )
    if args.follow:  # pragma: no cover - endless
        q.awaitTermination()
    else:
        q.awaitTermination(600)
    print(json.dumps({"processed": True, "enhanced_dir": args.enhanced}))
    return 0


def cmd_analytics(args) -> int:
    from .operators.analytics import (
        bounding_box,
        grid_density,
        make_grid,
        record_type_distribution,
        station_summary,
        top_density_cells,
    )
    from .operators.enhance import read_enhanced
    from .operators.views import create_views
    from .session import get_spark

    spark = get_spark("analytics-job")
    enhanced = read_enhanced(spark, args.enhanced)
    create_views(spark, enhanced)
    summary = station_summary(enhanced, top_n=args.top_n)
    dist = {
        r["record_type"]: r["cnt"] for r in record_type_distribution(enhanced).collect()
    }
    out = {
        "total_records": summary["total_records"],
        "record_type_distribution": dist,
        "latest_sample": [
            {k: str(v) for k, v in row.items()} for row in summary["latest_sample"]
        ],
    }
    bounds = bounding_box(enhanced).collect()[0].asDict()
    if all(v is not None for v in bounds.values()):
        grid = make_grid(bounds, target_cells=args.cells)
        density = grid_density(enhanced, grid)
        out["top_cells"] = [r.asDict() for r in top_density_cells(density, 10).collect()]
        if args.map_out:
            # presentation-edge collect: bounded by the grid spec, but a
            # mis-specified grid must not pull millions of cells to the
            # driver — cap and skip the render instead
            n_cells = density.count()
            if n_cells > MAX_MAP_CELLS:
                out["map_skipped"] = (
                    f"{n_cells} cells > cap {MAX_MAP_CELLS}; refine --cells"
                )
            else:
                from .viz import render_density_map

                p = render_density_map(
                    [r.asDict() for r in density.collect()], grid, args.map_out
                )
                out["map"] = str(p)
    print(json.dumps(out, default=str))
    return 0


def cmd_curate(args) -> int:
    """Training-data curation over a documents parquet: quality gate →
    exact dedup → LSH near-dup clustering (connected components) → keep
    the min doc_id per cluster; keeper ids land as parquet."""
    import pyspark.sql.functions as F

    from .operators import dedup as D
    from .operators import pins
    from .operators import text as T
    from .session import get_spark

    spark = get_spark("curate-job")
    docs = spark.read.parquet(args.documents)
    c = F.col("text")
    staged = docs.select("doc_id", c, T.tokens(c).alias("_toks"))
    quality = pins.cache(
        staged.filter(
            F.size("_toks").between(args.min_tokens, args.max_tokens)
            & (T.alpha_ratio(c) >= args.min_alpha)
        )
        .select("doc_id", "text")
    )
    exact = D.drop_exact_duplicates(quality)
    pairs = D.minhash_lsh_candidates(exact)
    clusters = D.connected_components(pairs, exact.select("doc_id"))
    keepers = (
        clusters.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    keepers.write.mode("overwrite").parquet(args.out)
    n_in, n_q, n_out = docs.count(), quality.count(), keepers.count()
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "quality_pass": n_q,
                "kept": n_out,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_compact(args) -> int:
    from .operators.compact import compact_partitions
    from .session import get_spark

    spark = get_spark("compact-job")
    done = compact_partitions(spark, args.zone)
    print(json.dumps({"compacted": done}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bike_data_flow_spark.jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("ingest", help="poll source → landing zone (dup-gated)")
    p.add_argument("--landing", required=True)
    p.add_argument("--source", required=True, help="URL or local file path")
    p.add_argument("--polls", type=int, default=1)
    p.add_argument("--interval", type=float, default=30.0)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("process", help="landing → enhanced (streaming per-batch commit)")
    p.add_argument("--landing", required=True)
    p.add_argument("--enhanced", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--follow", action="store_true", help="keep running (30 s trigger)")
    p.set_defaults(fn=cmd_process)

    p = sub.add_parser("analytics", help="summaries + density map over enhanced zone")
    p.add_argument("--enhanced", required=True)
    p.add_argument("--map-out", default=None)
    p.add_argument("--top-n", type=int, default=10)
    p.add_argument("--cells", type=int, default=1000)
    p.set_defaults(fn=cmd_analytics)

    p = sub.add_parser("compact", help="compact small files in a dt= zone")
    p.add_argument("--zone", required=True)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser(
        "curate", help="documents parquet → deduped keeper ids (quality+LSH+CC)"
    )
    p.add_argument("--documents", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--max-tokens", type=int, default=2000)
    p.add_argument("--min-alpha", type=float, default=0.5)
    p.set_defaults(fn=cmd_curate)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
