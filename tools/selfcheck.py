"""Self-verification CLI replicating the driver's correctness gate.

Usage:  python tools/selfcheck.py [sf_dir] [name_filter]
        python tools/selfcheck.py --driver-sim [sf_dir] [n_queries]

``sf_dir`` defaults to the sf0.01 scale beside ``io.DEFAULT_SF_DIR``. An
unknown flag exits non-zero with the usage; ``--help`` prints it.

--driver-sim replicates the DRIVER's environment instead of the engine's:
a vanilla ``SparkSession.builder.getOrCreate()`` (none of session.py's
confs — Arrow off, 200 shuffle partitions, default broadcast threshold),
only the first-N PRIORITY-prefix queries in queries() iteration order, and
NO inter-query hygiene (no release_pins / clearCache — the driver does
none). This is the harness that would have caught the r05 lineage failure
and the r07 img_shard_pack cache-eviction window; run it before every
round-end commit.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fs2_osm_spark.io import DEFAULT_SF_DIR  # noqa: E402
from fs2_osm_spark.oracle import compare, duckdb_connection  # noqa: E402
from fs2_osm_spark.queries import QUERIES, queries_map  # noqa: E402


def run_driver_sim(sf_dir: str, n_queries: int) -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("selfcheck_driver_sim").getOrCreate()
    con = duckdb_connection(sf_dir)
    failures = []
    names = list(queries_map())[:n_queries]
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            if q.oracle is None:
                status = [] if sdf.count() > 0 else ["0 rows (rows-only check)"]
            else:
                status = compare(sdf, q.oracle, con)
        except Exception as e:  # noqa: BLE001
            status = [f"error: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if status:
            failures.append(name)
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(status), flush=True)
        else:
            print(f"ok   {name} ({dt:.1f}s)", flush=True)
        # deliberately NO release_pins()/clearCache() between queries
    print(f"\n[driver-sim] {len(names)} queries, {len(failures)} failures: {failures}")
    return 1 if failures else 0


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Run the registry's queries against the DuckDB oracle.",
        usage="%(prog)s [sf_dir] [name_filter]\n"
        "       %(prog)s --driver-sim [sf_dir] [n_queries]",
    )
    ap.add_argument(
        "sf_dir", nargs="?",
        default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01"),
    )
    ap.add_argument(
        "select", nargs="?", default=None, metavar="name_filter|n_queries",
        help="queries whose name contains this; with --driver-sim, how many "
        "of the first queries in registry order to run (default 50)",
    )
    ap.add_argument(
        "--driver-sim", action="store_true",
        help="a vanilla session, the first n_queries, no inter-query hygiene",
    )
    args = ap.parse_args()
    if args.driver_sim:
        try:
            args.select = int(args.select or 50)
        except ValueError:
            ap.error(f"n_queries must be an integer, not {args.select!r}")
    return args


def main() -> int:
    args = parse_args()
    if args.driver_sim:
        return run_driver_sim(args.sf_dir, args.select)
    sf_dir = args.sf_dir
    name_filter = args.select or ""

    from fs2_osm_spark.pins import release_pins
    from fs2_osm_spark.session import get_spark

    con = duckdb_connection(sf_dir)
    spark = get_spark(cores=8, app_name="selfcheck")
    failures = []
    names = [n for n in sorted(QUERIES) if name_filter in n]
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            if q.oracle is None:
                n = sdf.count()
                status = [] if n > 0 else ["0 rows (rows-only check)"]
            else:
                status = compare(sdf, q.oracle, con)
        except Exception as e:  # noqa: BLE001
            status = [f"error: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if status:
            failures.append(name)
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(status))
        else:
            mode = "rows-only" if q.oracle is None else "oracle"
            print(f"ok   {name} [{mode}] ({dt:.1f}s)")
        # free the session pins (plan persists, CC/PageRank checkpoints)
        # the query left behind, so a 148-query session's storage memory
        # stays flat; the result has been collected by now
        release_pins()

    print(f"\n{len(names)} queries, {len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
