"""Recompute ``pins.json``: the expected row count and digest of every
batch op and stream the benchmark checks.

    python3 perfbench/pin.py        # from the repository root; needs duckdb

A batch op is pinned from its ``oracle_sql()`` run on DuckDB over the
sf0.1 tables in ``data/sf0.1``, and only if Spark's result has the same digest. A
stream is pinned from the batch form of its operator over the staged
slices (``streams.reference``), and only if one replay of the stream
itself matches it. Any disagreement is printed and nothing is written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root, os.path.join(root, "scripts")]
    import run

    work = os.path.join(root, ".perfbench_work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    run.configure(root, work)

    import duckdb

    import __spark_entry__ as entry
    import streams
    from check_correctness import TABLES
    from checks import PINS_PATH, SF_DIR, digest
    from tafra_spark import get_spark
    from workloads import BATCH_OPS

    src = os.path.join(work, "stream_src")
    streams.stage(os.path.join(SF_DIR, "events.parquet"), src)

    spark = get_spark(app_name="perfbench-pin")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracles = entry.oracle_sql()
    queries = entry.queries()
    pins, bad = {}, []

    def pin(key: str, want: dict, got: dict) -> None:
        print(f"{key}: reference {want} benchmark {got}", file=sys.stderr)
        if got == want:
            pins[key] = want
        else:
            bad.append(key)

    try:
        for name in BATCH_OPS:
            want = digest(con.sql(oracles[name]).df())
            got = digest(queries[name](spark, SF_DIR).toPandas())
            spark.catalog.clearCache()
            pin(name, want, got)
        for name in streams.STREAMS:
            want = digest(streams.reference(spark, name, src))
            out = os.path.join(work, "replay", name)
            query = streams.build(spark, name, src, out).start()
            query.awaitTermination()
            pin(f"stream:{name}", want, digest(streams.read_output(spark, name, out)))
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"not pinned, results disagree: {bad}", file=sys.stderr)
        return 1
    with open(PINS_PATH, "w") as fh:
        json.dump({
            "data": "data/sf0.1 (copy of the repository's sf0.1 test tables)",
            "digest": "checks.digest: canon() then md5 of the CSV with %.17g floats",
            "pins": pins,
        }, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} results to {PINS_PATH}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
