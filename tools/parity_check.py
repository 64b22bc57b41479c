"""Dev-loop parity checker: run every (queries, oracle_sql) pair in ONE
Spark session against DuckDB at sf0.01 (or argv[1]) and print a summary.

Usage: python tools/parity_check.py [sf_dir] [name_prefix...]

With prefixes, only the names that start with one of them run
(``x6_`` selects the X6 ladder, never ``ext_pandas_x6_...``).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from weather_data_pipeline_spark import registry
from weather_data_pipeline_spark.session import get_spark
from weather_data_pipeline_spark.streaming import jobs
from tests.oracle_harness import compare


def main() -> int:
    args = [a for a in sys.argv[1:]]
    # Only consume argv[1] as sf_dir if it actually holds the test tables —
    # a bare `isdir` probe would swallow a name filter that happens to
    # collide with a local directory name.
    sf_dir = (
        args.pop(0)
        if args and a_is_data_dir(args[0])
        else "/root/testdata/sf0.01"
    )
    spark = get_spark(app_name="parity-check")
    qs, osql = registry.queries(), registry.oracle_sql()
    names = select(qs, args)
    # streaming state and checkpoints of the s_* queries live for the
    # run only, never in the checkout's .scratch/
    with tempfile.TemporaryDirectory(prefix="parity-") as scratch:
        jobs.SCRATCH = scratch
        failed = _check(spark, qs, osql, names, sf_dir)
    print(f"\n{len(names)-len(failed)}/{len(names)} ok; failed: {failed}")
    return 1 if failed else 0


def select(names, prefixes) -> list[str]:
    """The sorted names that start with one of ``prefixes`` (all of
    them when none are given)."""
    return sorted(n for n in names if n.startswith(tuple(prefixes or [""])))


def _check(spark, qs, osql, names, sf_dir) -> list[str]:
    failed = []
    for name in names:
        t0 = time.time()
        if name not in osql:
            try:
                n = qs[name](spark, sf_dir).count()
                print(f"  {name:<36} rows-only n={n} ({time.time()-t0:.1f}s)")
            except Exception as e:
                failed.append(name)
                print(f"✗ {name:<36} ERROR {str(e)[:200]}")
            continue
        try:
            compare(spark, name, qs[name], osql[name], sf_dir)
            print(f"✓ {name:<36} ({time.time()-t0:.1f}s)")
        except AssertionError as e:
            failed.append(name)
            print(f"✗ {name:<36} {str(e)[:400]}")
        except Exception as e:
            failed.append(name)
            print(f"✗ {name:<36} ERROR {str(e)[:300]}")
    return failed


def a_is_data_dir(a: str) -> bool:
    return os.path.isdir(a) and os.path.exists(os.path.join(a, "lineitem.parquet"))


if __name__ == "__main__":
    raise SystemExit(main())
