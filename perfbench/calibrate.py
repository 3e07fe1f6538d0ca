"""Reference reading of the paper's full Monte-Carlo study.

Runs all 13 size pairs x 400 replications x 10 methods (52,000 fits)
through the same ``run_grid`` -> parquet -> ``mc_summary`` path as the
``mc_study`` workload and ``run_full_simulation.py``, and prints one
JSON line with wall time, fits/s and the run environment. This is a
calibration of the workload against the paper's scale, not a workload.

Usage: python3 perfbench/calibrate.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

REPS = 400  # the paper's replication count


def main() -> None:
    out = os.path.join(env.WORK, "calibrate")
    env.prepare(out)
    from mrt_data_integration_spark.simulation.harness import METHODS, mc_summary, run_grid
    from run_full_simulation import SIZE_PAIRS

    spark = env.start_session("perfbench-calibrate")
    try:
        t0 = time.perf_counter()
        run_grid(spark, SIZE_PAIRS, REPS).write.mode("overwrite").parquet(
            os.path.join(out, "results.parquet")
        )
        t_grid = time.perf_counter() - t0
        results = spark.read.parquet(os.path.join(out, "results.parquet"))
        n_rows = results.count()
        summary = mc_summary(results).collect()
        wall = time.perf_counter() - t0
        fits = len(SIZE_PAIRS) * REPS * len(METHODS)
        print(
            json.dumps(
                {
                    "fits": fits,
                    "wall_s": round(wall, 1),
                    "run_grid_s": round(t_grid, 1),
                    "fits_per_s": round(fits / wall, 1),
                    "result_rows": n_rows,
                    "summary_rows": len(summary),
                    "env": env.describe(spark),
                }
            )
        )
    finally:
        env.stop_session(spark)
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
