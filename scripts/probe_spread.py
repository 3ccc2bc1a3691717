"""Probe-ratio SPREAD measurement for the iterative graph operators.

The r7 verdict documented a 2.5x run-to-run spread on graph_pagerank's
10x probe ratio (3.0x, 3.63x and 7.63x on identical code) and asked
that noisy iterative-operator probes be quoted as min-max over >= 2
runs PLUS an isolated control, the way the headline suite noise
already is. This script produces that artifact:

- base timings at sf0.1 (best-of-2, same discipline as bench.py);
- a 10x replica built once; each probe query run N times IN-SUITE
  (same session, each run in its own staging scope — the bench
  posture);
- an ISOLATED control: a fresh SparkSession per query running ONLY
  that query on the same replica (what the timing looks like without
  any suite pollution).

Writes docs/PROBE_SPREAD_<tag>.json (tag = argv[2], default r09):
  {query: {base, suite_runs: [...], suite_ratio_min/max,
           isolated, isolated_ratio}}

Usage: python scripts/probe_spread.py [runs] [tag]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = "/root/testdata/sf0.1"
PROBES = ["graph_pagerank", "graph_communities", "graph_triangles", "graph_kcore"]
N_COPIES = 10


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_best2(queries, name, spark, sf_dir) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _materialize(queries[name](spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from scale_probe import domain_strides, replicate

    from pipelines_spark.plans.staging import staging_scope
    from pipelines_spark.queries import QUERIES
    from pipelines_spark.session import get_spark

    out_dir = Path(tempfile.mkdtemp(prefix="probe_spread_"))
    strides = domain_strides(SF_DIR)
    for table in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        replicate(table, out_dir, N_COPIES, src=SF_DIR, strides_by_col=strides)

    result: dict[str, dict] = {}

    # base + in-suite probe runs: one session, one staging scope per run
    spark = get_spark("probe_spread_suite")
    QUERIES["a6_distinct_segments"](spark, SF_DIR).count()  # warm
    for name in PROBES:
        with staging_scope():
            base = _time_best2(QUERIES, name, spark, SF_DIR)
        suite = []
        for _ in range(runs):
            with staging_scope():
                t0 = time.perf_counter()
                _materialize(QUERIES[name](spark, str(out_dir)))
                suite.append(round(time.perf_counter() - t0, 3))
        result[name] = {
            "base": base,
            "suite_runs": suite,
            "suite_ratio_min": round(min(suite) / base, 2),
            "suite_ratio_max": round(max(suite) / base, 2),
        }
    spark.stop()

    # isolated controls: fresh session per query, nothing else ran
    for name in PROBES:
        spark = get_spark(f"probe_spread_iso_{name}")
        QUERIES["a6_distinct_segments"](spark, SF_DIR).count()
        t0 = time.perf_counter()
        _materialize(QUERIES[name](spark, str(out_dir)))
        iso = round(time.perf_counter() - t0, 3)
        result[name]["isolated"] = iso
        result[name]["isolated_ratio"] = round(
            iso / result[name]["base"], 2
        )
        spark.stop()

    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    tag = sys.argv[2] if len(sys.argv) > 2 else "r09"
    out = Path(__file__).resolve().parent.parent / "docs" / f"PROBE_SPREAD_{tag}.json"
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
