#!/usr/bin/env python
"""Bench harness (driver contract): headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: end-to-end reverse-geocode of a deterministic synthetic pages
table (extract → bbox filter → PIP admin join → kNN naming) sized to the sf
(pages = 20 × events rows), reported as elapsed sec + pages/sec.  Additional
per-query timings cover the operator suite's heavy hitters at the same sf.

Scaling evidence (BASELINE.json north_rule): run ``python bench.py --scaling``
to execute the same flagship job at two parallelism levels (N and 4N cores)
and report throughput at both + efficiency; results land in BENCH/BASELINE.md
via bench/scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time


from bench.common import flagship as _flagship  # noqa: E402
from bench.common import materialize_full as _materialize  # noqa: E402
from bench.common import materialize_pages  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))


from bench.common import cpu_sys_steal_total as _cpu_sys_total  # noqa: E402


def _calm_anchor(sf: float, cpus: int) -> float | None:
    """Flagship calm-window reference from the newest committed calmest-run
    artifact (BENCH/BENCH_r*_local.json) at the SAME sf AND cpus — drives
    the adaptive-rep gate and the recorded calm_ratio, instead of a
    hardcoded literal (round-4 ADVICE).  ``None`` when no artifact matches
    both: a 4-core run held to a 32-core anchor always looks stormy and
    pays every flagship rep."""
    import glob
    import re

    def _round_no(path: str) -> int:
        m = re.search(r"BENCH_r(\d+)_local\.json$", path)
        return int(m.group(1)) if m else -1

    # NUMERIC round sort — lexicographic would pin the anchor to r9
    # forever once r10 lands
    for path in sorted(glob.glob(os.path.join(_REPO, "BENCH",
                                              "BENCH_r*_local.json")),
                       key=_round_no, reverse=True):
        try:
            with open(path) as fh:
                rec = json.load(fh)
            if (abs(float(rec.get("sf", -1)) - sf) < 1e-9
                    and int(rec.get("cpus", -1)) == cpus):
                return float(rec["queries"]["reverse_geocode"])
        except Exception:
            continue
    return None


def run_bench(sf_dir: str, cpus: int) -> dict:
    from immich_geodata_zh_tw_spark.session import get_spark

    spark = get_spark(app_name="bench", parallelism=cpus,
                      shuffle_partitions=max(cpus, 8))
    try:
        from immich_geodata_zh_tw_spark.plans import driver_queries as dq

        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        n_pages = n_events * 20
        sf = {1_000: 0.001, 10_000: 0.01, 100_000: 0.1}.get(n_events, n_events / 1e6)

        timings: dict[str, float] = {}

        pages_path = materialize_pages(spark, n_pages)
        # steady-state measurement: one warm-up pass (JIT/codegen/Python
        # workers/broadcasts), drop plan-identity cache, then MIN of timed
        # reps — single-JVM timing is bimodal (GC pauses spread identical
        # runs 6-10 s); min-of-reps is the same protocol bench/scaling.py
        # uses and is the steady-state quantity a long production job sees.
        # The flagship gets 3 reps: its Python-extract stage is the most
        # sensitive to host-side noise (measured 42-78 % sys-time windows
        # on this sandbox spread identical warm reps 5.6-29 s — see
        # BENCH/BASELINE.md variance notes), and one extra rep materially
        # improves the odds of catching a calm window
        # warm at FULL size AND through the same noop action the timed
        # reps use: a count() warm-up leaves the count-pruned subtrees
        # (naming projection, output materialization) JIT-cold, recreating
        # the 20-30 % rep-1 inflation the full-size warm-up exists to kill
        _materialize(_flagship(spark, pages_path))
        spark.catalog.clearCache()
        flagship_rows = _flagship(spark, pages_path).count()
        spark.catalog.clearCache()
        # adaptive reps: 3 base + up to 3 extra while min stays above 2×
        # the calm-window anchor (read from the committed calmest-run
        # artifact, not a literal) — host sys-time storms inflate identical
        # reps 2-20× for minutes at a time, and an extra rep is the
        # cheapest shot at straddling a storm edge; a calm run never pays
        # for the extras.  EVERY rep is recorded (count + spread) so noisy
        # and calm runs stay comparable even though the headline is min-of-N.
        anchor = _calm_anchor(sf, cpus)
        noise_gate = 2.0 * anchor if anchor else float("inf")
        sys0 = _cpu_sys_total()
        flagship_reps: list[float] = []
        for rep in range(6):
            if rep >= 3 and min(flagship_reps) <= noise_gate:
                break
            t0 = time.perf_counter()
            _materialize(_flagship(spark, pages_path))
            flagship_reps.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        flagship_sec = min(flagship_reps)
        timings["reverse_geocode"] = round(flagship_sec, 3)

        bench_queries = [
            "geo_knn_cells", "geo_pip_villages", "geo_cell_histogram",
            "tpch_q1", "dedup_keep_best", "windows_compound",
            "doc_exact_dedup", "doc_minhash_pairs", "doc_dedup_clusters",
            "doc_jaccard_pairs", "doc_gopher_filter", "doc_span_dedup",
            "doc_text_profile", "doc_domain_cap", "doc_vocab",
            # doc_repetition carries the round-5 bigram-LM score columns
            "doc_repetition",
            "embed_pq_adc", "embed_neardup", "extract_chinese_names",
            "release_pipeline",
        ]
        qs = dq.queries()
        for name in bench_queries:
            best = float("inf")
            for _ in range(2):  # min-of-2: single-JVM GC spread is 2× on
                t0 = time.perf_counter()  # identical reps (see BASELINE.md)
                _materialize(qs[name](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            timings[name] = round(best, 3)

        # self-describing noise record (round-4 VERDICT item 4): host-wide
        # sys-time fraction over the whole run + ratio of the recorded
        # flagship min to the committed calm anchor — a storm-window run
        # shows host_sys_frac ≳ 0.3 and calm_ratio ≳ 1.5 and must not be
        # read as a plan regression (see BENCH/BASELINE.md noise protocol)
        sys1 = _cpu_sys_total()
        noise = {
            "flagship_reps": flagship_reps,
            "flagship_rep_spread": round(max(flagship_reps)
                                         / max(min(flagship_reps), 1e-9), 2),
            "calm_anchor_sec": anchor,
            "calm_ratio": (round(flagship_sec / anchor, 2)
                           if anchor else None),
            "host_sys_frac": (round((sys1[0] - sys0[0])
                                    / max(sys1[2] - sys0[2], 1), 3)
                              if sys0 and sys1 else None),
            "host_steal_frac": (round((sys1[1] - sys0[1])
                                      / max(sys1[2] - sys0[2], 1), 3)
                                if sys0 and sys1 else None),
        }
        return {
            "metric": "reverse_geocode_e2e_sec",
            "value": timings["reverse_geocode"],
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "pages": n_pages,
            "pages_per_sec": round(n_pages / flagship_sec, 1),
            "flagship_rows": flagship_rows,
            "cpus": cpus,
            "noise": noise,
        }
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if "--scaling" in sys.argv:
        from bench.scaling import run_scaling

        print(json.dumps(run_scaling(sf_dir, cpus)))
        return
    print(json.dumps(run_bench(sf_dir, cpus)))


if __name__ == "__main__":
    main()
