#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north rule: N vs 4N executors).

No real cluster exists in this sandbox, so per the driver instruction the
same job runs at two parallelism levels on the SAME input: ``local[N]`` vs
``local[4N]`` on one 32-core box.

Protocol (variance-hardened — this sandbox's wall clock is noisy):
  1. RAMP once: grow the frontier for RAMP_WAVES waves at local[32] and
     checkpoint.  This fixes an identical input state for every trial.
  2. For each parallelism level, REPS times, in interleaved order
     (N, 4N, 4N, N, ...): truncate the warehouse back to the checkpoint
     version, restart a fresh SparkSession at that level, resume the crawl
     for MEASURE_WAVES waves (exact resume — the continuation re-fetches
     the same URL set every time), record fetched-URLs/sec of the wave
     loop only (session startup + bloom rebuild excluded).
  3. Report per-trial numbers, medians, and
     efficiency = tput(4N) / (4 * tput(N)).

Run:  python BENCH/scaling.py [--quick]
      (or via spark-submit: BENCH/submit.sh BENCH/scaling.py)
Writes BENCH/scaling_runs.json; BENCH/BASELINE.md summarizes.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rendler_spark.engine import CrawlEngine  # noqa: E402
from rendler_spark.session import get_spark  # noqa: E402
from rendler_spark.sources.tables import Warehouse  # noqa: E402
from rendler_spark.synthweb import WebConfig  # noqa: E402

QUICK = "--quick" in sys.argv
SF1 = "--sf1" in sys.argv  # sf1-equivalent web (VERDICT r4 #6): 4x the
# bench-tier hosts/seeds of bench.py's sf1 crawl — waves big enough that
# the fixed per-wave scheduling overhead is amortized, i.e. the scale the
# sf1 throughput claims come from; (4,16) pair only to bound wall time

WH = "/tmp/rendler_scaling_wh"
# N vs 4N pairs (driver instruction allows any): (4,16) is the primary
# evidence pair — at 32 concurrent tasks this gVisor sandbox oversubscribes
# (32 JVM task threads + 32 Python UDF workers on 32 vCPUs) and adds
# erratic multi-10s stalls that say nothing about the engine; (8,32) is
# reported too.
PAIRS = [(4, 16)] if SF1 else [(4, 16), (8, 32)]
REPS = {(4, 16): 2, (8, 32): 2} if QUICK else {(4, 16): 2, (8, 32): 2}
RAMP_WAVES = 3 if (QUICK or SF1) else 4
MEASURE_WAVES = 1  # one steady-state wave (~65k fetches at full config)

CFG = WebConfig(
    n_hosts=1024 if SF1 else (256 if QUICK else 512),
    pages_per_host=256 if SF1 else (256 if QUICK else 512),
    max_links=12,
    n_seeds=256 if SF1 else (256 if QUICK else 512),
    budget=48 if SF1 else (48 if QUICK else 64),
    render_iters=500,  # iterative-refinement render, ~30 ms/page of pure
    # cache-resident ALU — the render-dominated cost profile of the
    # reference (PhantomJS rendered at ~1 s/page).  ALU-bound (not
    # supersample's memory-bandwidth-bound) so the stage parallelizes as
    # well as this host allows; see hw_ceiling below.
)


def _hw_work(n: int) -> int:
    """Pure-CPU allocation-free numpy kernel (module-level: picklable)."""
    import numpy as _np

    x = _np.arange(19200, dtype=_np.int32)
    tmp = _np.empty_like(x)
    for i in range(n):
        _np.multiply(x, 31, out=tmp)
        _np.add(tmp, i, out=tmp)
        _np.bitwise_and(tmp, 255, out=x)
    return n


def _io_work(n: int) -> int:
    """Parquet read+decode+write kernel (pyarrow, no Spark): page-cache
    read, decompression, allocation, and file-write syscalls — the
    non-ALU cost classes a crawl wave actually pays.  Added r5: that
    night's ALU control scaled at 0.929 while the engine (and,
    plausibly, anything doing IO under gVisor) did not — one control
    cannot adjudicate both contention flavors."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    # derive from the SPARK_GRAFT_SF_DIR convention (ADVICE r5): the
    # control must run on hosts with a different testdata layout; the
    # sf0.01 sibling of the configured dir keeps the kernel size fixed
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    src = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.01", "orders.parquet")
    if not os.path.exists(src):
        src = "/root/testdata/sf0.01/orders.parquet"
    total = 0
    for i in range(n):
        t = pq.read_table(src, columns=["o_orderkey", "o_totalprice"])
        total += t.num_rows
        fd, path = tempfile.mkstemp(suffix=".parquet")
        os.close(fd)
        pq.write_table(t.slice(0, 10_000), path)
        os.unlink(path)
    return total


def hw_ceiling(pairs) -> dict:
    """Measure the SANDBOX's own parallel-scaling ceiling with two
    Spark-free controls: a pure-CPU allocation-free numpy kernel (ALU
    contention) and a pyarrow parquet read/decode/write kernel (IO +
    syscall + allocator contention — see _io_work).  Wall-clock on these
    shared/overcommitted vCPUs does not deliver 4x from 4x processes
    even for perfect code — engine efficiency is reported raw and
    normalized; when the two controls disagree, the engine's wave
    (which does both kinds of work) should be judged against the one it
    resembles, not the prettier number."""
    from multiprocessing import Pool

    def bench(nproc, rounds=100_000):
        t0 = time.monotonic()
        with Pool(nproc) as p:
            p.map(_hw_work, [rounds] * nproc)
        return nproc * rounds / (time.monotonic() - t0)

    # import in the PARENT so fork-children inherit the module and the
    # per-child pyarrow import cost doesn't skew small-vs-large pools
    # (measured: it produced a nonsense super-linear 1.25 "ceiling")
    import pyarrow.parquet  # noqa: F401

    def bench_io(nproc, rounds=40):
        with Pool(nproc) as p:
            p.map(_io_work, [1] * nproc)  # warm page cache + workers
            t0 = time.monotonic()
            p.map(_io_work, [rounds] * nproc)
            return nproc * rounds / (time.monotonic() - t0)

    out = {}
    for n_low, n_high in pairs:
        lo_io, hi_io = bench_io(n_low), bench_io(n_high)
        out[f"io_{n_low}->{n_high}"] = round(hi_io / (4 * lo_io), 3)
        lo, hi = bench(n_low), bench(n_high)
        out[f"{n_low}->{n_high}"] = round(hi / (4 * lo), 3)
    return out


def ramp(cores: int = 32) -> int:
    spark = get_spark(f"local[{cores}]", "scaling_ramp", shuffle_partitions=cores)
    eng = CrawlEngine(spark, CFG, WH, n_partitions=cores)
    stats = eng.run(RAMP_WAVES)
    v = eng.wh.last_version()
    print(
        f"# ramp done: version={v} wave_fetches={[s['n_fetched'] for s in stats]}",
        file=sys.stderr,
    )
    spark.stop()
    return v


def one_trial(cores: int, base_version: int) -> dict:
    Warehouse(WH).truncate(base_version)
    spark = get_spark(f"local[{cores}]", f"scaling_{cores}", shuffle_partitions=cores)
    eng = CrawlEngine(spark, CFG, WH, n_partitions=cores)
    eng._update_bloom(eng.wh.read(spark, "seen", upto=base_version))
    t0 = time.monotonic()
    stats = eng.run_waves(base_version, base_version + MEASURE_WAVES)
    wall = time.monotonic() - t0
    spark.stop()
    fetched = sum(s["n_fetched"] for s in stats)
    return {
        "cores": cores,
        "fetched": fetched,
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(fetched / wall, 2),
        "wave_ms": [s["wall_ms"] for s in stats],
    }


def main() -> None:
    ceiling = hw_ceiling(PAIRS)
    print(f"# hw ceiling (pure-CPU multiprocess): {ceiling}", file=sys.stderr)
    v = ramp()
    pairs_out = []
    all_trials = []
    for pair in PAIRS:
        n_low, n_high = pair
        order = []
        for i in range(REPS[pair]):
            order += [n_low, n_high] if i % 2 == 0 else [n_high, n_low]
        trials = []
        for cores in order:
            tr = one_trial(cores, v)
            trials.append(tr)
            all_trials.append(tr)
            print(f"# trial {tr}", file=sys.stderr)
        med = {
            c: statistics.median(t["urls_per_sec"] for t in trials if t["cores"] == c)
            for c in pair
        }
        eff = med[n_high] / (4 * med[n_low])
        ceil = ceiling.get(f"{n_low}->{n_high}", 1.0)
        pairs_out.append(
            {
                "n_low": n_low,
                "n_high": n_high,
                "median_urls_per_sec": med,
                "efficiency": round(eff, 3),
                "hw_ceiling": ceil,
                "efficiency_vs_hw_ceiling": round(eff / ceil, 3),
            }
        )
        print(
            f"# pair {pair}: medians={med} efficiency={eff:.3f} "
            f"(hw ceiling {ceil}, normalized {eff/ceil:.3f})",
            file=sys.stderr,
        )

    out = {
        "metric": "crawl_scaling_efficiency",
        "pairs": pairs_out,
        "trials": all_trials,
        "hw_ceiling": ceiling,
        "config": {
            "hosts": CFG.n_hosts, "budget": CFG.budget,
            "supersample": CFG.supersample, "render_iters": CFG.render_iters,
            "ramp_waves": RAMP_WAVES, "measure_waves": MEASURE_WAVES,
        },
    }
    name = "scaling_runs_sf1.json" if SF1 else "scaling_runs.json"
    Path(__file__).parent.joinpath(name).write_text(json.dumps(out, indent=1))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
