"""Crawl benchmark: closed loop, one client, one crawl at a time.

    python3 perfbench/run.py --workload deep_chain --seed 1 --seconds 20 --trace 0

Run from the repository root. Set-up starts a ``local[nproc]`` Spark
session, generates the workload's web from ``--seed``, writes its pages
and images in the bucketed payload layout and runs a one-wave warm-up
crawl. Then it crawls the web with ``plans.crawl.CrawlEngine`` until
``--seconds`` are used (at least once), checking every crawl against the
generator's ground truth. ``--trace 1`` instead runs one traced crawl,
replays each layer on the largest wave's inputs and reports per-layer
metrics; its spans go to ``.perfbench_work/traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md in this
directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tables as tables_mod  # noqa: E402
from perfbench import webgen  # noqa: E402
from perfbench.crawl_run import (  # noqa: E402
    JobCounter, Workload, median_wave_ms, run_crawl,
)
from perfbench.replay import replay_layers  # noqa: E402
from perfbench.session import start_session, stop_session  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")


def workloads() -> dict[str, Workload]:
    common = dict(payload_buckets=tables_mod.PAYLOAD_BUCKETS,
                  seen_sketch_min_pages=1)
    return {
        # tiny waves: per-wave fixed cost, checkpoint commits, the
        # incremental sketch merge, log compaction, payload pruning
        "deep_chain": Workload(
            webgen.deep_chain, dict(log_compaction_files=2, **common),
            check_simulator=True),
        # binding hot-host budget, mostly-seen links, dead links
        "hot_host_dedup": Workload(
            webgen.hot_host_dedup,
            dict(iter_window_ms=webgen.HOT_WINDOW_MS, **common)),
    }


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _end_to_end(records, setup_s, ok_ratio):
    med = statistics.median(r.crawl_s for r in records)
    # every crawl of a run does the same work
    rec = records[0]
    return {
        "setup_s": setup_s,
        "crawl_s": med,
        "urls_per_s": rec.urls_attempted / med,
        "image_rows_per_s": rec.image_rows / med,
        "wave_p50_ms": median_wave_ms(records),
        "resume_s": statistics.median(r.resume_s for r in records),
        "ckpt_bytes_per_url": statistics.median(
            r.ckpt_bytes / r.urls_attempted for r in records),
        "crawl_ok_ratio": ok_ratio,
    }


def _per_layer(rec, tracer_s, replayed):
    waves = rec.waves
    n = len(waves)
    return {
        "crawl.jobs_per_wave": sum(w.jobs for w in waves) / n,
        "crawl.stages_per_wave": sum(w.stages for w in waves) / n,
        "crawl.tasks_per_wave": sum(w.tasks for w in waves) / n,
        "crawl.failed_tasks": sum(w.failed_tasks for w in waves),
        "crawl.waves": n,
        "checkpoint.files_per_wave": sum(w.files for w in waves) / n,
        "checkpoint.bytes_per_wave": sum(w.bytes for w in waves) / n,
        # traced crawl_s / the same crawl without the tracer's probes
        "trace.overhead_ratio": rec.crawl_s / (rec.crawl_s - tracer_s),
        **replayed,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = workloads()[args.workload]
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(args.trace == 1)
    records, failed, attempted = [], 0, 0
    spark = None
    try:
        t0 = time.monotonic()
        with tracer.span("setup"):
            web = wl.generate(args.seed)
            root = os.path.join(work, "t")
            with tracer.span("setup.session"):
                # the payload is written (Python + pyarrow) while the JVM
                # starts
                with ThreadPoolExecutor(max_workers=1) as pool:
                    payload = pool.submit(tables_mod.write_payload, web, root)
                    spark = start_session(work)
                    payload.result()
                tables = tables_mod.load_tables(spark, web, root)
            with tracer.span("setup.warmup"):
                run_crawl(spark, tables, web, wl, os.path.join(work, "warmup"),
                          Tracer(False), max_waves=1)
        setup_s = time.monotonic() - t0

        def crawl(k, counter=None):
            nonlocal failed, attempted
            attempted += 1
            try:
                rec = run_crawl(spark, tables, web, wl,
                                os.path.join(work, f"crawl{k}"), tracer,
                                counter=counter)
            except Exception as exc:  # a crawl that raised counts as failed
                print(f"crawl {k} raised: {exc!r}", file=sys.stderr)
                failed += 1
                return None
            if rec.errors:
                print(f"crawl {k} failed checks: {rec.errors}",
                      file=sys.stderr)
                failed += 1
            records.append(rec)
            return rec

        if args.trace:
            rec = crawl(0, JobCounter(spark))
            replayed = (replay_layers(spark, tables, web, wl, rec, tracer,
                                      os.path.join(work, "replay"))
                        if rec else {})
        else:
            start = time.monotonic()
            while True:
                crawl(len(records))
                used = time.monotonic() - start
                last = records[-1].crawl_s if records else used
                if used + last > args.seconds:
                    break
    finally:
        if spark is not None:
            stop_session(spark)

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            WORK, "traces", f"{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if not records:
        values = {}
    elif args.trace:
        values = _per_layer(records[0], tracer.self_s, replayed)
    else:
        values = _end_to_end(records, setup_s, 1.0 - failed / attempted)
    units = _units("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": failed == 0 and bool(records),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items() if values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
