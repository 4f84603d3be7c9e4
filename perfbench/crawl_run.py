"""One timed crawl: ``plans.crawl.CrawlEngine`` seeded by a
``run(resume=True)`` call with ``max_iters=0``, then stepped one wave per
call, interrupted after wave RESUME_AFTER and finished by a fresh engine
on the same checkpoint, then checked against the generator's ground
truth."""

from __future__ import annotations

import dataclasses
import os
import statistics
import time
from typing import Callable

import pyarrow.parquet as pq

from azuresearchcrawlervector_spark.config import CrawlConfig
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.simulator import simulate

from perfbench.spans import Tracer
from perfbench.webgen import Web


# the crawl stops after this wave; a fresh engine resumes it
RESUME_AFTER = 1


@dataclasses.dataclass
class Workload:
    """How a workload crawls its web."""

    generate: Callable[[int], Web]
    cfg_kw: dict  # CrawlConfig settings besides root_url and max_pages
    # compare seen set and visit order with the reference simulator
    check_simulator: bool = False

    def config(self, web: Web) -> CrawlConfig:
        return CrawlConfig(root_url=web.seeds[0],
                           max_pages=web.max_pages, **self.cfg_kw)


@dataclasses.dataclass
class WaveStats:
    iter: int
    wall_s: float
    due: int
    resumed: bool        # committed by the fresh engine
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    files: int = 0       # checkpoint files added by the wave
    bytes: int = 0       # checkpoint bytes added by the wave


@dataclasses.dataclass
class CrawlRecord:
    crawl_s: float
    resume_s: float
    waves: list[WaveStats]
    urls_attempted: int
    image_rows: int
    ckpt_bytes: int
    errors: list[str]
    ckpt_dir: str


class JobCounter:
    """Spark job/stage/task counts from ``statusTracker()`` deltas. Jobs
    of a run carry no job group, so all of them are listed under None."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.known = set(self.tracker.getJobIdsForGroup(None))

    def _drain_listener(self) -> None:
        # the tracker is fed by the listener bus; wait until it caught up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def delta(self) -> tuple[int, int, int, int]:
        """(jobs, stages that ran tasks, tasks, failed tasks) since the
        previous call."""
        self._drain_listener()
        now = set(self.tracker.getJobIdsForGroup(None))
        new = now - self.known
        self.known = now
        stages = tasks = failed = 0
        for job in new:
            info = self.tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage (its shuffle output was reused)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return len(new), stages, tasks, failed


# checkpoint subdirectories whose files carry wall-clock timings, so
# their sizes differ from run to run
_TIMED_DIRS = ("manifest", "metrics")


def dir_usage(root: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``root``, leaving out its ``skip`` subdirs."""
    files = size = 0
    for d, subdirs, names in os.walk(root):
        if d == root:
            subdirs[:] = [s for s in subdirs if s not in skip]
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _wave_due(engine: CrawlEngine, iteration: int) -> int:
    m = engine.store.manifest_at(iteration)
    rows = [r for r in m.metrics_rows if r[1] == -1]
    return int(rows[0][2]) if rows else 0


def run_crawl(spark, tables, web: Web, wl: Workload, ckpt: str,
              tracer: Tracer, counter: JobCounter | None = None,
              max_waves: int | None = None) -> CrawlRecord:
    """Crawl ``web`` to the finished manifest (or ``max_waves`` waves),
    one wave per ``run(resume=True)`` call. ``counter`` (traced runs)
    adds per-wave Spark and checkpoint counts."""
    pages, images, robots = tables
    cfg = wl.config(web)

    def engine(max_iters: int) -> CrawlEngine:
        return CrawlEngine(spark, pages, cfg, ckpt, images=images,
                           robots=robots, seeds=web.seeds,
                           max_iters=max_iters)

    waves: list[WaveStats] = []
    resume_s = 0.0
    usage = (0, 0)

    def probe(ws: WaveStats | None) -> None:
        """Spark and checkpoint counts since the previous probe."""
        nonlocal usage
        tp = time.monotonic()
        delta = counter.delta()
        now = dir_usage(ckpt, _TIMED_DIRS)
        if ws is not None:
            ws.jobs, ws.stages, ws.tasks, ws.failed_tasks = delta
            ws.files, ws.bytes = now[0] - usage[0], now[1] - usage[1]
        usage = now
        tracer.self_s += time.monotonic() - tp

    with tracer.span("crawl"):
        t0 = time.monotonic()
        # the seed step (pending 0) is part of the crawl, not a wave
        eng = engine(0)
        with tracer.span("seed"):
            eng.run(resume=True)
        if counter is not None:
            probe(None)
        last_iter = 0
        while True:
            eng.max_iters = last_iter + 1
            resumed = last_iter == RESUME_AFTER
            tw = time.monotonic()
            with tracer.span("wave", iter=last_iter + 1):
                if resumed:
                    # interrupted crawl: a fresh engine resumes it
                    with tracer.span("resume"):
                        eng = engine(last_iter + 1)
                        res = eng.run(resume=True)
                    resume_s = time.monotonic() - tw
                else:
                    res = eng.run(resume=True)
            wall = time.monotonic() - tw
            m = res.manifest
            if m.finished and m.iter == last_iter:
                break  # the call found nothing left and closed the crawl
            if m.iter != last_iter + 1:
                raise RuntimeError(f"wave {last_iter + 1} was not committed")
            ws = WaveStats(iter=m.iter, wall_s=wall,
                           due=_wave_due(eng, m.iter), resumed=resumed)
            if counter is not None:
                probe(ws)
            waves.append(ws)
            last_iter = m.iter
            if m.finished or (max_waves and last_iter >= max_waves):
                break
        crawl_s = time.monotonic() - t0
    errors = check_crawl(web, cfg, wl.check_simulator, res) \
        if m.finished else []
    return CrawlRecord(
        crawl_s=crawl_s, resume_s=resume_s, waves=waves,
        urls_attempted=sum(w.due for w in waves),
        image_rows=_image_rows(res), ckpt_bytes=dir_usage(ckpt)[1],
        errors=errors, ckpt_dir=ckpt)


def _read(paths: list[str], columns: list[str]) -> dict[str, list]:
    out: dict[str, list] = {c: [] for c in columns}
    for p in paths:
        for c, values in pq.read_table(p, columns=columns).to_pydict().items():
            out[c] += values
    return out


def _image_rows(res) -> int:
    paths = res.manifest.deltas.get("documents") or []
    if not paths:
        return 0
    return sum(1 for v in _read(paths, ["img_ok"])["img_ok"] if v)


def check_crawl(web: Web, cfg: CrawlConfig, check_simulator: bool,
                res) -> list[str]:
    """Compare a finished crawl with the generator's ground truth.
    Reads the checkpoint's parquet files directly, without Spark."""
    errors = []
    m = res.manifest
    log = _read(m.deltas["frontier_log"], ["url", "state"])
    docs = _read(m.deltas["documents"], ["url", "seq", "img_ok", "caption_ok"])
    seen = set(log["url"])
    if seen != web.reachable:
        errors.append(f"seen set: {len(seen - web.reachable)} unexpected, "
                      f"{len(web.reachable - seen)} missing")
    if len(log["url"]) != len(seen):
        errors.append(f"frontier_log: {len(log['url']) - len(seen)} "
                      "URLs attempted twice")
    failed = sum(1 for s in log["state"] if s != "fetched")
    if failed != web.dead_reached:
        errors.append(f"failed fetches {failed} != dead links reached "
                      f"{web.dead_reached}")
    if len(docs["url"]) != len(web.doc_urls) or set(docs["url"]) != web.doc_urls:
        errors.append(f"documents {len(docs['url'])} != successful "
                      f"fetches {len(web.doc_urls)}")
    bad_img = sum(1 for a, b in zip(docs["img_ok"], docs["caption_ok"])
                  if not (a and b))
    if bad_img:
        errors.append(f"{bad_img} documents without img_ok and caption_ok")
    if check_simulator:
        errors += _check_simulator(web, cfg, seen, docs)
    return errors


def _check_simulator(web: Web, cfg: CrawlConfig, seen: set[str],
                     docs: dict) -> list[str]:
    """Per seed host (hosts crawl independently: same-host links only,
    politeness per host), seen set and visit order must equal the
    reference simulator's."""
    from azuresearchcrawlervector_spark.core.urls import host_of

    errors = []
    order = [u for _, u in sorted(zip(docs["seq"], docs["url"]))]
    for seed in web.seeds:
        host = host_of(seed)
        sim = simulate(web.graph, dataclasses.replace(cfg, root_url=seed),
                       robots_delay=web.crawl_delay_ms)
        if sim.seen != {u for u in seen if host_of(u) == host}:
            errors.append(f"simulator seen set differs on {host}")
        if [d["url"] for d in sim.documents] != \
                [u for u in order if host_of(u) == host]:
            errors.append(f"simulator visit order differs on {host}")
    return errors


def median_wave_ms(records: list[CrawlRecord]) -> float:
    """Median wall time of the waves a running engine committed (the
    resumed wave is ``resume_s``)."""
    return statistics.median(w.wall_s * 1000.0 for r in records
                             for w in r.waves if not w.resumed)
