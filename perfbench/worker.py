"""The engine process of one benchmark run (started by run.py).

Timeline, all in one process and one session:

1. set-up: ``session.get_spark`` + ``sources.register_sources`` + one
   trivial action. Its end is stamped against the parent's spawn time, so
   set-up covers interpreter start, imports and the JVM.
2. the cold job: the first job of the fresh session.
3. jobs in a closed loop (one client) until ``--seconds`` have passed:
   warm-up jobs for the first third, which let the JIT settle, then the
   timed warm jobs. Engine pins and the cache are released between jobs;
   the first warm-up job and the first timed job start from a quiet engine
   (``_quiesce``).
4. with ``--trace 1`` the last third runs traced jobs instead, so the
   tracing overhead comes from one session.

Outputs are not checked here — the worker only records what each job wrote
in ``result.json``, and run.py checks them after this process has exited.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time


def _confs(spark) -> dict:
    keys = ["spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.adaptive.enabled", "spark.local.dir"]
    out = {k: spark.sparkContext.getConf().get(k, None) for k in keys}
    out["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions")
    out["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    out["checkpoint_dir"] = spark.sparkContext.getCheckpointDir()
    out["spark.version"] = spark.version
    return out


class PinSampler:
    """Traced runs only: samples Spark's storage status every 50 ms for
    RDDs persisted by the engine (the tracer's own ``__trace_`` views are
    excluded): distinct ids seen and the peak of their cached bytes."""

    def __init__(self, sc, view_prefix: str):
        # cacheTable names its RDD "In-memory table <view>"
        self.sc, self.prefix = sc, f"In-memory table {view_prefix}"
        self.seen: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def engine_rdds(self) -> list:
        return [r for r in self.sc._jsc.sc().getRDDStorageInfo()
                if not (r.name() or "").startswith(self.prefix)]

    def live_pins(self) -> int:
        ids = self.sc._jsc.getPersistentRDDs()
        names = {int(k): (ids.get(k).name() or "") for k in ids.keySet()}
        return sum(not n.startswith(self.prefix) for n in names.values())

    def _run(self):
        while not self._stop.wait(0.05):
            try:
                rdds = self.engine_rdds()
                ids = self.sc._jsc.getPersistentRDDs()
                for k in ids.keySet():
                    if not (ids.get(k).name() or "").startswith(self.prefix):
                        self.seen.add(int(k))
            except Exception:  # session shutting down
                return
            self.peak_bytes = max(self.peak_bytes,
                                  sum(r.memSize() + r.diskSize() for r in rdds))

    def start(self):
        self._t.start()

    def stop(self):
        self._stop.set()
        self._t.join(timeout=5)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from data_engineering_etl_pipeline_spark import caching
    from data_engineering_etl_pipeline_spark.session import get_spark
    from data_engineering_etl_pipeline_spark.sources import register_sources

    from perfbench import workloads
    from perfbench.trace import TRACE_VIEW_PREFIX, NullTracer, Tracer

    t_set = time.perf_counter()
    spark = get_spark()
    t_sess = time.perf_counter()
    register_sources(spark)
    t_reg = time.perf_counter()
    spark.range(1).count()
    setup_s = time.time() - a.t0
    res: dict = {"setup_s": setup_s, "confs": _confs(spark)}
    t_ready = time.perf_counter()

    out_root = os.path.join(a.work_dir, "out")

    def run_job(k: int, tr) -> dict:
        job_dir = os.path.join(out_root, f"job{k:04d}")
        job = (workloads.market_job if a.workload == "market_lakehouse"
               else workloads.corpus_job)
        return {"out": job(spark, a.in_dir, job_dir, tr), "job_dir": job_dir}

    def timed(k: int, tr) -> dict:
        cpu, steal, jvm = _tree_cpu_s(), _steal_s(), _jvm_gc_jit_s(spark)
        t = time.perf_counter()
        try:
            info = run_job(k, tr)
        except Exception as e:  # a failed operation is counted, not fatal
            info = {"error": f"{type(e).__name__}: {e}"[:2000]}
        info["seconds"] = time.perf_counter() - t
        info["cpu_s"] = _tree_cpu_s() - cpu
        info["steal_s"] = _steal_s() - steal
        info["gc_s"], info["jit_s"] = (b - a for a, b in
                                       zip(jvm, _jvm_gc_jit_s(spark)))
        info["k"] = k
        # warm code, cold data: drop engine pins and the cache between jobs
        caching.release_engine_pins()
        spark.catalog.clearCache()
        return info

    jobs = []
    null = NullTracer()
    jobs.append(dict(timed(0, null), phase="cold"))
    res["quiesce_s"] = _quiesce()
    # the budget is split in thirds: warm-up jobs (checked, not timed into
    # the result), then timed warm jobs, then — traced only — traced jobs;
    # untraced, the timed warm jobs take both later thirds
    third = a.seconds / 3
    # traced only: the engine's pins are watched over the warm-up jobs,
    # where no span materialization already holds the pinned data
    sampler = (PinSampler(spark.sparkContext, TRACE_VIEW_PREFIX)
               if a.trace else None)
    pins_after = []
    k = 1
    t_loop = time.perf_counter()
    for phase, until in (("warmup", third),
                         ("warm", third * 2 if a.trace else a.seconds)):
        if phase == "warmup" and sampler:
            sampler.start()
        if phase == "warm":
            if sampler:
                sampler.stop()
            res["quiesce_s"] += _quiesce()
        while time.perf_counter() - t_loop < until or not any(
                j["phase"] == phase for j in jobs):
            jobs.append(dict(timed(k, null), phase=phase))
            if sampler and phase == "warmup":
                pins_after.append(sampler.live_pins())
            k += 1
    res["jobs"] = jobs
    res["setup_split"] = {"get_spark_s": t_sess - t_set,
                          "register_sources_s": t_reg - t_sess}

    if a.trace:
        tr = Tracer(spark)
        traced = []
        _quiesce()
        t_tr = time.perf_counter()
        while time.perf_counter() - t_tr < third or not traced:
            tr.run_id = k
            t = time.perf_counter()
            with tr.span("job"):
                try:
                    info = run_job(k, tr)
                except Exception as e:
                    info = {"error": f"{type(e).__name__}: {e}"[:2000]}
            wall = time.perf_counter() - t
            tr.release()
            with tr.span("caching"):
                caching.release_engine_pins()
                spark.catalog.clearCache()
            tr.harvest()
            traced.append(dict(info, seconds=wall, k=k, phase="traced"))
            k += 1
        res["traced"] = traced
        res["per_layer"] = _per_layer(tr, traced, jobs, sampler, pins_after,
                                      setup_s, t_sess - t_set,
                                      t_reg - t_sess)
        res["spans"] = tr.dump()
    res["loop_s"] = time.perf_counter() - t_ready
    _dump(a.work_dir, res, "result.json")
    spark.stop()
    return 0


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers)."""
    from perfbench.run import proc_tree

    ticks = 0
    for p in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime + stime
        except (OSError, ValueError, IndexError):  # process ended mid-read
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Seconds the driver JVM has spent so far in garbage collection and in
    JIT compilation."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def _steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine so far, summed
    over its CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _quiesce(busy_share: float = 0.1, limit_s: float = 8.0) -> float:
    """Start each job from a quiet engine: wait until the engine's
    processes use under ``busy_share`` of one CPU over a 0.25 s window —
    background JIT compilation and cleanup of the previous job have
    drained — or ``limit_s`` has passed. Returns the seconds waited. No
    JVM GC is forced: a full GC left the next job slower (warm corpus jobs
    ~11 s after one, ~8 s without)."""
    t0 = time.perf_counter()
    prev = _tree_cpu_s()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.25)
        cur = _tree_cpu_s()
        if cur - prev < busy_share * 0.25:
            break
        prev = cur
    return time.perf_counter() - t0


def _per_layer(tr, traced, untraced, sampler, pins_after, setup_s,
               get_spark_s, sources_s) -> dict:
    """Per-job means of every layer's counters over the traced jobs."""
    from perfbench.trace import GENERIC

    n = len(traced)
    tot = tr.layer_totals()
    out: dict[str, float] = {}
    for layer, t in tot.items():
        if layer == "job":
            continue
        for key in GENERIC:
            out[f"{layer}.{key}"] = t[key] / n
        if layer == "io":
            out["io.read_bytes"] = t["read_bytes"] / n
    c = tr.counters
    for key, v in c.items():
        out[key] = v / n
    rin, rout = c.get("relational.pit_rows_in"), c.get("relational.pit_rows_out")
    if rin:
        out["relational.fanout"] = rout / rin
    out.pop("relational.pit_rows_in", None)
    out.pop("relational.pit_rows_out", None)
    written = [j["job_dir"] for j in traced if "job_dir" in j]
    if written:
        sizes = [_disk(p) for p in written]
        out["io.write_bytes"] = statistics.mean(s[0] for s in sizes)
        out["io.files_written"] = statistics.mean(s[1] for s in sizes)
    out["caching.pins_taken"] = len(sampler.seen) / len(pins_after)
    out["caching.pins_live_after_job"] = max(pins_after)
    out["caching.cached_bytes_peak"] = sampler.peak_bytes
    # set-up is one span tree: session (spawn → ready) with register_sources
    # as its only child span
    out["session.self_s"] = setup_s - sources_s
    out["session.jvm_start_s"] = get_spark_s
    out["sources.self_s"] = sources_s
    selfs = tr.self_times()
    wall = sum(s["end"] - s["start"] for s in tr.spans if s["parent"] is None)
    out["trace.wall_s"] = wall
    out["trace.self_sum_s"] = sum(selfs.values())
    warm = [j["seconds"] for j in untraced if j["phase"] == "warm"]
    out["trace.overhead_s"] = (statistics.median(j["seconds"] for j in traced)
                               - (statistics.median(warm) if warm else 0.0))
    return out


def _disk(path: str) -> tuple[int, int]:
    """Bytes and data files under ``path`` (checksums and markers left out
    of the file count, not of the bytes)."""
    size = files = 0
    for root, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(root, f))
            files += not f.startswith((".", "_"))
    return size, files


def _dump(work_dir: str, res: dict, name: str) -> None:
    tmp = os.path.join(work_dir, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(res, f, default=str)
    os.replace(tmp, os.path.join(work_dir, name))


if __name__ == "__main__":
    sys.exit(main())
