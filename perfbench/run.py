"""Benchmark of record: one run of one workload.

    python3 perfbench/run.py --workload market_lakehouse --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its seeded inputs under
``.perfbench_work/``, runs set-up and the workload's jobs in one fresh
engine process (worker.py), checks every output independently (check.py),
removes its scratch files and prints, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a detail record (effective engine
confs, job phases and sample counts, failed_ratio, job errors).

``--workload all`` runs both workloads one after another and prints one
table with every end-to-end metric per workload. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_engineering_etl_pipeline_spark"
WORKLOADS = ("market_lakehouse", "corpus_prep")
#: whole-run deadline, inside the 180 s one run may take
DEADLINE_S = 170.0


def _engine_env(work: str) -> dict:
    """Session shape from the machine: CPUs from the affinity mask, driver
    memory a quarter of physical RAM (at most 4 GiB), scratch dirs and the
    Python path inside the run's own work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    driver_mb = min(4096, mem_kib // 1024 // 4)
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    for d in ("local", "ckpt", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "ckpt"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def proc_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class RssMonitor:
    """Peak resident memory of a process tree (Python driver, JVM, Python
    workers): every 0.5 s the tree's current total, of which the peak is
    kept. Python workers are forked from one daemon and share its pages,
    so each Python process counts its proportional share (``Pss`` from
    ``smaps_rollup``); the JVM shares nothing and counts ``VmRSS`` from
    ``status``, which is cheap to read at any heap size."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kib = 0
        #: (JVM KiB, Python KiB) at the peak
        self.peak_split = (0, 0)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    @staticmethod
    def _kib(pid: int) -> tuple[bool, int]:
        """(is the JVM, resident KiB) of one process."""
        with open(f"/proc/{pid}/status") as f:
            fields = dict(ln.split(":", 1) for ln in f if ":" in ln)
        if fields.get("Name", "").strip() == "java":
            return True, int(fields.get("VmRSS", "0 kB").split()[0])
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for ln in f:
                if ln.startswith("Pss:"):
                    return False, int(ln.split()[1])
        return False, 0

    def sample(self) -> None:
        jvm = py = 0
        for p in proc_tree(self.pid):
            try:
                is_jvm, kib = self._kib(p)
            except (OSError, ValueError):  # process ended mid-read
                continue
            if is_jvm:
                jvm += kib
            else:
                py += kib
        if jvm + py > self.peak_kib:
            self.peak_kib, self.peak_split = jvm + py, (jvm, py)

    def _run(self):
        while not self._stop.wait(0.5):
            self.sample()

    def stop(self) -> tuple[float, dict]:
        """Peak MiB and its JVM / Python split."""
        self._stop.set()
        self._t.join()
        jvm, py = self.peak_split
        return self.peak_kib / 1024.0, {"jvm_mb": jvm / 1024.0,
                                        "python_mb": py / 1024.0}


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session (JVM, Python workers) and
    wait until none is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        alive = False
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    if os.getpgid(int(name)) == proc.pid:
                        alive = True
                        break
                except ProcessLookupError:
                    continue
        if not alive:
            return
        time.sleep(0.05)


def _engine(args: list[str], env: dict, work: str, log: str,
            deadline: float) -> tuple[int, tuple[float, dict]]:
    """Run worker.py in its own session; return (exit code, (peak RSS MiB,
    its split))."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
           *args, "--t0", repr(time.time())]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=lf, stderr=lf,
                                start_new_session=True)
    mon = RssMonitor(proc.pid)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        rss = mon.stop()
        _kill_group(proc)
    return rc, rss


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    from perfbench import check, gen, workloads

    t_start = time.time()
    deadline = t_start + DEADLINE_S
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    try:
        # inputs (outside every timed region)
        if workload == "market_lakehouse":
            man = gen.make_market(in_dir, seed, **gen.MARKET_SIZE)
        else:
            man = gen.make_corpus(in_dir, seed, **gen.CORPUS_SIZE)
        env = _engine_env(work)
        log = os.path.join(work, "engine.log")
        args = ["--workload", workload, "--seed", str(seed), "--seconds",
                str(seconds), "--trace", str(trace), "--in-dir", in_dir,
                "--work-dir", work]
        rc, (rss, rss_split) = _engine(args, env, work, log, deadline)
        if rc != 0:
            raise RuntimeError(f"engine process failed (exit {rc})")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        # independent checks, after the engine has exited
        jobs = res["jobs"] + res.get("traced", [])
        errors = [j["error"] for j in jobs if "error" in j]
        if workload == "market_lakehouse":
            want = check.expected_market(in_dir, workloads.MARKET_TOP_N)
            compare = check.compare_market
        else:
            want = check.expected_corpus(
                in_dir, workloads.MIN_QUALITY, workloads.PACK_BUDGET,
                workloads.N_SHARDS)
            compare = check.compare_corpus
        bad = [compare(j["out"], want) for j in jobs if "out" in j]
        mismatched = sum(b > 0 for b in bad)
        attempted = len(jobs)
        failed = len(errors) + mismatched

        warm = [j for j in res["jobs"] if j["phase"] == "warm"]
        p50 = statistics.median(j["seconds"] for j in warm)
        # engine CPU seconds of a job without the JIT compiler's share: the
        # work a job costs, which the machine's drifting speed and the
        # hypervisor's steal leave steadier than wall time
        cpu_p50 = statistics.median(j["cpu_s"] - j["jit_s"] for j in warm)
        # bytes one job leaves on disk (data, manifest, checksums): the
        # smallest over the run's jobs, as the same rows land in a varying
        # number of files from job to job
        stored = min(_dir_bytes(os.path.join(work, "out", f"job{j['k']:04d}"))
                     for j in jobs)
        e2e = {
            "setup_s": res["setup_s"],
            "cold_job_s": res["jobs"][0]["seconds"],
            "job_s_p50": p50,
            "input_rows_per_s": man["rows"] / p50,
            "job_cpu_s_p50": cpu_p50,
            "input_rows_per_cpu_s": man["rows"] / cpu_p50,
            "peak_rss_mb": rss,
            "stored_bytes_per_input_byte": stored / man["bytes"],
        }
        detail = {
            "workload": workload, "seed": seed, "inputs": man,
            "confs": res["confs"], "setup_split": res["setup_split"],
            "peak_rss_split": rss_split,
            "phases": [[j["phase"], round(j["seconds"], 4),
                        round(j["cpu_s"], 2), round(j["steal_s"], 2),
                        round(j["gc_s"], 2), round(j["jit_s"], 2)]
                       for j in res["jobs"]],
            "quiesce_s": res["quiesce_s"],
            "warm_jobs": len(warm), "attempted": attempted,
            "failed_ratio": failed / attempted,
            "errors": errors[:3], "mismatched_jobs": mismatched,
            "run_s": time.time() - t_start,
        }
        out = {"correct": failed == 0, "attempted": attempted,
               "failed": failed, "e2e": e2e, "detail": detail}
        if trace:
            out["per_layer"] = res["per_layer"]
            out["spans"] = len(res.get("spans", []))
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(names: list[dict], values: dict) -> dict:
    """Every metric of ``names``; a per-layer counter of a layer the
    workload never calls reads 0 (the detail line lists those names)."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package '{PACKAGE}' not found under {ROOT}; run "
              "from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()
    if a.workload == "all":
        return _run_all(a, spec)
    r = run_one(a.workload, a.seed, a.seconds, a.trace)
    detail = dict(r["detail"], table=_table(r["e2e"], r["detail"]))
    if a.trace:
        detail["spans"] = r["spans"]
        detail["tracing_overhead_s"] = r["per_layer"].get("trace.overhead_s")
        detail["per_layer_not_called"] = [
            m["name"] for m in spec["per_layer"]
            if m["name"] not in r["per_layer"]]
    print(json.dumps({"detail": detail}, default=str))
    metrics = (_metrics(spec["per_layer"], r["per_layer"]) if a.trace
               else _metrics(spec["end_to_end"], r["e2e"]))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


def _table(e2e: dict, detail: dict) -> dict:
    """Every end-to-end metric of one run with its unit and sample count,
    plus failed_ratio."""
    n = detail["warm_jobs"]
    out = {
        "setup_s": (e2e["setup_s"], "s", 1),
        "cold_job_s": (e2e["cold_job_s"], "s", 1),
        "job_s_p50": (e2e["job_s_p50"], "s", n),
        "input_rows_per_s": (e2e["input_rows_per_s"], "rows/s", n),
        "job_cpu_s_p50": (e2e["job_cpu_s_p50"], "s", n),
        "input_rows_per_cpu_s": (e2e["input_rows_per_cpu_s"], "rows/s", n),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MiB", 1),
        "stored_bytes_per_input_byte": (e2e["stored_bytes_per_input_byte"],
                                        "ratio", 1),
        "failed_ratio": (detail["failed_ratio"], "ratio",
                         detail["attempted"]),
    }
    return out


def _run_all(a, spec) -> int:
    rows = {}
    ok = True
    for w in WORKLOADS:
        r = run_one(w, a.seed, a.seconds, 0)
        ok &= r["correct"]
        rows[w] = _table(r["e2e"], r["detail"])
    print(f"{'workload':<18} {'metric':<28} {'value':>14} {'unit':<7} samples")
    for w, ms in rows.items():
        for name, (v, unit, n) in ms.items():
            print(f"{w:<18} {name:<28} {v:>14.4f} {unit:<7} {n}")
    print(json.dumps({"correct": ok, "workloads": {
        w: {k: {"value": v, "unit": u, "samples": n}
            for k, (v, u, n) in ms.items()} for w, ms in rows.items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
