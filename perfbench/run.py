"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Generates the seeded inputs (cached
under ``.perfbench/``), runs the workload in child processes and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: a ``local[N]`` child
(N = usable CPUs) starts a session, checks the workload's outputs against
the DuckDB oracle, warms up and times the workload's operation. ``--trace 1``
reports the per-layer metrics: a child that times an untraced baseline and
then runs every layer with the Spark event log on, and a ``local[1]`` child
for the scaling ratio. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEADLINE_S = 170.0  # every child is stopped before the run's 180 s limit


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem() -> str:
    """Driver heap from the host: a quarter of MemTotal, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, total_kb // 1024 // 4))}m"


def build_fs_shim(root: str, base: str) -> str:
    """Compile the engine's filesystem shim into a directory named after a
    hash of its Java sources, so a cached build is never reused for other
    sources, and so the compile stays out of every child's ``setup_s``."""
    src_root = os.path.join(root, "tree_sitter_codeviews_spark", "javashim")
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(src_root)):
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, src_root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    from tree_sitter_codeviews_spark import session

    session._SHIM_CACHE = os.path.join(base, f"fs_shim-{h.hexdigest()[:16]}")
    session._fs_shim_classpath()
    return session._SHIM_CACHE


def _session_members(sid: int) -> list[int]:
    """Pids of the processes in session ``sid`` (field 6 of /proc/<pid>/stat)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(d))
    return out


def _stop_session(sid: int) -> None:
    """Kill every process left in session ``sid`` and wait until none is
    left. The children's JVMs and Python workers stay in their child's
    session (the PySpark daemon changes only its process group)."""
    for _ in range(100):
        pids = _session_members(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes {pids} of session {sid} did not stop")


class Runner:
    """Starts the run's children one after the other, each in its own
    directory under ``work``, all stopped by ``deadline``."""

    def __init__(self, work: str, env: dict, deadline: float):
        self.work, self.env, self.deadline = work, env, deadline
        self.n = 0

    def child(self, cfg: dict) -> dict | None:
        """Run one child to completion (or kill it at the deadline); returns
        its result, or None if it produced none. Every process the child
        started is stopped and reaped before this returns."""
        self.n += 1
        cwd = os.path.join(self.work, f"child{self.n}")
        os.makedirs(cwd)
        cfg = dict(cfg, out=os.path.join(cwd, "result.json"),
                   out_dir=os.path.join(cwd, "out"), event_dir=os.path.join(cwd, "events"))
        cfg["t_spawn"] = time.time()
        with open(os.path.join(cwd, "config.json"), "w") as f:
            json.dump(cfg, f)
        with open(os.path.join(cwd, "child.log"), "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), os.path.join(cwd, "config.json")],
                cwd=cwd, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                _stop_session(proc.pid)
                proc.wait()
        print(f"perfbench: child {self.n} ({cfg['mode']}, cores={cfg.get('cores') or 'N'}) "
              f"{time.time() - cfg['t_spawn']:.1f}s", file=sys.stderr)
        try:
            with open(cfg["out"]) as f:
                return json.load(f)
        except (OSError, ValueError):
            with open(os.path.join(cwd, "child.log")) as f:
                tail = f.read()[-2000:]
            print(f"perfbench: child {cfg['mode']} produced no result:\n{tail}", file=sys.stderr)
            return None


def tail_s(walls: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples above it. Below 21
    samples that percentile would not lie above the median, so the maximum
    is reported instead. Returns (value, percentile)."""
    s = sorted(walls)
    n = len(s)
    if n <= 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    for need in ("tree_sitter_codeviews_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"{need} not found: run from the root of a source checkout")
    sys.path.insert(1, root)  # the engine, after this directory's modules
    from gen import generate
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    try:
        sf_dir = generate(os.path.join(base, "inputs"), args.seed, w.n_docs, w.words_mean)
        shim_dir = build_fs_shim(root, base)
        gen_s = time.time() - t_start
        ncpu = len(os.sched_getaffinity(0))
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(ncpu),
            SPARK_GRAFT_DRIVER_MEM=driver_mem(),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=os.path.join(work, "tmp"),
            PYTHONPATH=os.pathsep.join([HERE, root]),
            PYSPARK_PYTHON=sys.executable,
            JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                               f"-XX:ErrorFile={os.path.join(work, 'hs_err_pid%p.log')}"),
        )
        runner = Runner(work, env, t_start + DEADLINE_S)
        common = dict(workload=w.name, sf_dir=sf_dir, shim_dir=shim_dir)
        out = (trace_run if args.trace else timed_run)(runner, w, common, args.seconds, ncpu)
        out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
        print(f"perfbench: {w.name} seed={args.seed} inputs and shim {gen_s:.2f}s "
              f"failed_frac={out['failed'] / max(1, out['attempted']):.4f} "
              f"total {time.time() - t_start:.1f}s", file=sys.stderr)
        for e in out.pop("errors"):
            print(f"perfbench: error: {e}", file=sys.stderr)
        for k, v in out.pop("notes", {}).items():
            print(f"{k}: {v}")
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _tally(children: list[dict | None]) -> dict:
    """Operation counts over children; a child without a result (a JVM that
    did not start, a crash, a kill at the deadline) is one failed op."""
    att = fail = 0
    errors = []
    for c in children:
        if c is None:
            att, fail = att + 1, fail + 1
            errors.append("a child produced no result")
        else:
            att, fail = att + c["attempted"], fail + c["failed"]
            errors += c["errors"]
    return {"attempted": max(att, 1), "failed": fail, "errors": errors}


def timed_run(runner: Runner, w, common: dict, seconds: float, ncpu: int) -> dict:
    main = runner.child(dict(common, mode="time", warm_s=seconds / 2, budget_s=seconds,
                             check=True))
    out = _tally([main])
    out["correct"] = bool(main and main["n"]["walls"] and out["failed"] == 0)
    if not out["correct"]:
        out["metrics"] = {}
        return out
    n = main["n"]
    p50 = statistics.median(n["walls"])
    tail, pct = tail_s(n["walls"])
    out["metrics"] = {
        "setup_s": (main["setup_s"], "s"),
        "wall_p50_s": (p50, "s"),
        "wall_tail_s": (tail, "s"),
        "pages_per_s": (w.n_docs / p50, "pages/s"),
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
    }
    out["notes"] = {
        "wall_tail_s": f"p{pct:.1f} of n={len(n['walls'])} (local[{ncpu}])",
        "walls_s": [round(x, 3) for x in n["walls"]],
        "warmup": f"{main['warmup_ops']} ops, {main['warmup_s']:.2f}s",
        "query_p50_s": {q: round(statistics.median(v), 4) for q, v in n["query_walls"].items()},
        "check_s": {q: round(v, 2) for q, v in main["check_s"].items()},
    }
    return out


def trace_run(runner: Runner, w, common: dict, seconds: float, ncpu: int) -> dict:
    """The traced child (untraced local[N] baseline, check, traced phase)
    and the local[1] child for the scaling ratio, warmed up by the same
    number of operations as the baseline."""
    from layers_report import per_layer

    main = runner.child(dict(common, mode="trace", warm_s=seconds / 2, budget_s=seconds / 2,
                             check=True))
    # the local[1] side gets as many warm-up operations as the baseline had,
    # counting the baseline's check (one run of every query) as one
    warm_ops = main["warmup_ops"] + 1 if main else 1
    one = runner.child(dict(common, mode="time", cores=1, warm_s=0, warm_ops=warm_ops,
                            budget_s=seconds / 2, check=False))
    out = _tally([main, one])
    out["correct"] = bool(main and one and main["n"]["walls"] and one["n"]["walls"]
                          and out["failed"] == 0)
    out["metrics"] = per_layer(w, main, one, ncpu) if out["correct"] else {}
    return out


if __name__ == "__main__":
    main()
