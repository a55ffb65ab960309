#!/usr/bin/env python3
"""End-to-end benchmark of cryoflow pipelines.

Drives the public pipeline API exactly as ``cryoflow check``/``run`` do:
``load_config`` -> ``load_plugins``/``get_plugins`` -> ``get_session``
from the config's ``[spark]`` section -> ``run_dry_run_pipeline`` ->
``run_pipeline``. One fresh process per invocation; one closed-loop
client runs pipelines back to back. See README.md in this directory.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, exit 1 on a failed check

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).
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
import time
from pathlib import Path

import procs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

#: Untimed warm-up iterations after the cold run: the JIT keeps speeding
#: up the first few runs and dry runs of a process, by 10-15 % over the
#: first five.
WARMUP_ITERS = 5
#: Measured warm runs made even when they take longer than ``--seconds``.
MIN_WARM = 2
#: Past this process age no new warm iteration starts (the run must end
#: within 180 s, output checks included).
WARM_CUTOFF_S = 110.0


def process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Keep Spark's scratch files inside the checkout and let Python
    workers import the package from it."""
    for sub in ("spark-local", "tmp"):
        (STATE / sub).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = str(STATE / "spark-local")
    os.environ["TMPDIR"] = str(STATE / "tmp")
    # spark-submit's own launcher JVM: no perf-data file or temp files in /tmp
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData -Djava.io.tmpdir={STATE / 'tmp'}".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{path}" if path else str(ROOT)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def setup(config_path: Path):
    """What every CLI invocation does before its first pipeline call."""
    from cryoflow_spark.core import config, loader, session
    from cryoflow_spark.core.plugin import InputPlugin, OutputPlugin, TransformPlugin

    cfg = config.load_config(config_path).unwrap()
    pm = loader.load_plugins(cfg, config_path)
    plugins = tuple(loader.get_plugins(pm, t) for t in (InputPlugin, TransformPlugin, OutputPlugin))
    spark = session.get_session(app_name=cfg.spark.app_name, master=cfg.spark.master, conf=cfg.spark.conf)
    return cfg, plugins, spark


def clear_dir(path: Path) -> None:
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[int, float]:
    """``(q, value)``: the highest whole percentile q with at least ten
    samples beyond it; the median (q = 50) below 20 samples."""
    n = len(xs)
    if n < 20:
        return 50, median(xs)
    q = int(100 * (1 - 10 / n))
    return q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Client:
    """One closed-loop client: each pipeline call waits for the last."""

    def __init__(self, plugins, spark, out: Path, checker) -> None:
        from cryoflow_spark.core import pipeline

        self.pipeline = pipeline
        self.inputs, self.transforms, self.outputs = plugins
        self.spark, self.out, self.checker = spark, out, checker
        self.attempted = 0
        self.errors: list[str] = []

    def _op(self, fn) -> float | None:
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
            err = None if res.is_success else f"Failure: {res.failure()!r}"
        except Exception as exc:  # noqa: BLE001 - a raised error is a counted failure
            dt, err = None, f"raised {exc!r}"
        if err:
            self.errors.append(err)
            return None
        return dt

    def check(self) -> float | None:
        p = self.pipeline
        return self._op(lambda: p.run_dry_run_pipeline(self.inputs, self.transforms, self.outputs, spark=self.spark))

    def run(self) -> float | None:
        clear_dir(self.out)  # fresh outputs and streaming checkpoint every run
        p = self.pipeline
        dt = self._op(lambda: p.run_pipeline(self.inputs, self.transforms, self.outputs, spark=self.spark))
        if dt is None:
            return None
        try:
            err = self.checker.check()
        except Exception as exc:  # noqa: BLE001 - unreadable output fails the check
            err = f"raised {exc!r}"
        if err:
            self.errors.append(f"output check: {err}")
            return None
        return dt

    def warm_loop(self, seconds: float, on_run=None) -> tuple[list[float], list[float]]:
        """``WARMUP_ITERS`` untimed iterations, then measured ones for
        ``seconds``, at least ``MIN_WARM``."""
        for _ in range(WARMUP_ITERS):
            self.check()
            self.run()
        checks, runs = [], []
        deadline = time.perf_counter() + seconds
        while len(runs) < MIN_WARM or time.perf_counter() < deadline:
            if process_age_s() > WARM_CUTOFF_S:
                break
            c = self.check()
            r = self.run()
            if c is not None:
                checks.append(c)
            if r is not None:
                runs.append(r)
                if on_run:
                    on_run()
        return checks, runs


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def bench(args) -> int:
    import configs

    prepare_env()
    inp = configs.input_dir(STATE, args.workload, args.seed)
    out = STATE / "runs" / args.workload / "out"
    cfg_path = configs.write_config(args.workload, inp, out, STATE)

    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        from cryoflow_spark.core import config, loader, session

        tracer.patch(config, "load_config", "config.load_config")
        tracer.patch(loader, "load_plugins", "loader.load_plugins")
        tracer.patch(session, "get_session", "session.get_session")

    cfg, plugins, spark = setup(cfg_path)
    setup_main = process_age_s()

    # --- outside every timing from here until the first check ---
    import gen
    from checks import CHECKERS

    spark.sparkContext.setLogLevel("ERROR")
    gen.generate(args.workload, args.seed, inp)
    checker = CHECKERS[args.workload](inp, out)
    client = Client(plugins, spark, out, checker)
    try:
        if args.trace:
            from layers import traced_run

            metrics, lines = traced_run(args, cfg, plugins, spark, client, tracer, inp, out)
        else:
            metrics, lines = untraced(args, spark, client, setup_main)
    finally:
        checker.close()
        spark.stop()
    for line in lines:
        print(line)
    for err in client.errors[:5]:
        print(f"FAILED: {err}")
    failed = len(client.errors)
    print(result_line(failed == 0, client.attempted, failed, metrics))
    return 0 if failed == 0 else 1


def untraced(args, spark, client: Client, setup_s: float):
    from tracing import tree_peak_rss_mb

    first_run = client.run()  # the cold run doubles as the first warm-up run
    rss = [tree_peak_rss_mb()]
    checks, runs = client.warm_loop(args.seconds, on_run=lambda: rss.append(tree_peak_rss_mb()))

    import gen

    run_s = median(runs)
    ok_ratio = 1.0 - len(client.errors) / client.attempted
    rows = gen.input_rows(args.workload)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "rows_per_s": (rows / run_s if run_s else 0.0, "rows/s"),
        "ok_ratio": (ok_ratio, "ratio"),
    }
    counts = {
        "setup_s": 1, "run_s": len(runs),
        "rows_per_s": len(runs), "ok_ratio": client.attempted,
    }
    q, t = tail(runs)
    lines = [f"workload {args.workload} seed {args.seed}: closed loop, 1 client, {rows} input rows"]
    lines += [f"  {k:<14} {v:>14.6g} {u:<7} n={counts[k]}" for k, (v, u) in metrics.items()]
    lines += [
        "  warm runs: " + " ".join(f"{r:.3f}" for r in runs),
        f"  run_s p{q} = {t:.6g} s over n={len(runs)}; "
        f"failed_ratio = {1.0 - ok_ratio:.6g} of {client.attempted}",
        f"  warm check {median(checks):.6g} s (n={len(checks)}), cold first run "
        f"{first_run or 0.0:.6g} s, peak RSS {max(rss):.6g} MB: per-layer metrics of the traced run",
    ]
    return metrics, lines


def run_all(args) -> int:
    """Every workload in its own fresh process; non-zero if any fails."""
    from configs import WORKLOADS

    bad = 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, str(Path(__file__)), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900,
        )
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            ok = p.returncode == 0 and json.loads(lines[-1])["correct"]
        except (IndexError, ValueError, KeyError):
            ok = False
        if not ok:
            bad += 1
            print(f"workload {name}: FAILED (exit {p.returncode})\n{p.stderr[-3000:]}")
    print(f"{len(WORKLOADS) - bad}/{len(WORKLOADS)} workloads passed their output checks")
    return 1 if bad else 0


def main() -> int:
    from configs import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "cryoflow_spark" / "core" / "pipeline.py").is_file():
        print(f"cryoflow_spark not found beside {HERE.name}/: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload is None:
        ap.error("--workload is required")
    # every way out runs stop_all: a SIGTERM unwinds like sys.exit
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    procs.adopt_orphans()
    try:
        return run_all(args) if args.workload == "all" else bench(args)
    finally:
        procs.stop_all()


if __name__ == "__main__":
    sys.exit(main())
