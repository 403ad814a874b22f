#!/usr/bin/env python3
"""pages→triples benchmark: one command, one workload, one JSON result.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 15 --trace 0

Run from the repository root.  It builds the workload's inputs from the
seed, starts a local Spark session with ``deepie_spark.session.get_spark``
(``local[$SPARK_GRAFT_CPUS]``, never more task threads than ``nproc``),
runs the production pages→triples job for ``--seconds`` seconds, checks
every iteration's committed output against an independent oracle, and
prints two JSON lines: the full record (host, every sample, the oracle
verdict, ``error_rate``) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced iteration and reports the per-layer metrics instead.  All scratch
files live under ``.perfbench_work/`` in the working directory and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric → unit (measured with tracing off)
END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "batch_s_p50": "s",
    "batch_s_p75": "s",
    "out_bytes_per_triple": "bytes",
}
WORKLOADS = ("bulk", "gazetteer")
#: untimed, checked iterations before measuring, until this many seconds
#: have passed: iteration times fall over the first few iterations while
#: the JIT compiles the hot paths and the JVM heap grows to its working size
WARMUP_SECONDS = 6


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor (the smoke test uses a small one)",
    )
    return ap.parse_args(argv)


def session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Checked:
    """Runs iterations, checks each against the oracle, keeps samples."""

    def __init__(self, r, want):
        self.r = r
        self.want = want
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: list[dict] = []

    def run(self, dirs=None, keep: bool = True):
        """One checked iteration into fresh directories (or ``dirs``);
        ``None`` when it failed."""
        from oracle import check_output, parquet_bytes
        from workloads import iteration

        self.attempted += 1
        try:
            dirs = dirs or self.r.fresh_dirs()
            res = iteration(self.r, *dirs)
            problems = check_output(dirs[0], dirs[1], self.want)
        except Exception as e:  # one failed iteration is a counted failure
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        if problems:
            self.failed += 1
            self.errors.extend(problems)
            return None
        res["out_bytes_per_triple"] = parquet_bytes(dirs[0]) / max(1, self.want[0])
        if keep:
            self.samples.append({k: v for k, v in res.items() if k != "progress"})
        return res


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def end_to_end(r, checked: Checked, setup_s: float) -> dict:
    s = checked.samples
    batches = [b for x in s for b in x["batch_s"]]
    return {
        "setup_s": setup_s,
        "pages_per_s": statistics.median(r.n_pages / x["wall_s"] for x in s),
        "batch_s_p50": percentile(batches, 50),
        "batch_s_p75": percentile(batches, 75),
        "out_bytes_per_triple": statistics.median(x["out_bytes_per_triple"] for x in s),
    }


def iterate(checked: Checked, seconds: float, keep: bool = True) -> None:
    """Iterate for ``seconds`` seconds, at least once."""
    t0 = time.perf_counter()
    while True:
        checked.run(keep=keep)
        if time.perf_counter() - t0 >= seconds or checked.failed > 3:
            return


def stream_layer(r, checked: Checked, scale: float) -> dict:
    """Stream-layer metrics from ``stream_triples`` over the stream probe
    (the run's first pages in small files), checked like any iteration.
    ``stream_triples`` only runs the project's catalog, so a workload
    with its own catalog reports zeros."""
    import layers as tr
    from oracle import oracle_digest
    from workloads import stream_probe

    if r.trie is not None:
        return {k: 0 for k in tr.PER_LAYER if k.startswith("stream.")}
    probe = stream_probe(r, scale)
    probe_checked = Checked(probe, oracle_digest(r.spark, probe.pages_dir, None))
    probe_checked.run(keep=False)  # the stream path's first query warms up
    since = tr.now_ms()
    res = probe_checked.run(keep=False)
    until = tr.now_ms()
    checked.attempted += probe_checked.attempted
    checked.failed += probe_checked.failed
    checked.errors += probe_checked.errors
    if res is None:
        raise RuntimeError("stream probe failed: " + "; ".join(probe_checked.errors))
    return tr.stream_metrics(probe, res, since, until)


def traced(r, checked: Checked, session: dict, scale: float) -> dict:
    import layers as tr
    from deepie_spark.plans.resume import done_part_ids, pending

    spark = r.spark
    since = tr.now_ms()
    untraced = checked.run(keep=False)
    until = tr.now_ms()
    if untraced is None:
        raise RuntimeError("untraced iteration failed: " + "; ".join(checked.errors))
    metrics = dict(session)
    metrics.update(tr.job_metrics(spark, since, until))

    out, man, ckpt = r.fresh_dirs()
    done = done_part_ids(spark, man)
    metrics["resume.parts_skipped"] = done.count()
    todo = pending(r.pages_with_part(), done)
    metrics["resume.pages_pending"] = todo.count()
    spans = tr.Spans()
    with spans.installed():
        res = checked.run((out, man, ckpt), keep=False)
    if res is None:
        raise RuntimeError("traced iteration failed: " + "; ".join(checked.errors))
    metrics["trace.overhead_s"] = res["wall_s"] - untraced["wall_s"]

    prefixes = tr.prefix_metrics(r, todo.drop("part_id"))
    through_pairs = prefixes.pop("_through_pairs_s")
    metrics.update(prefixes)
    metrics.update(tr.write_metrics(r, spans, out, res["wall_s"], through_pairs))
    metrics.update(stream_layer(r, checked, scale))
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import deepie_spark.plans.resume  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import probes
    import layers as tr
    from oracle import oracle_digest
    from workloads import PREPARE, Run

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, int(os.environ.get("SPARK_GRAFT_CPUS") or nproc))

    from deepie_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=session_conf(work))
        t1 = time.perf_counter()
        py_since = tr.now_ms()
        tr.first_py_job(spark, cores)
        t2 = time.perf_counter()
        py_job_ms = (py_since, tr.now_ms())
        spark.sparkContext.setLogLevel("ERROR")
        setup_s = t2 - t0

        phases = {"setup": setup_s}
        lap = t2

        def phase(name: str) -> None:
            nonlocal lap
            now = time.perf_counter()
            phases[name] = now - lap
            lap = now

        r = Run(spark=spark, work=work)
        PREPARE[args.workload](r, args.seed, args.scale)
        phase("inputs")
        want = oracle_digest(spark, r.pages_dir, r.trie)
        phase("oracle")
        checked = Checked(r, want)
        iterate(checked, WARMUP_SECONDS, keep=False)
        phase("warmup")
        if args.trace:
            session = tr.session_metrics(spark, t1 - t0, t2 - t1, py_job_ms)
            with probes.PeakRss() as rss:
                values = traced(r, checked, session, args.scale)
            values["memory.peak_rss_mb"] = rss.peak / 2**20
            units = tr.PER_LAYER
        else:
            iterate(checked, args.seconds)
            if not checked.samples:
                raise RuntimeError("no iteration succeeded: " + "; ".join(checked.errors[:3]))
            values = end_to_end(r, checked, setup_s)
            units = END_TO_END
        phase("measure")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "host": probes.host(),
        "cores": cores,
        "pages": r.n_pages,
        "params": r.params,
        "phase_s": phases,
        "oracle": {"triples": want[0], "digest": str(want[1])},
        "correct": checked.failed == 0,
        "error_rate": {"value": checked.failed / checked.attempted, "unit": "ratio"},
        "errors": checked.errors,
        "samples": checked.samples,
        "sample_count": len(checked.samples),
        "metrics": metrics,
    }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": checked.failed == 0,
                "attempted": checked.attempted,
                "failed": checked.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
