"""CDC pipeline benchmark: events/s and per-batch latency from the change log
to queryable state, with per-layer attribution.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from anywhere inside a checkout of the repository; it reads and writes
only under the checkout (``.bench_work/``). A run builds its inputs from
``--seed`` (cached per workload and seed) while it starts the JVM, warms
the JVM with unmeasured drains and a read mix, then repeats set-up + drain
as many times as fit in ``--seconds`` at the workload's nominal drain time
(at least one drain and seven set-ups), and reads the last drain's final
state three times. Every drain's final state, the warm-up's too, is checked
against a DuckDB oracle.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds one traced
drain (spans + status store) and, on ``wire_backfill``, the per-layer
passes and a ``local[1]`` drain, and reports the per-layer metrics; a
metric of a layer the workload does not run reads 0. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The exit code is 0 only if every drain matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "scylladb_redpanda_cdc_spark"
#: Set-ups per run; the median is ``setup_s``.
MIN_SETUPS = 7
#: Input directories kept per workload and scale in the cache.
CACHE_KEEP = 12
#: Seconds one measured drain (set-up, drain, read mix, oracle) takes on the
#: 4-core reference box. A run makes ``max(1, round(seconds / nominal))``
#: drains, so the work in a run depends on ``--seconds`` and not on timing.
NOMINAL_DRAIN_S = {"wire_backfill": 3.3, "upsert_trickle": 16.0}
#: Passes of the read mix over the last measured drain's final state; the
#: median is ``state_query_s``. The first warm-up drain makes one,
#: unmeasured: the first pass in a JVM is up to twice as slow as the later ones.
READS = 3
#: Scale of the inputs of the unmeasured drains that start every run (JIT
#: and class loading), and their count: the run's own where a drain is short
#: (drains keep getting faster for several drains: 8.1, 3.2, 2.4 s warming
#: up, then 2.1, 2.1, 1.9 s measured, in one run); the tiny ones (3
#: micro-batches) where one drain is most of the run.
WARM_UP_SCALE = {"wire_backfill": "full", "upsert_trickle": "tiny"}
WARM_UP_DRAINS = {"wire_backfill": 3, "upsert_trickle": 1}


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _median(xs) -> float:
    return float(statistics.median(xs))


def _percentile(xs, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def _configure_env(run_dir: Path) -> None:
    """Program defaults, all scratch inside the checkout, one core per task
    slot on every core this process may use."""
    for k in list(os.environ):
        if k.startswith("SG_") or k in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            del os.environ[k]
    for d in ("scratch", "tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SG_SCRATCH_DIR": str(run_dir / "scratch"),
            "TMPDIR": str(run_dir / "tmp"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp, for the
            # launcher JVM of spark-submit and for the driver JVM. -Xms1g:
            # the driver heap starts at Spark's default maximum (1g), so its
            # peak resident size does not depend on when G1 grew the heap.
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": shlex.join(
                [
                    "--conf", f"spark.local.dir={run_dir / 'spark-local'}",
                    "--conf", "spark.ui.showConsoleProgress=false",
                    "--conf", "spark.ui.retainedJobs=100000",
                    "--conf", "spark.ui.retainedStages=100000",
                    "--driver-java-options",
                    f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms1g",
                    "pyspark-shell",
                ]
            ),
        }
    )


def _build_inputs(work: Path, workload: str, seed: int, scale: str, warm: str) -> dict:
    """Generate (or reuse) the inputs at ``scale`` and at the warm-up's
    scale, each in a child process so DuckDB's memory stays out of this
    process's peak RSS. Returns the manifest of the ``scale`` inputs."""
    manifests = []
    for sc in dict.fromkeys((scale, warm)):
        out = subprocess.run(
            [sys.executable, str(BENCH / "gen_inputs.py"), str(work), workload, str(seed), sc],
            check=True,
            capture_output=True,
            text=True,
            env={**os.environ, "PYTHONPATH": str(ROOT)},
            timeout=300,
        )
        manifests.append(json.loads(out.stdout.strip().splitlines()[-1]))
        _prune_cache(work, workload, sc)
    return manifests[0]


def _prune_cache(work: Path, workload: str, scale: str) -> None:
    dirs = sorted(
        (work / "inputs").glob(f"{workload}-{scale}-s*"), key=lambda p: p.stat().st_mtime
    )
    for old in dirs[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def _oracle_ok(in_dir: str, out_dir: str, workload: str) -> bool:
    from oracle import STATE_COLUMNS

    res = subprocess.run(
        [
            sys.executable,
            str(BENCH / "oracle.py"),
            os.path.join(in_dir, "expected.parquet"),
            out_dir,
            ",".join(STATE_COLUMNS[workload]),
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    if res.returncode != 0:
        print(f"oracle mismatch in {out_dir}: {res.stdout.strip()} {res.stderr[-500:]}",
              file=sys.stderr)
    return res.returncode == 0


class Run:
    """One workload, one seed: inputs, the measured drains, the result."""

    def __init__(self, args, work: Path, run_dir: Path) -> None:
        import gen_inputs
        import pipelines

        self.args = args
        self.wl = args.workload
        self.work = work
        self.run_dir = run_dir
        self.pl = pipelines
        self.shape = gen_inputs.SHAPES[args.scale][self.wl]
        self.in_dir = gen_inputs.input_dir(str(work), self.wl, args.seed, args.scale)
        warm = "tiny" if args.scale == "tiny" else WARM_UP_SCALE[self.wl]
        self.warm_inputs = (
            gen_inputs.input_dir(str(work), self.wl, args.seed, warm),
            gen_inputs.SHAPES[warm][self.wl],
        )
        # Inputs are built while the JVM starts (neither is measured).
        self._gen = ThreadPoolExecutor(1)
        self._manifest = self._gen.submit(
            _build_inputs, work, self.wl, args.seed, args.scale, warm
        )
        self.manifest: dict = {}
        self.keys = gen_inputs.order_keys(
            args.seed, self.shape, pipelines.LOOKUPS * pipelines.LOOKUP_KEYS
        )
        self.events = 0
        self.attempted = 0
        self.failed = 0
        self.sess = pipelines.Session()

    def drain_once(self, reads=None, tracer=None, master=None, inputs=None):
        """One iteration over ``inputs`` (in_dir, shape; default the run's
        own), checked against the oracle. Returns it, or None if it raised
        or its state did not match."""
        in_dir, shape = inputs or (self.in_dir, self.shape)
        out_dir = str(self.run_dir / f"state-{self.attempted}")
        self.attempted += 1
        try:
            it = self.pl.iteration(
                self.sess, self.wl, in_dir, shape, out_dir, self.keys,
                reads=reads, tracer=tracer, master=master,
            )
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not _oracle_ok(in_dir, out_dir, self.wl):
            self.failed += 1
            return None
        return it

    def setup_only(self) -> float:
        """A set-up that is not drained; its seconds."""
        session_s = self.sess.restart()
        t = time.perf_counter()
        self.pl.setup(self.sess.spark, self.wl, self.in_dir, self.shape)
        return session_s + time.perf_counter() - t

    def measure(self) -> tuple[list[dict], list[float]]:
        """The measured drains (stopping at the first failure) and every
        set-up time, topped up to :data:`MIN_SETUPS` after the drains, so
        that the measured drains directly follow the warm-up ones."""
        n = max(1, round(self.args.seconds / NOMINAL_DRAIN_S[self.wl]))
        its: list[dict] = []
        for i in range(n):
            it = self.drain_once(reads=READS if i == n - 1 else None)
            if it is None:
                break
            its.append(it)
        setups = [it["session_s"] + it["stage_s"] for it in its]
        setups += [self.setup_only() for _ in range(MIN_SETUPS - len(setups))]
        return its, setups

    def end_to_end(self, its: list[dict], setups: list[float]) -> tuple[dict, int]:
        """The end-to-end metrics and the batch-latency sample count. A
        ``wire_backfill`` drain is one batch job, so its batch latency is
        the drain time."""
        from probes import peak_rss_mb

        if self.wl == "upsert_trickle":
            lat = [b["durationMs"]["triggerExecution"] for it in its for b in it["batches"]]
        else:
            lat = [it["drain_s"] * 1000 for it in its]
        jvm_mb, py_mb = peak_rss_mb(self.sess.spark)
        print(f"peak rss: driver JVM {jvm_mb:.1f} MB, Python {py_mb:.1f} MB")
        return (
            {
                "setup_s": _median(setups),
                "events_per_s": _median([self.events / it["drain_s"] for it in its]),
                "batch_latency_p50_ms": _percentile(lat, 50),
                "batch_latency_p75_ms": _percentile(lat, 75),
                "state_query_s": _median(its[-1]["query_s"]),
                "peak_rss_mb": jvm_mb + py_mb,
            },
            len(lat),
        )

    def per_layer(self, its: list[dict], e2e: dict) -> dict | None:
        """One traced drain, the layer passes and a ``local[1]`` drain."""
        from probes import Tracer, jobs_between

        tracer = Tracer()
        traced = self.drain_once(reads=1, tracer=tracer)
        if traced is None:
            return None
        spark = self.sess.spark
        with tracer.probe():
            jobs = jobs_between(spark, *traced["window_ms"])
            self.pl.attribute(tracer, traced, jobs)
        # What the probes cost (listener callbacks, span bookkeeping,
        # status-store reads, attribution) against the drain they trace.
        overhead_pct = 100.0 * (traced["probe_cost_s"] + tracer.cost_s) / traced["drain_s"]
        drain = tracer.spans[traced["drain_span"]]
        drain_wall = drain["end"] - drain["start"]
        every = its + [traced]
        src = self.pl.source_dir(self.wl, self.in_dir, traced["source"])
        src_files = self.pl.parquet_files(src)
        layers = {
            "session.start_s": _median([it["session_s"] for it in every]),
            "sources.stage_s": _median([it["stage_s"] for it in every]),
            "sources.stage_bytes": float(sum(os.path.getsize(p) for p in src_files)),
            "sources.stage_files": float(len(src_files)),
        }
        zeros = {m["name"]: 0.0 for m in _spec()["per_layer"]}
        if self.wl == "upsert_trickle":
            layers.update(self.pl.stream_layers(traced, jobs))
        else:
            layers.update(
                self.pl.cdc_layers(spark, tracer, traced, jobs, self.in_dir, self.events,
                                   str(self.run_dir / "scratch"))
            )
        layers.update(self.pl.state_layers(self.wl, traced, jobs))
        layers["tracing.overhead_pct"] = overhead_pct
        layers["trace.attributed_pct"] = 100.0 * (
            1 - tracer.unattributed(drain["id"]) / drain_wall
        )
        if self.wl == "wire_backfill":
            # The single-threaded baseline, on the CPU-bound workload only:
            # upsert_trickle's batches are fixed-cost bound.
            with tracer.span("local1.drain"):
                one = self.drain_once(master="local[1]")
            if one is None:
                return None
            layers["scale.speedup_vs_1core"] = e2e["events_per_s"] / (self.events / one["drain_s"])
        path = self.work / "traces" / f"{self.wl}-s{self.args.seed}-{tracer.run_id}.json"
        tracer.write(str(path))
        print(f"spans written to {path.relative_to(ROOT)}")
        return {**zeros, **layers}

    def execute(self) -> dict:
        metrics: dict = {}
        try:
            self.sess.restart()  # JVM start: once per run, not a set-up
            self.manifest = self._manifest.result()
            self.events = self.manifest["events"]
            print(f"inputs {json.dumps(self.manifest, sort_keys=True)}")
            n_warm = WARM_UP_DRAINS[self.wl]
            if all(
                self.drain_once(reads=0 if i == 0 else None, inputs=self.warm_inputs)
                is not None
                for i in range(n_warm)
            ):
                its, setups = self.measure()
                if its and not self.failed:
                    e2e, n_lat = self.end_to_end(its, setups)
                    _print_metrics(e2e)
                    print(f"batch latency samples: {n_lat}")
                    print(f"drain seconds: {[round(it['drain_s'], 3) for it in its]}")
                    metrics = e2e
                    if self.args.trace:
                        layers = self.per_layer(its, e2e)
                        if layers is not None:
                            _print_metrics(layers, "per_layer")
                            metrics = layers
        finally:
            self._gen.shutdown(wait=True)
            self.sess.close()
        units = _units()
        print(
            f"error_rate = {self.failed / max(1, self.attempted):.4f} "
            f"({self.failed} failed / {self.attempted} attempted)"
        )
        return {
            "correct": self.failed == 0 and bool(metrics),
            "attempted": max(1, self.attempted),
            "failed": self.failed if metrics else max(1, self.failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def _units() -> dict:
    spec = _spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _print_metrics(metrics: dict, kind: str = "end_to_end") -> None:
    units = _units()
    for k, v in metrics.items():
        print(f"{kind} {k} = {v:.6g} {units[k]}")


def _remove_stale_runs(runs: Path) -> None:
    """Scratch of runs whose process is gone (killed before cleaning up)."""
    for d in runs.glob("*-p*"):
        try:
            os.kill(int(d.name.rsplit("-p", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def run_one(args) -> int:
    work = ROOT / ".bench_work"
    _remove_stale_runs(work / "runs")
    run_dir = work / "runs" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    _configure_env(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        result = Run(args, work, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload, each in its own process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for m in _spec()["workloads"]:
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--workload", m["name"],
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", args.scale,
        ]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = res.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"{m['name']}: {line}")
        try:
            child = json.loads(lines[-1])
        except (IndexError, ValueError):
            sys.stderr.write(res.stderr[-4000:])
            child = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= child["correct"] and res.returncode == 0
        combined["attempted"] += child["attempted"]
        combined["failed"] += child["failed"]
        for k, v in child["metrics"].items():
            combined["metrics"][f"{m['name']}.{k}"] = v
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001-sized inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    names = [m["name"] for m in _spec()["workloads"]]
    if args.workload == "all":
        return run_all(args)
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names} or all",
              file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
