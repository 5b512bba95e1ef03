"""Extraction benchmark for texoo_spark.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout. Starts local[<cores>] from this process,
generates the workload's input from the seed (setup_s times these two),
runs the workload's warm-up jobs, runs its job repeatedly for --seconds,
checks the outputs against the pure reference lane, and prints every
metric by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Every time it reports is
wall time net of the CPU time the hypervisor gave to other tenants
(steal.py).

--trace 0 reports the end-to-end metrics. --trace 1 reports the per-layer
metrics instead: it records a span around every call into texoo_spark and
around every Spark action of the measured jobs, times each layer,
alternates traced and untraced jobs to measure the tracing overhead, and
writes the spans to .perfbench_work/spans/<workload>-seed<seed>.jsonl.

Every job runs inside one failure boundary: an exception (a Spark job
error, a crashed or killed Python worker, an out-of-memory error) is
printed, counted as failed, and the run goes on; nothing is retried. A
failed output check or a failed job makes the run incorrect and the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``end_to_end`` or ``per_layer`` list."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 cores: int | None = None):
        from texoo_spark import arrow_extract, curate, dedup, pipeline

        from tracing import Tracer
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.cores = cores or len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.tracer = Tracer(f"{workload.name}-seed{seed}-{os.getpid()}",
                             enabled=trace)
        self.T = SimpleNamespace(**{m.__name__.rsplit(".", 1)[-1]:
                                    self.tracer.wrap(m) for m in
                                    (arrow_extract, curate, dedup, pipeline)})
        self.dir = os.path.join(WORK, workload.name)
        self.inp = os.path.join(self.dir, "input")
        self.out = os.path.join(self.dir, "out")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.layer: dict[str, float] = {}
        self.t0 = time.perf_counter()

    # ---- failure accounting and checks --------------------------------
    def attempt(self, what: str, fn):
        """Run one job; count it, and on any exception count the failure,
        print the traceback and return None. Nothing is retried."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append((name, bool(ok), detail))

    def _phase(self, name: str) -> None:
        print(f"{name} done at {time.perf_counter() - self.t0:.1f} s",
              file=sys.stderr)

    def tmp(self, name: str) -> str:
        return os.path.join(self.dir, "tmp", name)

    # ---- set-up --------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Session start (which launches the JVM) and input generation; the
        warm-up jobs that follow are timed on their own."""
        from gen import make_documents, write_inputs

        from sparkenv import start_session
        from steal import Stopwatch
        with Stopwatch() as setup:
            with self.tracer.span("session.start"), Stopwatch() as start:
                self.spark = start_session(self.master, WORK, self.cores)
            with self.tracer.span("transcripts.generate"), \
                    Stopwatch() as gen:
                self.docs = make_documents(self.w.name, self.seed)
                self.n_turns = len(self.docs)
                write_inputs(self.spark, self.docs, self.inp,
                             self.w.clustered, 2 * self.cores)
        with Stopwatch() as warm:
            self.warm_up()
        return {"setup": setup.net, "start": start.net, "gen": gen.net,
                "warmup": warm.net, "steal": setup.steal}

    def warm_up(self) -> None:
        """Run the workload's warm-up jobs (JIT, Python workers) into a
        scratch output."""
        with self.tracer.span("warmup"):
            for k in range(self.w.warmup_jobs):
                self.attempt(f"warm-up job {k}", lambda: self.w.job(
                    self, self.inp, self.tmp("warm_out")))

    # ---- measurement ----------------------------------------------------
    def measure(self) -> list[dict]:
        """Start the job back to back until --seconds have passed, at least
        once (twice when traced). In a traced run every second job runs
        with tracing off."""
        runs, untraced = [], []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < 1 + self.traced or time.perf_counter() < t_end:
            self.tracer.enabled = self.traced and i % 2 == 0
            r = self.attempt(f"{self.w.name} job {i}",
                             lambda: self.w.job(self, self.inp, self.out))
            i += 1
            if r is not None:
                (runs if self.tracer.enabled or not self.traced
                 else untraced).append(r)
        self.tracer.enabled = self.traced
        self.untraced_runs = untraced
        return runs

    def scaling_efficiency(self) -> float:
        """turns_per_s at local[cores] over cores x turns_per_s of the same
        job in a fresh JVM at local[1]."""
        from probes import median
        ref = self.attempt("local[1] reference", lambda: subprocess.run(
            [sys.executable, os.path.join(HERE, "scaling_ref.py"),
             "--input", self.inp, "--out", self.tmp("ref_out"),
             "--seconds", str(self.seconds / 2),
             "--work", WORK],
            check=True, capture_output=True, text=True, timeout=150))
        if ref is None:
            return 0.0
        tps1 = json.loads(ref.stdout.strip().splitlines()[-1])["turns_per_s"]
        tps = self.n_turns / median([r["job_s"] for r in self.runs])
        self.layer["session.turns_per_s_local1"] = tps1
        return tps / (self.cores * tps1)

    # ---- the run ----------------------------------------------------------
    def run(self) -> dict:
        from gen import measured_shares
        from probes import input_sample, median, parquet_bytes
        from procmem import PeakRss

        from sparkenv import stop_jvm
        from steal import Stopwatch
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.tmp(""), exist_ok=True)
        try:
            setup = self.setup()
            self._phase("setup")
            with PeakRss(os.getpid()) as rss, Stopwatch() as measured, \
                    self.tracer.spark_actions(self.spark):
                self.runs = self.measure()
            self._phase("measure")
            raw = input_sample(self.spark, self.inp, self.n_turns)
            same = self.attempt("output checks",
                                lambda: self.w.check(self, self.runs, raw))
            ok, compared = same if same else (0, 0)
            self.check("text_equality", compared > 0 and ok == compared,
                       f"{ok}/{compared} sampled turns equal the reference")
            if self.traced:
                self.attempt("layer probes",
                             lambda: self.w.probe(self, self.runs, raw))
            self._phase("checks and probes")
            out_bytes = parquet_bytes(self.out)
        finally:
            stop_jvm(self.spark)
        self._phase("stop")
        job_s = median([r["job_s"] for r in self.runs])
        tps = self.n_turns / job_s if job_s else 0.0
        shares = measured_shares(self.docs)
        print("input " + json.dumps({"workload": self.w.name,
                                     "seed": self.seed,
                                     "turns": self.n_turns, **shares}))
        print("times are wall times net of CPU steal: steal was "
              f"{100 * setup['steal']:.1f}% in set-up, "
              f"{100 * measured.steal:.1f}% in the measured jobs")
        print("setup {setup:.3f} s: session start {start:.3f} s, "
              "input generation {gen:.3f} s; warm-up jobs {warmup:.3f} s"
              .format(**setup))
        print("job_s " + " ".join(f"{r['job_s']:.3f}" for r in self.runs))
        for name, passed, detail in self.checks:
            print(f"check {name}: {'ok' if passed else 'FAILED'} ({detail})")
        print(f"jobs attempted {self.attempted}, failed {self.failed}, "
              f"failed_ops_ratio {self.failed / self.attempted:.4f}")
        if self.traced:
            units = _units("per_layer")
            metrics = self._layer_metrics(units, setup, shares, tps)
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            self.tracer.write(os.path.join(
                WORK, "spans", f"{self.w.name}-seed{self.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup["setup"],
                "turns_per_s": tps,
                "output_bytes_per_turn": out_bytes / self.n_turns,
                "peak_rss_mb": rss.peak_mb,
                "text_equality_rate": ok / compared if compared else 0.0,
            }
            units = _units("end_to_end")
        for k, v in metrics.items():
            print(f"metric {k} {v:.6g} {units[k]}")
        correct = (self.failed == 0 and bool(self.runs)
                   and all(p for _, p, _ in self.checks))
        return {"correct": correct, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in metrics.items()}}

    def _layer_metrics(self, units, setup, shares, tps) -> dict[str, float]:
        from probes import median
        untraced = median([r["job_s"] for r in self.untraced_runs])
        m = {name: 0.0 for name in units}
        m.update({f"transcripts.{k}": v for k, v in shares.items()
                  if k != "html_share"})
        m.update(self.layer)
        m.update({
            "session.start_s": setup["start"],
            "session.warmup_s": setup["warmup"],
            "transcripts.gen_s": setup["gen"],
            "trace.turns_per_s": tps,
            "trace.overhead_pct": (100.0 * (1.0 - tps * untraced
                                            / self.n_turns)
                                   if untraced else 0.0),
            "bench.failed_ops_ratio": self.failed / self.attempted,
        })
        unknown = set(m) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
        return m


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "texoo_spark")):
        sys.exit(f"texoo_spark/ not found in {ROOT}: run from the root of "
                 "a texoo-spark checkout")
    from sparkenv import prepare_env
    prepare_env(ROOT, WORK)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace))
    result = bench.run()
    shutil.rmtree(bench.dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
