#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload code_kg --seed 1 --seconds 30 --trace 0

Run from the repository root. Set-up starts one local Spark session
with every core and writes the seeded corpus to parquet. With
``--trace 0`` it then times ``run_pipeline`` + ``write_triples``
(input scan to triples on disk), starting with the session's first
pass and repeating while another pass fits in ``--seconds``, and
prints the end-to-end metrics. With ``--trace 1`` it instead replays
the pipeline once, layer by layer under spans, and prints the
per-layer metrics. Every pass's output is checked
(workloads.check_output), and its triple digest is compared with the
one recorded for the workload and seed in expected_digests.json
(record_expected.py writes it). Human-readable lines go first; the
last stdout line is one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END = (
    ("pipeline_s", "s"),
    ("triples_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    """An eighth of the host's memory, at most 4 GiB: the engine's own
    24g default exceeds small hosts, and the corpora here are small."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 8))


def _session(work: str, trace: bool):
    from pdf_knowledge_extractor_spark.session import get_spark

    mem_mb = _driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{mem_mb}m",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=_host_cpus(), extra_conf=conf)


# -- processes ---------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> set[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            parent[int(d)] = int(st[1])
    found, grew = set(), True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if (pp == root or pp in found) and pid not in found:
                found.add(pid)
                grew = True
    return found


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class MemorySampler(threading.Thread):
    """Peak summed proportional set size (PSS) of this process's
    descendants: the Spark JVM and its Python workers. PSS splits pages
    shared between forked workers, so they are not counted twice."""

    # reading smaps_rollup walks the JVM's page tables under its mmap
    # lock; once a second keeps that out of the measured pass
    INTERVAL_S = 1.0

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self):
        tree: set[int] = set()
        tick = 0
        while not self._halt.is_set():
            if tick % 2 == 0:   # workers come and go; re-walk every 2 s
                tree = descendants(os.getpid())
            tick += 1
            self.peak_mb = max(self.peak_mb,
                               sum(_pss_kb(pid) for pid in tree) / 1024)
            self._halt.wait(self.INTERVAL_S)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak_mb


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def shutdown_spark(spark) -> None:
    """Stops the session, then the gateway JVM and every process it
    started, and waits until each has ended."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.2)
    for pid in tree:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in tree):
        time.sleep(0.2)


# -- passes ------------------------------------------------------------------

class Runner:
    """Runs and checks passes over one corpus; counts attempts and
    failures."""

    def __init__(self, spark, corpus, work: str, expected: str | None):
        self.spark = spark
        self.corpus = corpus
        self.work = work
        # the recorded triple digest of this workload and seed
        # (expected_digests.json), or None when the seed has no record
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.digest = None
        self.triples = 0
        self.problems: list[str] = []
        self._n = 0

    def _out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"triples-{self._n}")

    def _settle(self, check, out_dir: str) -> None:
        """Books one pass and releases its state. The pass fails when it
        raised, failed a check in ``check``, or wrote another triple
        digest than the recorded one (or, without a record, than the
        run's first correct pass)."""
        from pdf_knowledge_extractor_spark.operators.ann import (
            release_checkpointed_results,
        )

        problems = list(check.problems) if check else []
        if check:
            self.triples = self.triples or check.triples
            if self.digest is None and not problems:
                self.digest = check.digest
            want = self.expected or self.digest
            if want is not None and check.digest != want:
                problems.append(
                    f"triple digest {check.digest} differs from the "
                    + ("recorded " if self.expected else "first pass's ")
                    + want
                )
        self.spark.catalog.clearCache()
        release_checkpointed_results()
        shutil.rmtree(out_dir, ignore_errors=True)
        self.attempted += 1
        if check is None or problems:
            self.failed += 1
            self.problems.extend(problems)

    def pipeline_pass(self) -> float | None:
        """One untraced pass: seconds from input scan to triples
        written, or None when it raised. A pass whose output fails its
        checks is timed and counted as failed."""
        from pdf_knowledge_extractor_spark.plans.pipeline import (
            PipelineConfig,
            run_pipeline,
        )
        from pdf_knowledge_extractor_spark.plans.triples import write_triples
        from workloads import ID_COL, LANG_COL, TEXT_COL, check_output

        out_dir = self._out_dir()
        check, dt = None, None
        try:
            t0 = time.perf_counter()
            docs = self.spark.read.parquet(self.corpus.path)
            res = run_pipeline(
                self.spark, docs, PipelineConfig(), id_col=ID_COL,
                text_col=TEXT_COL, lang_col=LANG_COL,
            )
            write_triples(res["triples"], out_dir)
            dt = time.perf_counter() - t0
            _log(f"pass {self._n}: {dt:.2f}s")
            check = check_output(self.spark, self.corpus, out_dir,
                                 res["documents"])
        except Exception:  # noqa: BLE001 — a failed pass is counted
            traceback.print_exc()
        self._settle(check, out_dir)
        _log(f"pass {self._n} checked")
        return dt

    def traced_pass(self, tracer) -> dict:
        import tracing as tr
        from pdf_knowledge_extractor_spark.plans.pipeline import PipelineConfig
        from workloads import check_output

        out_dir = self._out_dir()
        check, res = None, {}
        try:
            res = tr.replay(
                self.spark, tracer, self.corpus.path, PipelineConfig(),
                out_dir, os.path.join(self.work, "checkpoint"),
            )
            check = check_output(self.spark, self.corpus, out_dir,
                                 res["documents"])
        except Exception:  # noqa: BLE001 — a failed pass is counted
            traceback.print_exc()
        self._settle(check, out_dir)
        return res


EXPECTED_PATH = os.path.join(HERE, "expected_digests.json")


def load_expected() -> dict:
    """{workload: {seed: digest}}, written by record_expected.py."""
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> int:
    args = _args()
    try:
        import pyspark  # noqa: F401
        from pdf_knowledge_extractor_spark.hostload import load_snapshot
        from workloads import WORKLOADS, write_corpus
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{workload.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}",
    )
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    record = {"workload": workload.name, "seed": args.seed,
              "trace": args.trace, "host_before": load_snapshot()}
    spark = None
    try:
        spark = _session(work, bool(args.trace))
        _log("session started")
        corpus = write_corpus(spark, workload, args.seed,
                              os.path.join(work, "corpus"))
        _log("corpus written")
        expected = load_expected().get(workload.name, {}).get(str(args.seed))
        if expected is None:
            print(f"no recorded triple digest for {workload.name} seed "
                  f"{args.seed}: passes are checked against the first one")
        runner = Runner(spark, corpus, work, expected)
        setup_s = time.perf_counter() - T_START

        if args.trace:
            import tracing as tr

            # the traced replay is the session's first pass, as the
            # timed pass is in an untraced run
            tracer = tr.Tracer(spark)
            res = runner.traced_pass(tracer)
            shutdown_spark(spark)
            spark = None
            metrics = tr.layer_metrics(
                tracer, tr.read_event_log(os.path.join(work, "eventlog"))
            )
            metrics["trace.total_s"] = res.get("pipeline_s", 0.0)
            specs = tr.per_layer_metric_specs()
        else:
            # passes repeat until --seconds is used up; the first pass
            # of the fresh session is always one of them
            sampler = MemorySampler()
            sampler.start()
            samples: list[float] = []
            t_loop = time.perf_counter()
            while True:
                dt = runner.pipeline_pass()
                if dt is not None:
                    samples.append(dt)
                elapsed = time.perf_counter() - t_loop
                step = statistics.median(samples) if samples else elapsed
                if elapsed + step > args.seconds:
                    break
            peak_mb = sampler.stop()
            if not samples:
                print("perfbench: every pass raised", file=sys.stderr)
                return 1
            pipeline_s = statistics.median(samples)
            p25, p75 = _quartiles(samples)
            record["pipeline_samples_s"] = samples
            print(f"pipeline_s: median={pipeline_s:.4f} p25={p25:.4f} "
                  f"p75={p75:.4f} n={len(samples)}")
            metrics = {
                "pipeline_s": pipeline_s,
                "triples_per_s": runner.triples / pipeline_s,
                "setup_s": setup_s,
                "peak_rss_mb": peak_mb,
            }
            specs = [(n, u, None) for n, u in END_TO_END]
    finally:
        if spark is not None:
            shutdown_spark(spark)
        record["host_after"] = load_snapshot()

    record.update(attempted=runner.attempted, failed=runner.failed,
                  problems=runner.problems, triples=runner.triples,
                  digest=runner.digest,
                  metrics=metrics)
    for problem in runner.problems:
        print(f"check failed: {problem}")
    print(f"failed_frac = {runner.failed / runner.attempted:.4f} "
          f"({runner.failed}/{runner.attempted} passes)")
    print(f"host load: before {record['host_before']} "
          f"after {record['host_after']}")
    result = {}
    for name, unit, _ in specs:
        value = float(metrics.get(name, 0.0))
        print(f"{name} = {value:.6g} {unit}")
        result[name] = {"value": value, "unit": unit}

    records = os.path.join(ROOT, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, os.path.basename(work) + ".json"), "w",
              encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
