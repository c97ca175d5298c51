"""Crawl-engine benchmark: one workload per invocation, oracle-checked.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Workloads: crawl_narrow, crawl_wide (micro-batch crawls of a seeded mock
web, checked against the reference simulator) and frontier_bulk (the bulk
frontier pipeline, checked against a Python reference). The run sizes
itself for the machine: ``local[<cores>]`` and a driver heap of a quarter
of RAM (1-4 GiB).

Prints a summary, then as its last stdout line one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exit status 0 when
every output matched its oracle, 1 on a mismatch, 2 when the program under
test is missing or fails. All files go to ``.perfbench_work/`` in the
checkout; a traced run also leaves its spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MIB = float(1 << 20)

WORKLOADS = ("crawl_narrow", "crawl_wide", "frontier_bulk")

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "batch_p50_s": "s",
    "urls_per_s": "1/s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "crawl_loop.batches": "count",
    "crawl_loop.self_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.task_busy_s_per_batch": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_mb": "MiB",
    "checkpoint.write_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.read_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.files_per_batch": "count",
    "checkpoint.mb_per_batch": "MiB",
    "fetcher.plan_s": "s",
    "fetcher.requests": "count",
    "fetcher.ok_ratio": "ratio",
    "fetcher.retries": "count",
    "parser.replay_pages_per_s": "1/s",
    "parser.docs_per_page": "ratio",
    "parser.reqs_per_page": "ratio",
    "bloom.active_batches": "count",
    "bloom.state_mb": "MiB",
    "dedup.candidates": "count",
    "dedup.drop_ratio": "ratio",
    "dedup.intra_s": "s",
    "dedup.intra_keep_ratio": "ratio",
    "dedup.seen_s": "s",
    "dedup.seen_drop_ratio": "ratio",
    "urlnorm.s": "s",
    "politeness.admit_s": "s",
    "politeness.admit_ratio": "ratio",
    "politeness.deferred_ratio": "ratio",
    "trace.pages_per_s": "1/s",
    "trace.batch_p50_s": "s",
    "trace.urls_per_s": "1/s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measuring window; whole units (crawls, repetitions) "
                        "run until it has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test inputs")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one output row before the oracle check "
                        "(self-test: the run must fail)")
    return p.parse_args(argv)


def machine() -> tuple[int, str]:
    """(cores, driver heap) for this machine."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh
                         if line.startswith("MemTotal:"))
    heap_gib = max(1, min(4, total_kib // (4 << 20)))
    return cores, f"{heap_gib}g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss(threading.Thread):
    """Peak of the summed resident memory of this process's descendants
    (the driver JVM and its Python workers), sampled from /proc. Each
    process counts its proportional set size (Pss): pages shared with other
    processes are split among them, so a freshly forked Python worker does
    not count its parent's memory a second time."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._done = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += 1024 * next(int(line.split()[1]) for line in fh
                                         if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._done.set()
        self.join()


def start_spark(cores: int, heap: str, work: Path, trace: bool):
    from crawler_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait until every process it started has
    exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = [p for p in procs if _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after Spark stopped: {alive}")


def _state(pid: int) -> str:
    """A process's state letter; "Z" (ended) once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def lower_quartile(values: list[float]) -> float:
    return (statistics.quantiles(values, n=4)[0] if len(values) > 1
            else values[0])


def end_to_end(workload: str, units: list[dict], n_candidates: int | None) -> dict:
    timed = [u for u in units if u["seconds"] is not None]
    if workload == "frontier_bulk":
        # One timing, three names: the lower quartile of the repetitions,
        # which a host stall during one repetition does not move.
        rep = lower_quartile([u["seconds"] for u in timed])
        return {
            "pages_per_s": timed[0]["admitted"] / rep,
            "batch_p50_s": rep,
            "urls_per_s": n_candidates / rep,
        }
    seconds = sum(u["seconds"] for u in timed)
    return {
        "pages_per_s": sum(u["pages"] for u in timed) / seconds,
        "batch_p50_s": statistics.median(
            b for u in timed for b in u["batch_s"]),
        "urls_per_s": sum(u["frontier_in"] for u in timed) / seconds,
    }


def spark_layers(tracer, event_dir: Path, unit_span: str, since: float,
                 cores: int) -> dict:
    from perfbench.trace import spark_unit_totals

    units = [(s["start"], s["end"]) for s in tracer.named(unit_span, since)]
    excluded = [(s["start"], s["end"])
                for name in ("parser.capture", "politeness.staged")
                for s in tracer.named(name, since)]
    (log,) = list(event_dir.iterdir())
    tot = spark_unit_totals(log, units, excluded)
    n = len(units)
    wall = sum(e - s for s, e in units)
    return {
        "spark.jobs_per_batch": tot["jobs"] / n,
        "spark.stages_per_batch": tot["stages"] / n,
        "spark.tasks_per_batch": tot["tasks"] / n,
        "spark.task_busy_s_per_batch": tot["task_busy_s"] / n,
        "spark.core_util": tot["task_busy_s"] / (wall * cores),
        "spark.shuffle_mb": tot["shuffle_bytes"] / n / MIB,
    }


def crawl_layers(wl, tracer, units: list[dict], since: float) -> dict:
    batch_spans = tracer.named("crawl_loop.run_batch", since)
    n = len(batch_spans)
    in_batch = {"crawl_loop.run_batch"}
    lay = [u["layers"] for u in units]
    scheduled = sum(x["scheduled"] for x in lay)
    fresh = sum(x["fresh"] for x in lay)
    n_adm = sum(a for a, _ in wl.admission)
    n_def = sum(d for _, d in wl.admission)
    files = wl.batch_files
    return {
        "crawl_loop.batches": n,
        "crawl_loop.self_s": sum(tracer.self_time(s) for s in batch_spans) / n,
        "checkpoint.write_s": tracer.total(
            "checkpoint.write_parts", since, under=in_batch) / n,
        "checkpoint.commit_s": tracer.total("checkpoint.finalize", since) / n,
        "checkpoint.read_s": (
            tracer.total("checkpoint.read_part", since, under=in_batch)
            + tracer.total("checkpoint.read_deltas", since, under=in_batch)
        ) / n,
        "checkpoint.compact_s": tracer.total("checkpoint.compact", since) / n,
        "checkpoint.files_per_batch": sum(f for f, _ in files) / len(files),
        "checkpoint.mb_per_batch": sum(b for _, b in files) / len(files) / MIB,
        "fetcher.plan_s": tracer.total("fetcher.fetch", since) / n,
        "fetcher.requests": scheduled / n,
        "fetcher.ok_ratio": sum(x["fetched"] for x in lay) / scheduled,
        "fetcher.retries": sum(x["retries"] for x in lay) / n,
        **wl.replay_parse(),
        "bloom.active_batches": sum(x["bloom_batches"] for x in lay),
        "bloom.state_mb": sum(x["bloom_bytes"] for x in lay) / len(lay) / MIB,
        "dedup.candidates": fresh / n,
        "dedup.drop_ratio": sum(x["deduped"] for x in lay) / fresh,
        "politeness.admit_s": tracer.total("politeness.staged", since) / n,
        "politeness.admit_ratio": n_adm / (n_adm + n_def),
        "politeness.deferred_ratio": n_def / (n_adm + n_def),
    }


def run(args) -> tuple[dict, list[dict], dict]:
    """Set up, measure and check one workload. Returns (metrics, units,
    setup breakdown)."""
    t_setup = time.monotonic()
    cores, heap = machine()
    work = WORK / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import Tracer

    tracer = Tracer() if args.trace else None
    rss = PeakRss()
    spark = start_spark(cores, heap, work, bool(args.trace))
    t_session = time.monotonic()
    rss.start()
    try:
        if args.workload == "frontier_bulk":
            from perfbench.frontier import FrontierWorkload

            wl = FrontierWorkload(spark, args.size, args.seed, work, tracer)
        else:
            from perfbench.crawl import CrawlWorkload

            wl = CrawlWorkload(spark, args.workload, args.size, args.seed,
                               cores, work, tracer)
            if tracer is not None:
                wl.instrument()
        wl.generate_inputs()
        t_inputs = time.monotonic()
        wl.warm_up()
        t_warm = time.monotonic()
        setup = {"setup_s": t_warm - t_setup, "session_s": t_session - t_setup,
                 "inputs_s": t_inputs - t_session, "warmup_s": t_warm - t_inputs}
        if args.workload == "frontier_bulk":
            wl.prepare_oracle()
        since = time.time()
        units = wl.measure(args.seconds, args.corrupt)
        rss.stop()
        metrics = {
            **end_to_end(args.workload, units,
                         getattr(wl, "n_candidates", None)),
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_bytes / MIB,
        }
        layers = None
        if tracer is not None and not any(u["bad_rows"] for u in units):
            layers = (wl.staged_layers() if args.workload == "frontier_bulk"
                      else crawl_layers(wl, tracer, units, since))
    finally:
        if rss.is_alive():
            rss.stop()
        stop_spark(spark)
    if tracer is not None:
        tracer.unwrap_all()
        tracer.write(WORK / f"trace-{args.workload}-{args.seed}.json")
        if layers is not None:
            unit_span = ("frontier.rep" if args.workload == "frontier_bulk"
                         else "crawl_loop.run_batch")
            layers.update(spark_layers(tracer, work / "eventlog", unit_span,
                                       since, cores))
            metrics["layers"] = layers
    shutil.rmtree(work, ignore_errors=True)
    return metrics, units, setup


def report(args, metrics: dict, units: list[dict], setup: dict) -> dict:
    expected = sum(u["expected_rows"] for u in units)
    bad = sum(u["bad_rows"] for u in units)
    failed = sum(1 for u in units if u["bad_rows"])
    e2e = {k: metrics[k] for k in END_TO_END}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"size={args.size}")
    print(f"  setup: session {setup['session_s']:.2f} s, inputs "
          f"{setup['inputs_s']:.2f} s, warm-up {setup['warmup_s']:.2f} s")
    print("  units (s):", " ".join(
        f"{u['seconds']:.2f}" + (
            "[" + " ".join(f"{b:.2f}" for b in u["batch_s"]) + "]"
            if "batch_s" in u else "")
        for u in units if u["seconds"] is not None))
    for k, unit in END_TO_END.items():
        print(f"  {k:<13} {e2e[k]:14.4f} {unit}")
    print(f"  error_ratio   {bad / expected:14.6g}  "
          f"({bad} of {expected} oracle rows missing or different)")
    for u in units:
        if u["bad_rows"]:
            print(f"  mismatch: {u.get('bad_by_output', u['bad_rows'])}")
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-{args.size}-{args.seed}-{args.trace}.json"
     ).write_text(json.dumps(e2e))
    if args.trace:
        layers = metrics.get("layers", {})
        layers.update({f"trace.{k}": e2e[k]
                       for k in ("pages_per_s", "batch_p50_s", "urls_per_s")})
        untraced = results / f"{args.workload}-{args.size}-{args.seed}-0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())
            for k in END_TO_END:
                print(f"  tracing overhead {k}: {e2e[k] - base[k]:+.4f} "
                      f"{END_TO_END[k]} (traced - untraced, same seed)")
        chosen = {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        chosen = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    return {
        "correct": failed == 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "crawler_spark" / "__init__.py").is_file():
        print(f"perfbench: no crawler_spark/ package in {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    try:
        metrics, units, setup = run(args)
    except Exception:
        traceback.print_exc()
        return 2
    result = report(args, metrics, units, setup)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
