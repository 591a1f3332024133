"""KG benchmark: one command, two workloads, every metric by name and unit.

    python3 perfbench/run.py --workload backfill|incremental \
        --seed N --seconds S --trace 0|1

Run from the repository root. The program runs on ``local[<cores>]`` in
this process, driven by one closed-loop client. A run takes a fixed number
of ingest operations (see workloads.py) and then runs the agent's query
loop for ``--seconds`` seconds, at least one round. ``--trace 0`` measures
the end-to-end metrics with tracing off; ``--trace 1`` runs the same
workload with spans around every layer call and a Spark event log, and
reports the per-layer ``<layer>.<measure>`` metrics and the tracing
overhead. A human-readable report goes to stderr, with each phase's wall
and CPU seconds and the host's CPU steal share during the run; the last
line of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``attempted`` counts operations and output checks; a raise or
a failed check counts as failed.

``--pin SEEDS`` (e.g. ``0-10``) recomputes, for those seeds, the store
digests and agent answers pinned in ``pins.json`` (of ``--workload`` only,
if given) for runs with ``--trace``; use it only when the program's or the
generator's outputs change on purpose.

This benchmark does not use ``bench.py``'s ``total_bench_sec`` (a best-of-2
sum of operator timings over fixed vocabularies); its metrics are the ones
listed in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = (
    "assembly", "extraction", "mention_filter", "canonicalize", "provenance", "projection",
    "storage.merge", "storage.read", "streaming", "graphquery", "agent_memory", "propquery",
)


def process_tree() -> list[int]:
    """Pids of this process and all its descendants."""
    parent = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, {os.getpid()}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier and c not in tree}
        tree |= frontier
    return sorted(tree)


def tree_cpu_s() -> float:
    """CPU seconds (user and system, reaped children included) of this
    process and all its descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and the
    Python workers), sampled from /proc. Each process counts its
    proportional set size (PSS): a page shared by n processes, such as
    those of the Python workers forked from one daemon, counts 1/n in each,
    so the sum is the memory the tree holds, whatever the worker count."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.at_peak: list[int] = []  # each process's PSS at the peak
        self._halt = threading.Event()

    def sample(self) -> int:
        sizes = []
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            sizes.append(int(line.split()[1]) * 1024)
                            break
            except (OSError, ValueError):
                continue
        total = sum(sizes)
        if total > self.peak:
            self.at_peak = sorted(sizes, reverse=True)
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self.sample())
            self._halt.wait(self.period)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        self.peak = max(self.peak, self.sample())
        return self.peak


def start_spark(work: str, trace: bool):
    from dice_spark.session import get_spark

    # A 2g driver heap is ample for these inputs and keeps the run's memory
    # bounded on a shared host (the session default is 8g).
    conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "2g"}
    if trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )


def layer_metrics(wl, recorded: list, log: dict) -> dict:
    """Every per-layer metric; 0 for a layer the workload does not run."""
    from spans import attribute

    layers, span_jobs = attribute(recorded, log)
    out = {}
    for layer in LAYERS:
        m = layers.get(layer, {})
        for measure, unit in MEASURE_UNITS.items():
            out[f"{layer}.{measure}"] = (m.get(measure, 0.0), unit)
    n = wl.notes
    turns = getattr(wl, "n_turns", 0)
    out["extraction.triples_per_turn"] = (n["triples"] / turns if "triples" in n else 0.0, "ratio")
    out["canonicalize.nodes_per_entity"] = (n["nodes"] / n["entities"] if "nodes" in n else 0.0, "ratio")
    out["canonicalize.match_pairs"] = (n.get("match_pairs", 0), "count")
    out["projection.edges_per_prop"] = (n["edges"] / n["props"] if "props" in n else 0.0, "ratio")
    written = layers.get("storage.merge", {}).get("bytes_written", 0.0)
    out["storage.merge.write_amp"] = (written / wl.text_bytes if wl.text_bytes else 0.0, "ratio")

    def jobs_per_call(layer):
        calls = [span_jobs[s.sid] for s in recorded if s.layer == layer]
        return sum(calls) / len(calls) if calls else 0.0

    out["streaming.jobs_per_batch"] = (jobs_per_call("streaming"), "count")
    for layer in ("agent_memory", "graphquery", "propquery"):
        out[f"{layer}.jobs_per_call"] = (jobs_per_call(layer), "count")
    out["cli.jobs"] = (sum(1 for g in log["job_group"].values() if g == "cli"), "count")
    for phase in ("ingest", "query"):
        untraced, traced = wl.overhead.get(phase, ([], []))
        over = statistics.median(traced) - statistics.median(untraced) if untraced and traced else 0.0
        out[f"trace.{phase}_overhead_s"] = (over, "s")
    return out


def ingest_shares(metrics: dict) -> dict[str, float]:
    """Each ingest layer's share of the summed self time of all ingest
    layers: which layers the ingest time is spent in."""
    ingest = [l for l in LAYERS if l not in ("storage.read", "graphquery", "agent_memory", "propquery")]
    total = sum(metrics[f"{l}.self_s"][0] for l in ingest)
    return {l: round(metrics[f"{l}.self_s"][0] / total, 3) for l in ingest if total}


MEASURE_UNITS = {
    "self_s": "s", "driver_s": "s", "jobs": "count", "exec_cpu_s": "s", "task_wait_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "rows_out": "count", "failed_tasks": "count",
}


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def pin(seeds: list[int], names: list[str], trace: bool, work: str) -> None:
    """Recompute pins.json entries of workloads ``names`` for ``seeds`` in
    one session. A pinned run takes the ingest operations a run with
    ``--trace`` takes at least, and pins the first answers; incremental
    pins are kept per batch count."""
    import workloads as W

    spark = start_spark(work, False)
    pins = W.load_pins()
    for seed in seeds:
        for name in names:
            cls = W.WORKLOADS[name]
            wl = cls(spark, os.path.join(work, f"{name}-{seed}"), seed, 0)
            wl.compare_batch = True
            wl.use_pins = False
            if name == "incremental":
                wl.n_batches = W.TRACED_BATCHES if trace else W.BATCHES
            os.makedirs(wl.work)
            wl.execute()
            while len(wl.agent.answers) < W.PINNED_ANSWERS:
                wl.agent.run(0)
            entry = {"answers": wl.agent.digests()[: W.PINNED_ANSWERS],
                     "batches": len(wl.ingest_s), "digest": wl.digest}
            if name == "backfill":
                entry["counts"] = {k: v for k, v in wl.results[0][1].items() if k.startswith("n_")}
            if wl.failed:
                raise SystemExit(f"{name} seed {seed}: {wl.failed} failed operations; not pinned")
            if name == "incremental":
                pins.setdefault(name, {}).setdefault(str(seed), {})[str(wl.n_batches)] = entry
            else:
                pins.setdefault(name, {})[str(seed)] = entry
        with open(W.PINS_PATH, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"pinned seed {seed}", file=sys.stderr, flush=True)
    stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["backfill", "incremental"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", help="recompute pins.json for these seeds, e.g. 0-12")
    args = ap.parse_args(argv)
    if not args.workload and not args.pin:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "dice_spark", "cli.py")):
        print("dice_spark sources not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload or 'pin'}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    isolate(work)
    try:
        if args.pin:
            names = [args.workload] if args.workload else ["backfill", "incremental"]
            pin(parse_seeds(args.pin), names, bool(args.trace), work)
            return 0
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    import workloads as W

    sampler = MemSampler()
    sampler.start()
    steal0 = host_steal()
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    rec = None
    if args.trace:
        import spans

        rec = spans.Recorder(spark.sparkContext)
    wl = W.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, args.seconds, rec)
    wl.cpu_clock = tree_cpu_s
    os.makedirs(wl.work)
    wl.execute()
    peak_mb = sampler.stop() / 1e6
    stop_spark(spark)
    steal1 = host_steal()

    agent = wl.agent
    report = {
        "workload": args.workload, "seed": args.seed, "params": wl.knobs.as_dict(),
        "session_s": session_s, "ingest_s": wl.ingest_s, "ingest_turns": wl.ingest_turns,
        "query_s": agent.query_s, "phase_s": wl.phase_s, "phase_cpu_s": wl.phase_cpu_s,
        "host_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "peak_pss_mb": peak_mb, "pss_mb_at_peak": [round(b / 1e6) for b in sampler.at_peak],
        "notes": wl.notes,
        "query_s_p50": statistics.median(agent.query_s),
        **{f"{k}_s": v for k, v in agent.kind_s.items()},
    }
    if args.trace:
        rec.dump(sys.stderr)
        log = spans.read_event_log(os.path.join(work, "events"))
        report["overhead"] = wl.overhead
        metrics = layer_metrics(wl, rec.spans, log)
        report["ingest_self_share"] = ingest_shares(metrics)
    else:
        metrics = {
            "setup_s": (session_s + wl.setup_s, "s"),
            "ingest_s": (statistics.median(wl.ingest_s), "s"),
            "queries_per_s": (len(agent.query_s) / agent.loop_s, "1/s"),
        }
    print(json.dumps(report, default=str, indent=1), file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6g} {unit}", file=sys.stderr)
    print(f"{'ops_failed_share':40s} {wl.failed / max(wl.attempted, 1):14.6g} share", file=sys.stderr)
    result = {
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
