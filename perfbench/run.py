"""Sync-cycle benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload snapshot_resync --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts ``local[nproc]`` Spark, sets the
workload up several times from the seed (the median set-up counts),
warms up, then drives the workload's schedule closed-loop until
``--seconds`` have passed and every operation class has run, checking
every operation's output against an independent oracle. Human-readable results come first;
the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs at
least four passes, the middle two with the engine's entry points
wrapped in spans, and reports the per-layer metrics of the traced passes
plus the tracing overhead (see README.md). The exit code is 0 only when
every output check passed. All files, Spark's scratch space included,
live under ``.perfbench_work/`` in the current directory and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import asdict, dataclass, field

WORK_DIR = ".perfbench_work"
#: minimum passes of a traced run: half traced, half not, for the overhead
TRACE_PASSES = 4
#: tail percentiles, highest first; the highest one with at least ten
#: samples beyond it is printed
TAIL_PERCENTILES = (99, 95, 90, 75)


@dataclass
class Op:
    cls: str
    seconds: float
    verdict: object
    traced: bool = False
    layers: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the driver and its JVM during the call
    steal: float = 0.0  # share of the machine's CPU time the host took


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("snapshot_resync", "fleet_resync", "cdc_merge"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--out", help="also write every operation, metric and span to this JSON file")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _confine_scratch(work: str) -> dict[str, str]:
    """Point every temp directory the driver, the JVM and Spark use into
    ``work``. Returns the Spark settings that do the same."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher's too: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the benchmark shares its machine: cap the driver heap
        "spark.driver.memory": "2g",
    }


def _start_spark(conf: dict[str, str], cores: int):
    from d365fo_db_sync_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _cpu_now(pids: tuple[int, ...]) -> tuple[float, int, int]:
    """(CPU seconds ``pids`` have used, the machine's stolen and total
    CPU ticks): tells a slow operation from a contended machine."""
    ticks = os.sysconf("SC_CLK_TCK")
    used = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        used += int(fields[11]) + int(fields[12])  # utime, stime
    with open("/proc/stat", encoding="ascii") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    return used / ticks, cpu[7], sum(cpu)


def _peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver plus its JVM, in MB."""
    total_kb = 0
    for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- per-operation layer accounting ---------------------------------------------------------


def _op_layers(spans, sc, groups: set[str]) -> dict:
    """Sum one operation's spans into per-layer totals."""
    from perfbench.tracing import BOOKKEEPING, job_counts, self_times

    selft = self_times(spans)
    out: dict = defaultdict(float)
    for s in spans:
        own = selft[s.id]
        out[f"{s.name}.self"] += own
        out[f"{s.name}.calls"] += 1
        out[f"{s.name}.wall"] += s.seconds
        if s.name == "sync.sync_table":
            out[f"sync.mode.{s.attrs['mode']}.self"] += own
            out[f"sync.mode.{s.attrs['mode']}.calls"] += 1
        if s.attrs.get("group"):
            groups.add(s.attrs["group"])
        if "rows" in s.attrs:
            out["write.rows"] += s.attrs["rows"]
            out["write.bytes"] += s.attrs["bytes"]
        if s.name == "sinks.merge":
            rewritten, n = s.attrs["buckets"]
            out["merge.buckets"] += rewritten
            out["merge.bucket_slots"] += n
        if s.name == BOOKKEEPING and "state_bytes" in s.attrs:
            out["state.bytes"] = s.attrs["state_bytes"]
        if s.name == "orchestrator.process":
            out["process.capacity"] += s.seconds * s.attrs["workers"]
            out["process.busy"] += sum(
                c.seconds for c in spans if c.parent == s.id and c.name == "sync.sync_table"
            )
    out["spans"] = len(spans)
    out["jobs"], out["stages"], out["tasks"] = job_counts(sc, groups)
    return dict(out)


def _layer_metrics(
    ops: list[Op], phases: dict[str, float], overhead: float, rss_mb: float
) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of the traced operations: seconds and calls
    per operation, seconds per engine call of one kind, or shares."""
    traced = [op for op in ops if op.traced]
    n = len(traced)
    tot: dict = defaultdict(float)
    for op in traced:
        for k, v in op.layers.items():
            if k != "state.bytes":
                tot[k] += v
    changed = sum(op.verdict.changed_rows for op in traced)
    modes_ok = sum(op.verdict.modes_ok for op in traced)
    modes = sum(op.verdict.modes for op in traced)
    state_bytes = max((op.layers.get("state.bytes", 0) for op in traced), default=0)
    failed_tables = sum(op.verdict.failed_units for op in traced)
    op_s = sum(op.seconds for op in traced)

    def share(x: float, of: float) -> float:
        return x / of if of else 0.0

    def per_call(mode: str) -> float:
        return share(tot[f"sync.mode.{mode}.self"], tot[f"sync.mode.{mode}.calls"])

    return {
        "sync.noop_self_s": (per_call("NO_CHANGE"), "s"),
        "sync.incr_self_s": (per_call("INCREMENTAL"), "s"),
        "sync.refresh_self_s": (per_call("TRUNCATE"), "s"),
        "sync.standard_self_s": (per_call("STANDARD"), "s"),
        "sync.merge_upsert_self_s": (share(tot["sync.merge_upsert.self"], tot["sync.merge_upsert.calls"]), "s"),
        "sync.mode_match_frac": (share(modes_ok, modes), "ratio"),
        "sinks.read_s": (tot["sinks.read.self"] / n, "s"),
        "sinks.read_calls": (tot["sinks.read.calls"] / n, "count"),
        "sinks.overwrite_s": (tot["sinks.overwrite.self"] / n, "s"),
        "sinks.merge_s": (tot["sinks.merge.self"] / n, "s"),
        "sinks.num_rows_s": (tot["sinks.num_rows.self"] / n, "s"),
        "sinks.rows_written_per_changed_row": (share(tot["write.rows"], changed), "ratio"),
        "sinks.bytes_written_per_op": (tot["write.bytes"] / n, "bytes"),
        "sinks.buckets_rewritten_frac": (share(tot["merge.buckets"], tot["merge.bucket_slots"]), "ratio"),
        "strategy.fetch_build_s": (tot["strategy.fetch.self"] / n, "s"),
        "strategy.fetch_calls": (tot["strategy.fetch.calls"] / n, "count"),
        "delta.classify_calls": (tot["delta.classify.calls"] / n, "count"),
        "orchestrator.prepare_s": (tot["orchestrator.prepare.wall"] / n, "s"),
        "orchestrator.process_s": (tot["orchestrator.process.wall"] / n, "s"),
        "orchestrator.worker_busy_frac": (share(tot["process.busy"], tot["process.capacity"]), "ratio"),
        "orchestrator.tables_failed": (failed_tables, "count"),
        "state.commit_s": (tot["state.commit.self"] / n, "s"),
        "state.commits": (tot["state.commit.calls"] / n, "count"),
        "state.file_bytes": (state_bytes, "bytes"),
        "session.start_s": (phases["session"], "s"),
        "gen.data_s": (phases["gen"], "s"),
        "setup.load_s": (phases["load"], "s"),
        "warmup_s": (phases["warmup"], "s"),
        "spark.jobs_per_op": (tot["jobs"] / n, "count"),
        "spark.stages_per_op": (tot["stages"] / n, "count"),
        "spark.tasks_per_op": (tot["tasks"] / n, "count"),
        "trace.spans_per_op": (tot["spans"] / n, "count"),
        "trace.bookkeeping_frac": (share(tot["trace.bookkeeping.wall"], op_s), "ratio"),
        "trace.overhead_frac": (overhead, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


# -- end-to-end metrics ------------------------------------------------------------------------


def _by_class(ops: list[Op], value=lambda op: op.seconds) -> dict[str, list[float]]:
    by_cls: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        by_cls[op.cls].append(value(op))
    return by_cls


def _per_pass(ops: list[Op], pass_counts: Counter, value=lambda op: op.seconds) -> float:
    """One schedule pass's total of ``value``: each class's median times
    its count in a pass. A run that stops inside a pass still weighs its
    classes as a whole pass does."""
    by_cls = _by_class(ops, value)
    return sum(k * statistics.median(by_cls[c]) for c, k in pass_counts.items())


def _end_to_end(ops: list[Op], pass_counts: Counter, common: str, setup_s: float):
    pass_s = _per_pass(ops, pass_counts)
    return {
        "setup_s": (setup_s, "s"),
        "common_op_s": (statistics.median(op.seconds for op in ops if op.cls == common), "s"),
        "pass_s": (pass_s, "s"),
        "items_per_s": (_per_pass(ops, pass_counts, lambda op: op.verdict.items) / pass_s, "1/s"),
    }


#: the workload-specific names of the end-to-end numbers, as printed
NAMED = {
    "snapshot_resync": {
        "first": "first_sync_s",
        "noop": "noop_cycle_s",
        "incr": "incr_cycle_s",
        "refresh": "refresh_cycle_s",
        "recovery": "recovery_cycle_s",
        "items": ("window_rows_changed_per_s", "rows/s"),
    },
    "fleet_resync": {"round": "fleet_round_s", "items": ("fleet_tables_per_s", "tables/s")},
    "cdc_merge": {
        "trickle": "cdc_trickle_batch_s",
        "burst": "cdc_burst_batch_s",
        "op": "cdc_batch_s",
        "items": ("cdc_events_per_s", "events/s"),
    },
}


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """(q, the q-th percentile) for the highest q in TAIL_PERCENTILES
    with at least ten samples above it, or None for too few samples."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if n * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return None


def _report_lines(workload: str, ops: list[Op], metrics, failed: int, attempted: int) -> list[str]:
    names = NAMED[workload]
    lines = [f"# {workload}: {len(ops)} operations measured"]

    def row(name: str, value: float, unit: str, note: str = "") -> None:
        lines.append(f"{name:<34} {value:>14.6f} {unit:<9} {note}".rstrip())

    for cls, secs in _by_class(ops).items():
        row(names[cls], statistics.median(secs), "s", f"median of {len(secs)}")
    secs = [op.seconds for op in ops]
    if "op" in names:
        row(names["op"], statistics.median(secs), "s", f"median of {len(secs)}")
    tail = tail_percentile(secs)
    if tail:
        row(f"op_p{tail[0]}_s", tail[1], "s", f"of {len(secs)} operations")
    else:
        lines.append(f"# no tail percentile: {len(secs)} operations leave fewer than ten beyond p75")
    row(names["items"][0], metrics["items_per_s"][0], names["items"][1])
    row("failed_frac", failed / attempted, "ratio", f"{failed} of {attempted}")
    lines.append("# end-to-end metrics")
    for name, (value, unit) in metrics.items():
        row(name, value, unit)
    return lines


# -- the run --------------------------------------------------------------------------------------


def _measure(wl, sc, args, rec, spans: list) -> list[Op]:
    """Operations in schedule order until ``args.seconds`` have passed
    and every operation class has been measured; a traced run goes on to
    the end of its TRACE_PASSES-th pass and traces half of them. The
    traced operations' spans are appended to ``spans``."""
    from perfbench.tracing import instrument
    from perfbench.workloads import Verdict

    ops: list[Op] = []
    unseen = set(wl.PASS)
    pids = (os.getpid(), sc._gateway.proc.pid)
    deadline = time.perf_counter() + args.seconds
    for p, schedule in enumerate(wl.passes()):
        # untraced, traced, traced, untraced: warm-up still going on
        # during the run slows both sides alike
        traced = bool(rec) and p % 4 in (1, 2)
        restore = instrument(rec, sc) if traced else None
        for cls in schedule:
            i = len(ops)
            sc.setJobGroup("perfbench-prepare", "untimed input preparation")
            prep = wl.prepare(cls)
            group = f"perfbench-{i}"
            sc.setJobGroup(group, f"{args.workload} {cls}")
            error = None
            cpu0, steal0, total0 = _cpu_now(pids)
            t = time.perf_counter()
            try:
                if traced:
                    with rec.span("op", cls=cls):
                        outcome = wl.execute(prep)
                else:
                    outcome = wl.execute(prep)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                error = traceback.format_exc(limit=4)
            seconds = time.perf_counter() - t
            cpu1, steal1, total1 = _cpu_now(pids)
            if error is None:
                try:
                    verdict = wl.verify(prep, outcome)
                except Exception:  # noqa: BLE001 — a check that cannot run fails the op
                    verdict = Verdict(0, 0, 0, 1, False, traceback.format_exc(limit=4))
            else:
                verdict = Verdict(0, 0, 0, 1, False, error)
            layers = {}
            if traced:
                taken = rec.take()
                spans.extend(taken)
                layers = _op_layers(taken, sc, {group})
            steal = (steal1 - steal0) / max(1, total1 - total0)
            ops.append(Op(cls, seconds, verdict, traced, layers, cpu1 - cpu0, steal))
            if not traced:
                unseen.discard(cls)
            if not rec and not unseen and time.perf_counter() >= deadline:
                return ops
        if restore:
            restore()
        if rec and p + 1 >= TRACE_PASSES and time.perf_counter() >= deadline:
            return ops
    raise AssertionError("unreachable")


def run(args: argparse.Namespace, work: str) -> tuple[dict, list[str], dict]:
    conf = _confine_scratch(work)
    from perfbench.tracing import Recorder
    from perfbench.workloads import WORKLOADS, Context

    cores = _cores()
    t0 = time.perf_counter()
    spark = _start_spark(conf, cores)
    try:
        sc = spark.sparkContext
        phases = {"session": time.perf_counter() - t0}
        wl = WORKLOADS[args.workload](Context(spark, work, args.seed, cores))
        setups = [wl.setup(i) for i in range(wl.SETUPS)]
        phases["gen"] = statistics.median(g for g, _ in setups)
        phases["load"] = statistics.median(ld for _, ld in setups)
        t = time.perf_counter()
        wl.warm_up()
        phases["warmup"] = time.perf_counter() - t
        setup_s = phases["session"] + statistics.median(g + ld for g, ld in setups) + phases["warmup"]

        rec = Recorder() if args.trace else None
        spans: list = []
        ops = _measure(wl, sc, args, rec, spans)
        final_ok = wl.final_check()
        rss = _peak_rss_mb(spark)
        wl.close()
    finally:
        _stop_spark(spark)

    pass_counts = Counter(wl.PASS)
    failed = sum(not op.verdict.ok for op in ops)
    plain = [op for op in ops if not op.traced]
    e2e = _end_to_end(plain, pass_counts, wl.common, setup_s)
    lines = _report_lines(args.workload, plain, e2e, failed, len(ops))
    # how far the heap grows depends on when GC runs, so this spreads too
    # widely across runs to gate on; the traced run reports it per layer
    lines.append(f"{'peak_rss_mb':<34} {rss:>14.6f} MB")
    op_s = sum(op.seconds for op in plain)
    lines.append(
        f"# machine during measured operations: {sum(op.cpu_s for op in plain) / op_s:.2f} CPU-s "
        f"per s, {statistics.mean(op.steal for op in plain):.1%} of CPU time taken by the host"
    )
    lines.append("# setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in phases.items()))
    for op in ops:
        if not op.verdict.ok:
            lines.append(f"FAILED {op.cls}: {op.verdict.detail}")
    if not final_ok:
        lines.append("FAILED final output check")
    if args.trace:
        traced = [op for op in ops if op.traced]
        overhead = _per_pass(traced, pass_counts) / e2e["pass_s"][0] - 1
        layer = _layer_metrics(ops, phases, overhead, rss)
        lines.append(f"# per-layer metrics of {len(traced)} traced operations")
        lines += [f"{k:<38} {v:>16.6f} {u}" for k, (v, u) in layer.items()]
        metrics = layer
    else:
        metrics = e2e
    result = {
        "correct": failed == 0 and final_ok,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail = {
        "args": vars(args),
        "phases": phases,
        "setups": setups,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "ops": [
            {
                "cls": op.cls,
                "seconds": op.seconds,
                "cpu_s": op.cpu_s,
                "steal": op.steal,
                "traced": op.traced,
                "ok": op.verdict.ok,
                "items": op.verdict.items,
            }
            for op in ops
        ],
        "spans": [asdict(s) for s in spans],
        "result": result,
    }
    return result, lines, detail


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    work = os.path.join(os.getcwd(), WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, lines, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(detail, f, indent=1)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # the repository root, not this directory, goes on the path: the
    # engine and the perfbench package are imported from there
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
