#!/usr/bin/env python3
"""Benchmark harness: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload q4112_ref --seed 1 --seconds 5 --trace 0

Run from the repository root. The harness generates its inputs from
``--seed`` under ``perfbench/.state/``, builds a ``local[nproc]``
session with ``session.get_spark``, runs a first (cold) pass that
collects every query's answer, runs a fixed number of untimed warm-up
passes, then times a fixed number of passes over the workload's query
list, and more until ``--seconds`` have passed. Once the session has
stopped, it computes the reference answers and checks every answer it
collected.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``setup_s``, ``pass_s``); with
``--trace 1`` timed passes alternate between untraced and traced, and
the metrics are the per-layer ones from the traced passes plus the
tracing overhead. The line before it carries context: host state,
per-pass figures and ``rss_peak_gb``, the peak RSS of the engine's
processes. In the traced run, lines before that give one query and
pass each. Spans of a traced run are written to
``perfbench/.state/trace/``.

The engine is never edited: every layer is measured by timing calls
into its public functions from here.
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
import traceback
from contextlib import nullcontext
from pathlib import Path

import oracles
import probes
import workloads
from spans import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = HERE / ".state"

#: Untimed passes after the cold answer-collecting pass, so timed
#: passes start at pass WARMUP + 1. Measured on a 4-vCPU host (README.md
#: has the curves): per-pass JVM CPU stops falling at pass 3 on
#: q4112_ref; on sf01 wall time levels off at pass 4, while CPU still
#: falls slowly for several more passes than a run can afford.
WARMUP_PASSES = {"q4112_ref": 2, "sf01": 4}
#: ``pass_s`` is the median of at least this many timed passes, so
#: that up to two slow passes cannot move it.
TIMED_PASSES = 5
#: A traced run alternates untraced and traced passes, at least this
#: many of each.
TRACED_PASSES = 3
#: A timed pass during which the hypervisor stole more than this share
#: of the host's CPU time is run again, at most MAX_RERUNS times per
#: run. The rule is the same on every run and commit; re-runs and the
#: steal of every pass are reported.
STEAL_SHARE_MAX = 0.05
MAX_RERUNS = 1
#: No pass starts after this much run time, so that a run, with its
#: answer checks, ends within 180 s. A run stopped here is a failure.
DEADLINE_S = 130
#: ``--toy`` scale: a fraction of the full inputs, for the self-test.
TOY_SCALE = 0.001
TOY_SF_SCALE = 0.1

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.open_s": "s",
    "catalog.open_jobs": "count",
    "plans.stats_misses": "count",
    "datagen.rows": "rows",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.analysis_s": "s",
    "queries.optimization_s": "s",
    "queries.planning_s": "s",
    "jvm.action_s": "s",
    "jvm.jobs": "count",
    "jvm.stages": "count",
    "jvm.tasks": "count",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "operators.pyworker_cpu_s": "s",
    "driver.cpu_s": "s",
    "host.steal_s": "s",
    "driver.rss_peak_gb": "GB",
    "jvm.rss_peak_gb": "GB",
    "operators.pyworker_rss_peak_gb": "GB",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}
#: Per-query figures of a traced pass, printed one line per query.
QUERY_LAYERS = (
    "queries.build_s", "queries.build_jobs", "queries.analysis_s",
    "queries.optimization_s", "queries.planning_s", "jvm.action_s",
    "jvm.jobs", "jvm.stages", "jvm.tasks",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="tiny inputs (self-test)")
    return p.parse_args(argv)


def stats_keys(path: Path) -> int:
    try:
        return len(json.loads(path.read_text()))
    except (OSError, ValueError):
        return 0


class Harness:
    def __init__(self, args, spark, workload, probe, rss, t_main: float) -> None:
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.probe = probe
        self.rss = rss
        self.t_main = t_main
        self.tracer = Tracer(self.sc)
        self.attempted = 0
        self.failures: list[str] = []
        #: (query, answer) pairs, checked once the session has stopped.
        self.answers: list = []
        self.setup: dict = {}  # set-up phase times, reported as context
        self.check_s = 0.0  # time to compute reference answers and check

    def fail(self, message: str) -> None:
        self.failures.append(message)
        print(f"FAILED {message}", file=sys.stderr)

    def past_deadline(self, what: str) -> bool:
        if time.perf_counter() - self.t_main <= DEADLINE_S:
            return False
        self.fail(f"deadline: {what} not done after {DEADLINE_S} s")
        return True

    def run_query(self, q, mode: str, traced: bool, parent: str | None):
        """Build and run one query; ``mode`` is the action: "rows"
        (collect), "pandas" (toPandas) or "noop" (run the plan into a
        no-op sink). Returns the traced figures (empty when untraced)
        and the answer (None after a failure or a noop action)."""
        self.attempted += 1
        fig: dict = {}
        try:
            if traced:
                with self.tracer.span(f"build:{q.name}", parent, job_group=True) as b:
                    df, scope = q.build()
                with scope:
                    # Plans the query's own execution, so its Catalyst
                    # phase times can be read; the action plans again,
                    # and the tracing overhead figure includes that.
                    with self.tracer.span(f"plan:{q.name}", parent):
                        df._jdf.queryExecution().executedPlan()
                    with self.tracer.span(f"action:{q.name}", parent, job_group=True) as a:
                        out = ACTIONS[mode](df)
                fig = {
                    "queries.build_s": self.tracer.duration(b),
                    "jvm.action_s": self.tracer.duration(a),
                    "spans": (b, a),
                    "df": df,
                }
            else:
                df, scope = q.build()
                with scope:
                    out = ACTIONS[mode](df)
        except Exception as exc:  # one query's error is a failure, not a crash
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{q.name}: {type(exc).__name__}: {exc}")
            return {}, None
        finally:
            self.rss.sample()
        return fig, out

    def check_answers(self, ref: dict) -> None:
        for q, answer in self.answers:
            try:
                err = q.check(answer, ref)
            except Exception as exc:
                err = f"{q.name}: check raised {type(exc).__name__}: {exc}"
            if err:
                self.fail(err)

    def first_pass(self) -> None:
        """The cold pass: collects every query's answer. Returns each
        query's wall time."""
        walls = {}
        for q in self.workload.queries:
            t0 = time.perf_counter()
            out = self.run_query(q, "rows" if q.check_every_pass else "pandas", False, None)[1]
            walls[q.name] = time.perf_counter() - t0
            if out is not None:
                self.answers.append((q, out))
        return walls

    def one_pass(self, traced: bool, index: int) -> dict:
        """One pass over the query list. Returns its wall time, steal and
        JVM CPU, and for a traced pass its per-layer figures."""
        span = self.tracer.span(f"pass:{index}") if traced else nullcontext({"id": None})
        per_query = []
        with span as s:
            snap0 = self.probe.snapshot()
            steal0, t0 = probes.steal_s(), time.perf_counter()
            for q in self.workload.queries:
                fig, out = self.run_query(
                    q, "rows" if q.check_every_pass else "noop", traced, s["id"]
                )
                if q.check_every_pass and out is not None:
                    self.answers.append((q, out))
                per_query.append((q, fig))
            rec = {"wall_s": time.perf_counter() - t0, "steal_s": probes.steal_s() - steal0}
            cpu = self.probe.snapshot().minus(snap0)
        rec["jvm_cpu_s"] = cpu["jvm.cpu_s"]
        if traced:
            rec["layers"] = self.pass_layers(index, per_query, cpu)
        return rec

    def pass_layers(self, index: int, per_query, cpu: dict) -> dict:
        """Per-layer figures of one traced pass, read after the pass so
        the reads are not inside its wall time."""
        totals = {k: 0.0 for k in QUERY_LAYERS}
        for q, fig in per_query:
            if not fig:
                continue
            spans = fig.pop("spans")
            build, action = (probes.group_counts(self.sc, span["id"]) for span in spans)
            phases = probes.planning_phases(fig.pop("df"))
            spans[0]["attrs"].update(build)
            spans[1]["attrs"].update(action, **phases)
            fig.update(
                {
                    "queries.build_jobs": build["jobs"],
                    "queries.analysis_s": phases["analysis"],
                    "queries.optimization_s": phases["optimization"],
                    "queries.planning_s": phases["planning"],
                    "jvm.jobs": build["jobs"] + action["jobs"],
                    "jvm.stages": build["stages"] + action["stages"],
                    "jvm.tasks": build["tasks"] + action["tasks"],
                }
            )
            for k in QUERY_LAYERS:
                totals[k] += fig[k]
            print(json.dumps({"query": q.name, "pass": index, **_rounded(fig)}))
        totals.update(cpu)
        totals["datagen.rows"] = sum(q.datagen_rows for q, _ in per_query)
        totals.update(self.catalog_open(index))
        return totals

    def catalog_open(self, index: int) -> dict:
        """Direct ``catalog.table`` calls for the workload's tables, the
        way every registry query opens them: time, and Spark jobs
        started (the parquet schema-inference job)."""
        from database_join_spark.catalog import table

        secs = jobs = 0.0
        for name in self.workload.tables:
            with self.tracer.span(f"catalog:{name}:{index}", job_group=True) as s:
                table(self.spark, self.workload.sf_dir, name)
            s["attrs"].update(probes.group_counts(self.sc, s["id"]))
            secs += self.tracer.duration(s)
            jobs += s["attrs"]["jobs"]
        return {"catalog.open_s": secs, "catalog.open_jobs": jobs}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


ACTIONS = {"rows": lambda df: df.collect(), "pandas": lambda df: df.toPandas(), "noop": _noop}


def _rounded(d: dict) -> dict:
    return {
        k: round(v, 4) if isinstance(v, float)
        else [round(x, 4) for x in v] if isinstance(v, list) else v
        for k, v in d.items()
    }


def timed_passes(h: Harness, seconds: float) -> tuple[list[dict], list[dict]]:
    """Time TIMED_PASSES passes (a traced run: TRACED_PASSES untraced
    and as many traced, alternating), and more until ``seconds`` have
    passed. Returns the kept passes and those run again for steal."""
    ncpu = h.sc.defaultParallelism
    kept: list[dict] = []
    rerun: list[dict] = []
    start = time.perf_counter()
    while True:
        n_traced = sum(1 for p in kept if p["traced"])
        if h.args.trace:
            enough = min(n_traced, len(kept) - n_traced) >= TRACED_PASSES
        else:
            enough = len(kept) >= TIMED_PASSES
        if enough and time.perf_counter() - start >= seconds:
            break
        if h.past_deadline(f"timed pass {len(kept)}"):
            break
        index = len(kept)
        traced = bool(h.args.trace) and index % 2 == 1
        rec = h.one_pass(traced, index)
        rec.update(index=index, traced=traced)
        if rec["steal_s"] > STEAL_SHARE_MAX * rec["wall_s"] * ncpu and len(rerun) < MAX_RERUNS:
            rerun.append(rec)
            continue
        kept.append(rec)
    return kept, rerun


def main(argv=None) -> int:
    t_main, since_start = time.perf_counter(), probes.proc_start_s()
    sys.path.insert(0, str(ROOT))
    try:
        import database_join_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine ({exc}); run from the repository root", file=sys.stderr)
        return 2
    args = parse_args(argv)
    # A SIGTERM unwinds through the clean-up below instead of leaving the
    # JVM behind.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from database_join_spark.hostinfo import host_snapshot

    # The harness's own work (host readings, inputs) is timed and left
    # out of setup_s.
    t0 = time.perf_counter()
    host_start = dict(host_snapshot(), cpu_speed_s=probes.cpu_speed_s())
    host_probe_s = time.perf_counter() - t0
    scale = TOY_SCALE if args.toy else 1.0
    sf_scale = TOY_SF_SCALE if args.toy else 1.0

    # Everything the run writes lives under STATE: fixtures, the
    # statistics catalog, Spark's local directories and warehouse (the
    # working directory), traces.
    STATE.mkdir(exist_ok=True)
    local_dirs = STATE / "spark-local"
    shutil.rmtree(local_dirs, ignore_errors=True)
    local_dirs.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(STATE)

    import database_join_spark.plans.stats as plan_stats

    stats_path = STATE / "stats_cache.json"
    stats_path.unlink(missing_ok=True)
    plan_stats.DEFAULT_PATH = stats_path

    sf_dir = None
    t0 = time.perf_counter()
    if args.workload != "q4112_ref":
        from fixtures import write_fixtures

        sf_dir = str(write_fixtures(args.seed, STATE / "sf01", sf_scale))
    fixtures_s = time.perf_counter() - t0

    from database_join_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        probe = probes.Probe(spark)
        rss = probes.RssPeak(os.getpid(), probe.jvm_pid)
        workload = workloads.build(spark, args.workload, args.seed, scale, sf_dir)
        h = Harness(args, spark, workload, probe, rss, t_main)
        h.setup.update(
            before_main_s=since_start, host_probe_s=host_probe_s,
            fixtures_s=fixtures_s, session_start_s=session_start_s,
        )

        h.setup["first_pass_s"] = h.first_pass()
        warmup = []
        for i in range(WARMUP_PASSES[args.workload]):
            if h.past_deadline(f"warm-up pass {i}"):
                break
            warmup.append(h.one_pass(traced=False, index=-1 - i))
        h.setup["warmup_walls_s"] = [p["wall_s"] for p in warmup]
        h.setup["warmup_jvm_cpu_s"] = [p["jvm_cpu_s"] for p in warmup]
        keys_before = stats_keys(stats_path)
        setup_s = since_start + time.perf_counter() - t_main - host_probe_s - fixtures_s

        kept, rerun = timed_passes(h, args.seconds)
        stats_misses = stats_keys(stats_path) - keys_before
        rss.sample()
        rss_parts = rss.parts_gb()
        host_end = dict(host_snapshot(), cpu_speed_s=probes.cpu_speed_s())
        if args.trace:
            h.tracer.write(STATE / "trace" / f"{args.workload}-seed{args.seed}.json")
    finally:
        # Stop Spark, close the py4j gateway, then end the JVM (it exits
        # when its stdin closes) and wait for it.
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    # Reference answers are computed once the engine has stopped, so they
    # neither share the CPUs with it nor count in its memory.
    t0 = time.perf_counter()
    h.check_answers(oracles.compute(workloads.oracle_jobs(args.workload, args.seed, scale, sf_dir)))
    h.check_s = time.perf_counter() - t0
    result = report(
        h, kept, rerun, setup_s, session_start_s, stats_misses, rss_parts, host_start, host_end
    )
    print(json.dumps(result))
    return 0


def report(h, kept, rerun, setup_s, session_start_s, stats_misses, rss_parts, host_start, host_end) -> dict:
    untraced = [p["wall_s"] for p in kept if not p["traced"]]
    traced = [p for p in kept if p["traced"]]
    walls = sorted(untraced)
    context = {
        "workload": h.args.workload,
        "seed": h.args.seed,
        "setup": _rounded(h.setup),
        "check_s": round(h.check_s, 4),
        "timed_passes": len(walls),
        "pass_walls_s": [round(w, 4) for w in untraced],
        "pass_steal_s": [round(p["steal_s"], 3) for p in kept],
        "pass_jvm_cpu_s": [round(p["jvm_cpu_s"], 3) for p in kept],
        "steal_reruns": len(rerun),
        "rerun_steal_s": [round(p["steal_s"], 3) for p in rerun],
        # Highest percentile with at least 10 passes beyond it; with
        # fewer than 11 passes there is none.
        "pass_tail": (
            {"p": round(100 * (1 - 10 / len(walls)), 1), "s": walls[-11]}
            if len(walls) > 10 else None
        ),
        "plans.stats_misses": stats_misses,
        "rss_peak_gb": {"value": sum(rss_parts.values()), "unit": "GB"},
        "rss_peak_parts_gb": _rounded(rss_parts),
        "failures": h.failures[:10],
        "host_start": host_start,
        "host_end": host_end,
    }
    print(json.dumps({"context": context}))
    # After a deadline stop there may be no pass to take a figure from;
    # the run is then a failure, and such figures read 0.
    median = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    if h.args.trace:
        layers = {
            k: median([p["layers"][k] for p in traced])
            for k in PER_LAYER if traced and k in traced[0]["layers"]
        }
        layers["session.start_s"] = session_start_s
        layers.update(rss_parts)
        layers["plans.stats_misses"] = stats_misses
        layers["trace.pass_s"] = median([p["wall_s"] for p in traced])
        layers["trace.untraced_pass_s"] = median(untraced)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - layers["trace.untraced_pass_s"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "pass_s": median(walls)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
