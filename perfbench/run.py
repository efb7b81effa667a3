"""KG-construction benchmark: one closed-loop client on ``local[4]``.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload build_lazy --seed 42 \\
        --seconds 10 --trace 0

Workloads (README.md in this directory says why each exists):

- ``build_lazy``: ``run_pipeline`` -> ``write_triples`` of the full
  corpus into a fresh dir.
- ``build_checkpointed``: ``run_resumable(stop_after="mentions")`` (a
  simulated kill after the front end), then ``run_resumable`` again on
  the same workdir to completion -> ``write_triples``, of the full
  corpus.

Both warm up first with one pass of their own operation on another
table (``small`` and ``tiny``).

One run is one process and one Spark session issuing one operation at a
time. Inputs are staged per seed by ``stage.py`` in a child process
before the set-up clock starts. The operation repeats until
``--seconds`` have passed. Every operation's triples are checked by an
order-insensitive digest (see :func:`measure.digest`).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, runs the same set-up and one operation, then the
fixed layer probes of ``probes.py``, and prints the per-layer ledger.

On every way out, the Spark JVM and every process under this one are
stopped and waited for (``procs.stop_all``).

The last stdout line is the result object; the line before it is the
run record with the host-drift diagnostics (also appended to
``_work/runs.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from measure import calibrate, digest, du
from procs import stop_all

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
MASTER = "local[4]"
DRIVER_MEMORY = "2g"
# workload -> (table its operation builds, table of its warm-up pass)
WORKLOADS = {
    "build_lazy": ("full", "small"),
    "build_checkpointed": ("full", "tiny"),
}


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T0 = time.monotonic() - _process_age_s()


class Checks:
    """Correctness bookkeeping. Per staged table, every build of it —
    either mode, any repeat, this run or an earlier run of the same seed
    (kept in the seed's ``digests.json``) — must have one digest, and at
    the pinned seed that digest must be the pinned one."""

    def __init__(self, seed: int, data_dir: str):
        with open(os.path.join(HERE, "pinned.json")) as f:
            pinned = json.load(f)
        self.pinned = pinned["digests"] if pinned["seed"] == seed else {}
        self.path = os.path.join(data_dir, "digests.json")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, table: str, mode: str, got: str) -> bool:
        known = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                known = json.load(f)
        seen = known.setdefault(table, {})
        wrong = [f"{k}={v}" for k, v in seen.items() if v != got]
        if table in self.pinned and got != self.pinned[table]:
            wrong.append(f"pinned={self.pinned[table]}")
        if wrong:
            self.problems.append(f"{table}/{mode} digest {got} != "
                                 + ", ".join(wrong))
            return False
        seen[mode] = got
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f)
        os.replace(tmp, self.path)
        return True

    def check_op(self, table: str, mode: str, got: str) -> None:
        self.attempted += 1
        self.failed += not self.check(table, mode, got)

    @property
    def correct(self) -> bool:
        return not self.problems


class Run:
    """One benchmark process: staged inputs, the Spark session, and the
    workload's operations."""

    def __init__(self, args, tracer):
        self.args = args
        self.tr = tracer
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.data = os.path.join(WORK, "data", f"seed{args.seed}")
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def stage_inputs(self) -> float:
        t = time.monotonic()
        env = dict(os.environ, PYTHONPATH=ROOT)
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "stage.py"),
             "--seed", str(self.args.seed), "--out", self.data],
            env=env, check=True, capture_output=True, text=True)
        self.meta = json.loads(out.stdout.strip().splitlines()[-1])
        return time.monotonic() - t

    def start_session(self) -> None:
        os.makedirs(os.path.join(self.dir, "tmp"), exist_ok=True)
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "TMPDIR": os.path.join(self.dir, "tmp"),
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                                 + os.path.join(self.dir, "tmp"),
        })
        tempfile.tempdir = os.environ["TMPDIR"]
        sys.path.insert(0, ROOT)
        from cosmos_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.dir, "wh")}
        if self.args.trace:
            from spans import EVENT_LOG_CONF

            self.event_dir = os.path.join(self.dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        with self.tr.span("session"):
            self.spark = get_spark(app_name="perfbench", master=MASTER,
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tables = {t: self.spark.read.parquet(os.path.join(self.data, t))
                       for t in ("full", "small", "tiny")}

    # -- the two operations ---------------------------------------------
    def lazy_op(self, src, tag: str, wd: str, out: str) -> dict:
        from cosmos_spark import pipeline as P

        with self.tr.span(tag) as sp:
            res = P.run_pipeline(self.spark, src, workdir=wd)
            P.write_triples(res["triples"], out)
        # nothing is checkpointed: recovering from a kill is a full rerun
        return {"wall_s": sp["wall_s"], "resume_s": sp["wall_s"]}

    def checkpointed_op(self, src, tag: str, wd: str, out: str) -> dict:
        from cosmos_spark import pipeline as P
        from cosmos_spark.plans.lineage import run_resumable

        with self.tr.span(tag) as sp:
            with self.tr.span(tag + ".kill"):
                killed = run_resumable(self.spark, src, wd,
                                       stop_after="mentions")
            with self.tr.span(tag + ".resume") as rs:
                res = run_resumable(self.spark, src, wd)
                P.write_triples(res["triples"], out)
        done_before = {k for k, v in killed.items()
                       if v is not None and not k.startswith("_")}
        ck = res["_checkpointer"]
        return {"wall_s": sp["wall_s"], "resume_s": rs["wall_s"],
                "checkpointer": ck,
                "recomputed": len(done_before & set(ck.computed))}

    def op(self, mode: str, table: str, tag: str) -> dict:
        """One build of ``table`` in ``mode``, then its digest and the
        bytes left under the dirs the engine was given."""
        wd = os.path.join(self.dir, f"{tag}.work")
        out = os.path.join(self.dir, f"{tag}.out")
        fn = self.lazy_op if mode == "build_lazy" else self.checkpointed_op
        rec = fn(self.tables[table], tag, wd, out)
        rec.update(tag=tag, table=table, wd=wd, out=out)
        rec["digest"] = digest(self.spark.read.parquet(out))
        rec["triples"] = int(rec["digest"].split(":")[0])
        rec["bytes_written"] = du(wd)[0] + du(out)[0]
        return rec

    def discard(self, rec: dict) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(rec["wd"], ignore_errors=True)
        shutil.rmtree(rec["out"], ignore_errors=True)

    # -- the run ----------------------------------------------------------
    def warm_up(self, checks: Checks) -> list[float]:
        """One pass of the workload's operation on its warm-up table
        before the clock starts: the code paths are compiled and the
        Python workers are up, and the timed operation can reuse nothing
        the warm-up computed (another seed, a fresh workdir). Its digest
        is checked too."""
        mode = self.args.workload
        table = WORKLOADS[mode][1]
        rec = self.op(mode, table, "warmup")
        checks.check(table, mode, rec["digest"])
        self.discard(rec)
        return [rec["wall_s"]]

    def timed(self, checks: Checks, keep_last: bool) -> list[dict]:
        """Repeat the operation until ``--seconds`` have passed."""
        mode = self.args.workload
        table = WORKLOADS[mode][0]
        recs = []
        t_end = time.monotonic() + self.args.seconds
        while not recs or time.monotonic() < t_end:
            rec = self.op(mode, table, f"op{len(recs)}")
            checks.check_op(table, mode, rec["digest"])
            recs.append(rec)
            if not keep_last or time.monotonic() < t_end:
                self.discard(rec)
        return recs


def end_to_end(recs: list[dict], setup_s: float, meta: dict) -> dict:
    med = statistics.median
    table = recs[0]["table"]
    return {
        "setup_s": (setup_s, "s"),
        "triples_per_s": (med(r["triples"] / r["wall_s"] for r in recs),
                          "triples/s"),
        "resume_s": (med(r["resume_s"] for r in recs), "s"),
        "write_amp": (med(r["bytes_written"] for r in recs)
                      / meta[f"{table}_content_bytes"], "ratio"),
        "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF)
                          .ru_maxrss / 1024.0, "MB"),
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cosmos_spark")):
        print(f"perfbench: no cosmos_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    from spans import Tracer

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "nproc": os.cpu_count(),
              "master": MASTER, "loadavg_start": os.getloadavg(),
              "calib_s": calibrate()}
    tracer = Tracer()
    run = Run(args, tracer)
    os.makedirs(WORK, exist_ok=True)
    # a SIGTERM unwinds through the ``finally`` below like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        staging_s = run.stage_inputs()
        checks = Checks(args.seed, run.data)
        run.start_session()
        record["warmup_walls_s"] = run.warm_up(checks)
        setup_s = time.monotonic() - T0 - staging_s
        recs = run.timed(checks, keep_last=bool(args.trace))
        metrics = end_to_end(recs, setup_s, run.meta)
        table = WORKLOADS[args.workload][0]
        record.update({
            "staging_s": staging_s,
            "op_walls_s": [r["wall_s"] for r in recs],
            "table": table,
            "files": run.meta[f"{table}_files"],
            "triples": [r["triples"] for r in recs],
        })
        if args.trace:
            from probes import ledger

            metrics = ledger(run, recs[-1], metrics, checks)
    finally:
        # cleanup runs to its end, whatever happened before
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if run.spark is not None:
                run.spark.stop()
        finally:
            killed = stop_all()
            shutil.rmtree(run.dir, ignore_errors=True)
    record.update({"killed_pids": killed,
                   "run_wall_s": time.monotonic() - T0,
                   "loadavg_end": os.getloadavg(),
                   "problems": checks.problems,
                   "spans": [(s["name"], round(s["wall_s"], 3))
                             for s in tracer.spans]})
    line = json.dumps(record)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({
        "correct": checks.correct,
        "attempted": checks.attempted, "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
