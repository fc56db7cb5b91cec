"""The benchmark's workloads. Each is a closed loop with one client:
the next unit of work starts only after the previous one completed.

A workload generates its inputs (in a subprocess, cached per seed and
size), sets up, runs one cold unit and its warm-up units, then units
for the timed window, and finally checks every unit's output against
an oracle outside the engine. Spans around the calls into each module
are recorded only when tracing is on.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import oracles
from tracing import Tracer, eventlog_by_group, median, session_started

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")


def transcripts_suite():
    """The 13-check transcript suite of bench.py's headline job."""
    from hjsonschema_spark.checks import (
        Bounds, CheckSuite, Contiguous, Enum, Length, Monotonic, NotNullIf,
        Pattern, RefIntegrity, Required, UniqueKey,
    )
    from hjsonschema_spark.sources import ROLE_VOCAB

    return CheckSuite(
        name="transcripts_full",
        key_columns=("conv_id", "turn_idx"),
        checks=(
            Required(column="conv_id"),
            Required(column="role"),
            Required(column="ts"),
            Enum(column="role", values=tuple(ROLE_VOCAB)),
            Pattern(column="conv_id", regex="^c[0-9]{8}$"),
            Pattern(column="text", regex="^(Thought|Action|Observation):|^[a-z]"),
            Bounds(column="turn_idx", min=0, max=100000),
            Length(column="text", min_len=1, max_len=100000),
            NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
            UniqueKey(columns=("conv_id", "turn_idx")),
            Contiguous(order_column="turn_idx", group_by=("conv_id",)),
            Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
            RefIntegrity(columns=("tool",), ref_name="tools"),
        ),
    )


def generate(kind: str, seed: int, **size) -> str:
    """Path of the cached input for (kind, size, seed), generating it in
    a subprocess when absent."""
    key = "_".join([kind] + [f"{k}{v}" for k, v in sorted(size.items())] + [f"s{seed}"])
    path = os.path.join(CACHE, "data", key)
    if not os.path.isdir(path):
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "datagen.py"),
               "--kind", kind, "--seed", str(seed), "--out", path]
        for k, v in size.items():
            cmd += [f"--{k}", str(v)]
        subprocess.run(cmd, check=True, timeout=120)
        prune(os.path.dirname(path), keep=KEEP_INPUTS)
    return path


# a 2M-turn table is ~90 MB, and every run of a measurement may use a new seed
KEEP_INPUTS = 6


def prune(cache: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently generated inputs."""
    entries = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for d in entries[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm(pid: int) -> None:
    """Restart VmHWM from the current RSS, so the peak covers only what
    follows (the timed units)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class Unit:
    def __init__(self, uid: str, kind: str):
        self.uid, self.kind = uid, kind  # kind: cold | warmup | timed
        self.wall = 0.0
        self.cpu = 0.0
        self.error = ""
        self.out: dict = {}
        self.traced = False


class Workload:
    name = ""
    warmups = 0  # units after the cold one, before the timed window
    min_units = 1  # timed units; a traced run takes two, one of them plain
    rows = 0  # input rows one unit validates
    # as a companion, whether the host's units have already run its
    # code path; if not, a cold unit precedes the traced one
    warm_in_host = False

    def __init__(self, seed: int, trace: bool, scale: float = 1.0):
        self.seed, self.trace, self.scale = seed, trace, scale
        self.tracer = Tracer(trace)
        self.spark = None
        self.jvm_pid = None
        self.layer: dict[str, float] = {}
        self.companions: list[Workload] = []  # run after the timed window
        self._log = os.path.join(OUT, "eventlog")

    def size(self, n: int) -> int:
        return max(1, int(n * self.scale))

    # -- hooks ---------------------------------------------------------
    def prepare(self) -> None: ...
    def setup(self) -> None: ...
    def unit(self, u: Unit) -> None: ...
    def between(self) -> None: ...
    def check(self, units: list[Unit]) -> None: ...
    def layers(self, traced: list[Unit]) -> None: ...

    def setup_metrics(self, setup: dict, timed: list[Unit]) -> dict:
        return setup

    def spark_by_unit(self, traced: list[Unit]) -> dict[str, dict]:
        """Spark-wide numbers per traced unit, from the event log."""
        log = getattr(self, "event_log", None)
        if not log or not os.path.exists(log):
            return {}
        return eventlog_by_group(log, {u.uid: (u.t0, u.t1) for u in traced})

    # -- Spark session -------------------------------------------------
    def start_session(self) -> None:
        from hjsonschema_spark.session import get_spark

        if self.spark is not None:  # a companion shares its host's session
            return
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            os.makedirs(self._log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self._log,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit (SparkSession.stop()
        leaves the py4j JVM running; it exits when its stdin closes)."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)
        self.spark = None
        self.event_log = os.path.join(self._log, app_id)

    def hygiene(self, clear_cache: bool) -> None:
        """Between units, outside timed windows: drop caches and force a
        full GC so dead shuffle files are reclaimed (CLAUDE.md)."""
        if clear_cache:
            self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        stages = [s for s in stages if s]
        return {
            "jobs": len(jobs),
            "stages": sum(1 for s in stages if s.numCompletedTasks),
            "tasks": sum(s.numCompletedTasks for s in stages),
            "tasks_failed": sum(s.numFailedTasks for s in stages),
        }

    def set_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def peak_rss_mb(self, timed: list[Unit]) -> float:
        return vm_hwm_mb(self.jvm_pid)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and its JVM, if any."""
        t = os.times()
        return t.user + t.system + (proc_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0)

    def teardown(self) -> None:
        self.stop_session()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- transcripts_warm --------------------------------------------------------


# ~2.03M turns, bench.py's headline size
CONVS = 400000


class TranscriptsWarm(Workload):
    """The 13-check suite over a persisted in-memory transcript table."""

    name = "transcripts_warm"
    # the first units after the cold one still wait on JIT compilation,
    # whose CPU cost swings with contention on a shared host
    warmups = 2
    min_units = 3  # a unit's CPU time varies by ~10% with JIT and GC timing

    def prepare(self) -> None:
        self.path = generate("transcripts", self.seed, convs=self.size(CONVS), files=4)
        # a traced run also measures the layers that only the on-demand
        # workloads reach, after its timed window and in its session: a
        # resume over two appended batches, and the three queries at a
        # quarter size (never below a tenth, so the MinHash oracle has
        # pairs); a traced run must end within 180 s on a contended host
        self.companions = [ResumeSmallFiles(self.seed, True, self.scale, batches=3),
                           DriftDedup(self.seed, True, max(self.scale, 0.4) / 4)] if self.trace else []
        for c in self.companions:
            c.prepare()

    def setup(self) -> None:
        from hjsonschema_spark.sources import tool_vocab_df
        from hjsonschema_spark.sources.tables import read_table

        self.start_session()
        with self.tracer.span("sources.load"):
            self.df = read_table(self.spark, self.path).persist()
            self.rows = self.df.count()
        self.tools = tool_vocab_df(self.spark)
        self.suite = transcripts_suite()

    def unit(self, u: Unit) -> None:
        from hjsonschema_spark.checks import run_suite

        span = self.tracer.span
        with span("checks.engine.run_suite"):
            res = run_suite(self.df, self.suite, vocab_tables={"tools": self.tools}, persist=True)
        if u.traced:
            with span("checks.engine.plan"):
                plan = res.violations._jdf.queryExecution().executedPlan().toString()
            u.out["exchanges"] = plan.count("Exchange")
        with span("checks.engine.violations"):
            noop(res.violations)
        with span("checks.engine.verdicts"):
            noop(res.verdicts)
        with span("checks.engine.summary"):
            summary = res.summary()
        with span("checks.engine.unpersist"):
            res.unpersist()
        u.out["by_check"] = summary["by_check"]
        u.out["violation_rows"] = summary["n_violations"]
        self._res = res

    def between(self) -> None:
        # clearCache() would also drop the persisted input this workload
        # measures against; the run's own frames go with a blocking
        # unpersist instead
        self._res.unpersist(blocking=True)
        self.hygiene(clear_cache=False)

    def check(self, units: list[Unit]) -> None:
        want = oracles.transcript_counts(os.path.join(self.path, "*.parquet"))
        for u in units:
            if not u.error:
                u.error = "; ".join(oracles.compare_counts(u.out["by_check"], want, u.uid))

    def layers(self, traced: list[Unit]) -> None:
        ids, t = {u.uid for u in traced}, self.tracer
        for s in ("run_suite", "plan", "violations", "verdicts", "summary", "unpersist"):
            key = "build" if s == "run_suite" else s
            self.layer[f"checks.engine.{key}_s"] = median(t.durations(f"checks.engine.{s}", ids))
        self.layer["checks.engine.build_cold_s"] = median(t.durations("checks.engine.run_suite", {"cold"}))
        for k in ("jobs", "stages", "tasks", "tasks_failed", "violation_rows", "exchanges"):
            self.layer[f"checks.engine.{k}"] = median([u.out.get(k, 0) for u in traced])


# -- resume_small_files ------------------------------------------------------

BATCH = 16


class ResumeSmallFiles(Workload):
    """Resume a checkpointed run whose ledger covers the first batch of
    many small files; the appended files form the other batches."""

    name = "resume_small_files"
    warm_in_host = True  # the same suite as transcripts_warm's

    def __init__(self, seed: int, trace: bool, scale: float = 1.0, batches: int = 4):
        super().__init__(seed, trace, scale)
        self.n_files = batches * BATCH

    def prepare(self) -> None:
        # ~60 conversations, a few hundred turns, per file
        self.path = generate("transcripts", self.seed, convs=self.size(60 * self.n_files),
                             files=self.n_files)
        self.files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        self.work = os.path.join(CACHE, "work", self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def _run(self, store: str, **kw) -> dict:
        from hjsonschema_spark.checks.checkpoint import CheckpointedRun
        from hjsonschema_spark.sources import tool_vocab_df

        tracer = self.tracer

        class TimedRun(CheckpointedRun):
            def completed_files(self, spark, version):
                with tracer.span("checks.checkpoint.completed_files"):
                    return super().completed_files(spark, version)

        self.ckpt = TimedRun(store)
        return self.ckpt.run(
            self.spark, self.path, self.suite, vocab_tables={"tools": tool_vocab_df(self.spark)},
            files_per_batch=BATCH, **kw,
        )

    def setup(self) -> None:
        self.start_session()
        self.suite = transcripts_suite()
        self.snapshot = os.path.join(self.work, "snapshot")
        with self.tracer.span("checks.checkpoint.base_run"):
            self._run(self.snapshot, max_batches=1)
        self.rows = 0

    def unit(self, u: Unit) -> None:
        store = os.path.join(self.work, u.uid)
        span = self.tracer.span
        with span("checks.checkpoint.restore"):
            shutil.copytree(self.snapshot, store)
        with span("checks.checkpoint.run"):
            totals = self._run(store)
        with span("checks.checkpoint.violations"):
            viols = [r.asDict() for r in self.ckpt.violations(self.spark)
                     .drop("batch_id", "run_id").collect()]
        u.out.update(totals=totals, viols=viols, store=store)
        self.rows = totals["n_rows"]

    def between(self) -> None:
        self.hygiene(clear_cache=True)

    def check(self, units: list[Unit]) -> None:
        ref_store = os.path.join(self.work, "uninterrupted")
        self._run(ref_store)
        ref = [r.asDict() for r in self.ckpt.violations(self.spark)
               .drop("batch_id", "run_id").collect()]
        appended = set(self.files[BATCH:])
        want = oracles.transcript_counts(self.files)
        for u in units:
            if u.error:
                continue
            t = u.out["totals"]
            ledger = ledger_rows(u.out["store"], t["run_id"])
            done = {f.removeprefix("file://") for r in ledger for f in r["file_manifest"]}
            errs = oracles.compare_rows(u.out["viols"], ref, f"{u.uid} vs uninterrupted run")
            errs += oracles.compare_counts(
                count_checks(u.out["viols"]), want, f"{u.uid} committed violations")
            if done != appended or t["skipped_files"] != BATCH or t["remaining_files"]:
                errs.append(f"{u.uid}: resumed {len(done)} files, skipped {t['skipped_files']}, "
                            f"{t['remaining_files']} left; expected the {len(appended)} appended")
            u.error = "; ".join(errs)
            u.out["ledger"] = ledger

    def layers(self, traced: list[Unit]) -> None:
        ids = {u.uid for u in traced}
        t, L = self.tracer, self.layer
        L["checks.checkpoint.ledger_read_s"] = median(t.durations("checks.checkpoint.completed_files", ids))
        L["checks.checkpoint.run_s"] = median(t.durations("checks.checkpoint.run", ids))
        L["checks.checkpoint.violations_read_s"] = median(t.durations("checks.checkpoint.violations", ids))
        walls = [r["wall_sec"] for u in traced for r in u.out["ledger"]]
        L["checks.checkpoint.batch_s"] = median(walls)
        L["checks.checkpoint.batch_p90_s"] = (
            statistics.quantiles(walls, n=10)[-1] if len(walls) > 1 else median(walls))
        L["checks.checkpoint.batches"] = median([u.out["totals"]["batches"] for u in traced])
        L["checks.checkpoint.files_done"] = median([
            sum(len(r["file_manifest"]) for r in u.out["ledger"]) for u in traced])
        L["checks.checkpoint.files_skipped"] = median([u.out["totals"]["skipped_files"] for u in traced])
        grown = [dir_files_bytes(u.out["store"]) for u in traced]
        base = dir_files_bytes(self.snapshot)
        L["checks.checkpoint.files_written"] = median([g[0] - base[0] for g in grown])
        L["checks.checkpoint.bytes_written"] = median([g[1] - base[1] for g in grown])


def count_checks(rows: list[dict]) -> dict[str, int]:
    return dict(collections.Counter(r["check"] for r in rows))


def ledger_rows(store: str, run_id: str) -> list[dict]:
    """This run's committed ledger rows, read with DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        cur = con.execute(
            "SELECT file_manifest, wall_sec FROM read_parquet(?) WHERE run_id = ? AND status = 'done'",
            [os.path.join(store, "checkpoints", "*.parquet"), run_id],
        )
        return [{"file_manifest": m, "wall_sec": w} for m, w in cur.fetchall()]
    finally:
        con.close()


def dir_files_bytes(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


# -- cli_cold ----------------------------------------------------------------


# ~214k turns, the table the CLI validates
CLI_CONVS = 40000


class CliCold(Workload):
    """``python -m hjsonschema_spark validate`` as a fresh process per
    unit, timed from process start to exit."""

    name = "cli_cold"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hjsonschema_spark.sources import TOOL_VOCAB

        self.path = generate("transcripts", self.seed, convs=self.size(CLI_CONVS), files=4)
        self.rows = sum(
            pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(self.path, "*.parquet")))
        self.work = os.path.join(CACHE, "work", self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.suite_file = os.path.join(self.work, "transcripts_full.json")
        with open(self.suite_file, "w") as f:
            f.write(transcripts_suite().to_json())
        self.vocab = os.path.join(self.work, "tools")
        os.makedirs(self.vocab)
        pq.write_table(pa.table({"tool": TOOL_VOCAB}), os.path.join(self.vocab, "part-0.parquet"))

    def unit(self, u: Unit) -> None:
        """One CLI process in its own process group, until every process
        of the group has exited. Its stdout is unbuffered, so the arrival
        of the report line marks the end of the CLI's own timed window;
        the group's CPU time at that window's start is the CLI's set-up."""
        out = os.path.join(self.work, u.uid)
        cmd = [sys.executable, "-m", "hjsonschema_spark", "validate", "--table", self.path,
               "--suite", self.suite_file, "--vocab", f"tools={self.vocab}", "--out", out]
        env = dict(os.environ, PYTHONUNBUFFERED="1")
        if u.traced:
            u.out["log"] = os.path.join(self.work, "eventlog", u.uid)
            os.makedirs(u.out["log"])
            env["PYSPARK_SUBMIT_ARGS"] = (
                f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={u.out['log']} "
                "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false pyspark-shell")
        report, t_report = "", 0.0
        with open(os.path.join(self.work, f"{u.uid}.stderr"), "w") as log:
            t0 = time.perf_counter()
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                    start_new_session=True)
            watcher = GroupWatcher(proc.pid, deadline=t0 + 150)
            try:
                for line in proc.stdout:
                    if '"wall_sec"' in line:
                        report, t_report = line, time.perf_counter()
                proc.wait()
            finally:
                u.wall = time.perf_counter() - t0
                watcher.stop()
                reap_group(proc.pid)
        u.cpu = watcher.cpu_s
        if proc.returncode != 1:
            raise RuntimeError(f"cli exited {proc.returncode}, expected 1 (violations)")
        rep = json.loads(report)
        u.out.update(out=out, rss=watcher.peak, report=rep,
                     setup_cpu=watcher.cpu_at(t_report - rep["wall_sec"]),
                     setup_wall=t_report - rep["wall_sec"] - t0)

    def check(self, units: list[Unit]) -> None:
        want = oracles.transcript_counts(os.path.join(self.path, "*.parquet"))
        for u in units:
            if u.error:
                continue
            rep = u.out["report"]
            errs = oracles.compare_counts(rep["by_check"], want, f"{u.uid} stdout")
            errs += oracles.compare_counts(
                oracles.violation_file_counts(os.path.join(u.out["out"], "violations")), want,
                f"{u.uid} violations/")
            if rep["passed"]:
                errs.append(f"{u.uid}: reported passed on a table with violations")
            u.error = "; ".join(errs)

    def setup_metrics(self, setup: dict, timed: list[Unit]) -> dict:
        """Each CLI process sets itself up: interpreter, imports, JVM and
        session start, up to the start of its own timed window."""
        return {"setup_s": median([u.out["setup_cpu"] for u in timed]),
                "setup_wall_s": median([u.out["setup_wall"] for u in timed])}

    def peak_rss_mb(self, timed: list[Unit]) -> float:
        return max((u.out.get("rss", 0.0) for u in timed), default=0.0)

    def spark_by_unit(self, traced: list[Unit]) -> dict[str, dict]:
        # the CLI sets no job group: every job in a unit's log is the unit's
        return {u.uid: eventlog_by_group(self.log_file(u), {"": (u.t0, u.t1)})[""] for u in traced}

    def log_file(self, u: Unit) -> str:
        (name,) = os.listdir(u.out["log"])
        return os.path.join(u.out["log"], name)

    def layers(self, traced: list[Unit]) -> None:
        L = self.layer
        L["session.start_s"] = median([session_started(self.log_file(u)) - u.t0 for u in traced])
        L["cli.process_s"] = median([u.wall for u in traced])
        L["cli.reported_s"] = median([u.out["report"]["wall_sec"] for u in traced])
        L["cli.outside_s"] = median([u.wall - u.out["report"]["wall_sec"] for u in traced])
        L["cli.out_bytes"] = median([dir_files_bytes(u.out["out"])[1] for u in traced])

    def teardown(self) -> None:
        pass


class GroupWatcher:
    """Polls a process group every 0.1 s until stopped: the peak VmHWM
    of its JVM, the CPU time of each process as last seen (a process's
    final 0.1 s before exit is missed) and the group's CPU time over
    time. Kills the group once ``deadline`` has passed."""

    def __init__(self, pgid: int, deadline: float):
        self.pgid, self.deadline, self.peak = pgid, deadline, 0.0
        self._cpu: dict[int, float] = {}
        # (perf_counter, group CPU s), from the spawn on
        self.timeline: list[tuple[float, float]] = [(time.perf_counter(), 0.0)]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.wait(0.1):
            for pid, comm, cpu in group_procs(self.pgid):
                self._cpu[pid] = cpu
                if comm == "java":
                    try:
                        self.peak = max(self.peak, vm_hwm_mb(pid))
                    except FileNotFoundError:
                        pass
            now = time.perf_counter()
            self.timeline.append((now, self.cpu_s))
            if now > self.deadline:
                kill_group(self.pgid)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def cpu_s(self) -> float:
        return sum(self._cpu.values())

    def cpu_at(self, t: float) -> float:
        """The group's CPU seconds at ``t``, interpolated between polls."""
        prev = self.timeline[0]
        for now, cpu in self.timeline:
            if now >= t:
                t0, c0 = prev
                return c0 + (cpu - c0) * ((t - t0) / (now - t0) if now > t0 else 1.0)
            prev = (now, cpu)
        return prev[1]


def _stat(pid: int | str) -> tuple[str, list[str]]:
    """Command name and the fields after it of /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a process has used."""
    return _cpu_s(_stat(pid)[1])


def group_procs(pgid: int) -> list[tuple[int, str, float]]:
    """(pid, command name, CPU seconds) of every live process in a group."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            comm, fields = _stat(d)
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":  # a zombie has already exited
            out.append((int(d), comm, _cpu_s(fields)))
    return out


def reap_group(pgid: int, timeout: float = 30.0) -> None:
    """Wait until every process of the group has exited; kill what is
    left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while group_procs(pgid):
        if time.monotonic() > deadline:
            kill_group(pgid)
        time.sleep(0.05)


def kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        pass


# -- drift_dedup_sf01 --------------------------------------------------------

QUERIES = ("minhash_lsh_documents", "drift_suite_events", "functional_dependency_lineitem")
ORACLE_OF = {"minhash_lsh_documents": "minhash_lsh_md5_documents"}


class DriftDedup(Workload):
    """Three ``__spark_entry__`` queries, each to a noop sink."""

    name = "drift_dedup_sf01"

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.sf = generate("sf", self.seed, docs=self.size(1500), events=self.size(50000),
                           orders=self.size(50000))
        self.rows = sum(pq.ParquetFile(os.path.join(self.sf, f"{t}.parquet")).metadata.num_rows
                        for t in ("documents", "events", "lineitem"))

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.start_session()
        self.queries = {q: entry.queries()[q] for q in QUERIES}

    def unit(self, u: Unit) -> None:
        for q, fn in self.queries.items():
            if u.traced:
                self.set_group(f"{u.uid}:{q}")
            with self.tracer.span(f"{q}.build"):
                df = fn(self.spark, self.sf)
            # collected rather than written to a noop sink, so that every
            # unit's output reaches the oracle (the largest result is a
            # few ten thousand short rows)
            with self.tracer.span(f"{q}.exec"):
                u.out[q] = df.collect()
            if u.traced:
                u.out[f"{q}.jobs"] = self.job_counts(f"{u.uid}:{q}")["jobs"]
        if u.traced:
            self.set_group(u.uid)

    def between(self) -> None:
        self.hygiene(clear_cache=True)

    def expected(self, query: str) -> list[dict]:
        """Oracle rows, kept beside the seed's tables: the md5 MinHash
        twin alone costs seconds of DuckDB per seed."""
        path = os.path.join(self.sf, f"expected_{query}.json")
        if not os.path.exists(path):
            with open(path + ".tmp", "w") as f:
                json.dump(oracles.sf_oracle_rows(self.sf, query), f, default=str)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)

    def check(self, units: list[Unit]) -> None:
        for q in QUERIES:
            want = self.expected(ORACLE_OF.get(q, q))
            compare = oracles.compare_pairs if q in ORACLE_OF else oracles.compare_rows
            for u in units:
                if not u.error:
                    u.error = "; ".join(compare([r.asDict() for r in u.out[q]], want, f"{u.uid} {q}"))

    def layers(self, traced: list[Unit]) -> None:
        ids = {u.uid for u in traced}
        for q in QUERIES:
            self.layer[f"{q}.build_s"] = median(self.tracer.durations(f"{q}.build", ids))
            self.layer[f"{q}.exec_s"] = median(self.tracer.durations(f"{q}.exec", ids))
            self.layer[f"{q}.jobs"] = median([u.out.get(f"{q}.jobs", 0) for u in traced])


WORKLOADS = {w.name: w for w in (TranscriptsWarm, ResumeSmallFiles, CliCold, DriftDedup)}
