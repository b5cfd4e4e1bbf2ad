"""Benchmark of the feature-store surface: daily batch, serving, ingest.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run makes its inputs from the seed
under a fresh temporary root inside the checkout (``.perfbench_tmp/``),
drives one workload, checks every result, deletes the root and prints one
JSON line of run facts (host shape, versions, sample counts) followed by
the result line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones from spans and the Spark event log.
``--scale smoke`` runs a 300-customer input (about a minute; most of it is
JVM start and the daily runs).

Every workload runs the same phases, and every operation kind in each, so
every end-to-end metric has samples in every workload:

1. warm-up: the session start, timed; then untimed the first (cold) daily
   transactional run, which commits the served feature store, and the
   bootstrap commit of the streaming state table that is served as the
   ``risk`` group;
2. set-up of the store, timed three times in the same session:
   FeatureStore build over the committed snapshots, CDC bootstrap
   (``refresh_serving_from_changes`` on a fresh cursor), preload.
   ``setup_s`` is the session start plus their median;
3. ``--seconds`` of operations in blocks (``PLAN``): each block runs one
   kind a fixed number of times back to back, after unrecorded lead runs,
   and the last block fills the rest of the window. Every end-to-end metric
   is printed for every workload, so every kind runs in both; the counts
   are a sampling device, not a model of production traffic.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import gc
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("daily_batch", "serve_zipf")
SCALES = {"full": 3000, "smoke": 300}  # customers; orders = 10x, lineitem = 40x
SETUP_REPS = 3
BATCH_EVERY = 10  # every 10th request is a batch lookup
BATCH_SIZE = 100  # the store's batch cap
EVENTS_PER_FILE = 100  # one batch lookup verifies a whole file
RISK_COVERAGE = 0.95  # share of users with a purchase in the state table
FIRST_DAILY = dt.date(2001, 8, 1)  # tables.REF_DATE
# Per workload: the blocks of the window in order, as (kind, recorded runs);
# the last block goes on until the window is used up. Each block but a daily
# one opens with LEAD unrecorded runs: the first run of a kind after another
# kind is up to half as slow again as the next ones, and medians of a few
# such runs interleaved with other kinds were what made earlier versions of
# this benchmark noisy. The first quality report of a run is a cold one,
# so quality has two. A daily run takes 5-8 s, so its block has no lead
# (the warm-up's cold daily run stands in) and serve_zipf affords one run.
# The daily block comes first, because a daily run warms most of what the
# others run. "serve" is BATCH_EVERY requests of the Zipf sequence: nine
# point lookups and one batch.
PLAN = {
    "daily_batch": (("daily", 3), ("ingest", 2), ("serve", 2), ("quality", 4)),
    "serve_zipf": (("daily", 1), ("quality", 4), ("ingest", 2), ("serve", 6)),
}
WARM_STREAM = 3  # the lead runs' own request sequence (stream 2 seeds the events)
LEAD = {"daily": 0, "quality": 2, "ingest": 1, "serve": 1}
LEAD_REQUESTS = 5  # a serve lead run: four point lookups and one batch
EVENTS_NOW = "2024-01-31 00:00:00"
FEATURE_TABLES = {"user": "user_features", "transaction": "transaction_features"}


def host_shape() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem_kb[k] = int(v.split()[0])
    return {"cpus": cpus, "mem_total_mb": mem_kb["MemTotal"] // 1024,
            "mem_available_mb": mem_kb.get("MemAvailable", mem_kb["MemTotal"]) // 1024}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def driver_memory_mb(shape: dict) -> int:
    """A quarter of the available memory, between 1 and 2 GB: the inputs
    are small and the box is shared."""
    return max(1024, min(2048, shape["mem_available_mb"] // 4))


class Samples:
    """Per-operation timings, and the count of checked and failed operations."""

    def __init__(self) -> None:
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, kind: str, value: float) -> None:
        self.times.setdefault(kind, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        traceback.print_exc(file=sys.stderr)


def response_matches(resp, expected: dict[str, dict | None]) -> bool:
    """A served response equals the expected rows: the same groups present,
    ``user``/``transaction`` row-equal, ``risk`` equal on ``risk_score``."""
    present = {t for t, v in expected.items() if v is not None}
    if set(resp.features) != present:
        return False
    for t in present:
        got, want = resp.features[t], expected[t]
        if t == "risk":
            if got.get("risk_score") != want["risk_score"]:
                return False
        elif got != want:
            return False
    return True


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, n_customers: int, shape: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.n = n_customers
        self.shape = shape
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "store")
        self.served = os.path.join(work, "served")
        self.state = os.path.join(work, "state")
        self.events = os.path.join(work, "events")
        self.s = Samples()
        self.spark = None
        self.store = None
        self.tracer = None
        self.counters: dict[str, float] = {}
        self.next_daily = FIRST_DAILY
        self.cycle = 0
        self.next_event_id = 10**9
        self.expected_risk: dict[int, float] = {}
        self.snapshot: dict[str, dict[int, dict]] = {}
        import numpy as np

        self.rng = np.random.default_rng([seed, 2])

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        from feature_store_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a heap fixed at its cap: G1 resizing otherwise differs run to
            # run and moves both GC time and peak RSS
            "spark.driver.extraJavaOptions":
                f"-Xms{driver_memory_mb(self.shape)}m "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- inputs and oracle -------------------------------------------------

    def make_inputs(self) -> None:
        import gen

        gen.write_tables(self.data, self.seed, self.n)
        os.makedirs(self.events, exist_ok=True)
        from feature_store_spark.oracle import duckdb_connection

        con = duckdb_connection(self.data)
        self.quality_oracle = _quality_oracle(con)
        self.oracle_con = con

    def expected_transaction_users(self, ref_date: dt.date) -> int:
        return self.oracle_con.execute(
            "SELECT count(DISTINCT o_custkey) FROM orders "
            "WHERE CAST(o_orderdate AS DATE) >= ?::DATE - INTERVAL 30 DAY",
            [ref_date.isoformat()]).fetchone()[0]

    # -- operations --------------------------------------------------------

    def daily_run(self, record: bool = True) -> None:
        from feature_store_spark.pipelines import drivers

        ref = self.next_daily
        self.next_daily += dt.timedelta(days=1)
        t0 = time.perf_counter()
        try:
            r = drivers.run_daily_pipeline(
                self.spark, self.data, self.out, ref_date=ref.isoformat(),
                transactional=True, vacuum_keep_last=2)
        except Exception:
            self.s.error(f"daily run {ref} raised")
            return
        elapsed = time.perf_counter() - t0
        want_txn = self.expected_transaction_users(ref)
        ok = (r.status == "SUCCESS"
              and r.counts.get("user_features") == self.n
              and r.counts.get("warehouse_rows") == self.n
              and r.counts.get("transaction_features") == want_txn
              and 0 < r.counts.get("risk_features", 0) <= self.n)
        self.s.check(ok, f"daily run {ref}: {r.status} {r.counts} want txn={want_txn}")
        if record:
            self.s.add("daily", elapsed)

    def quality_report(self, record: bool = True) -> None:
        from feature_store_spark.pipelines import drivers

        t0 = time.perf_counter()
        try:
            q = drivers.run_quality_report(self.spark, self.data, now=EVENTS_NOW)
        except Exception:
            self.s.error("quality report raised")
            return
        if record:
            self.s.add("quality", time.perf_counter() - t0)
        want = self.quality_oracle
        ok = (q["freshness"]["fresh_ratio"] == want["fresh_ratio"]
              and q["completeness"] == want["completeness"]
              and q["anomaly"]["outlier_count"] == want["outlier_count"])
        self.s.check(ok, f"quality report {q} != oracle {want}")

    def _expected(self, uid: int) -> dict[str, dict | None]:
        exp = {t: self.snapshot[t].get(uid) for t in FEATURE_TABLES}
        risk = self.expected_risk.get(uid)
        exp["risk"] = None if risk is None else {"risk_score": risk}
        return exp

    def request(self, req, record: bool = True) -> None:
        """One lookup, checked. Unrecorded (lead) lookups are checked too,
        but add no timing, no hit or absence count, and run under a job
        group of their own in a traced run."""
        kind, arg = req
        name = f"serving.{kind}" if record else "serving.lead"
        span = self.tracer.span(name) if self.tracer else contextlib.nullcontext()
        try:
            with span:
                t0 = time.perf_counter()
                if kind == "point":
                    resp = self.store.get_features(arg)
                else:
                    resps = self.store.get_batch_features(arg)
                dt_s = time.perf_counter() - t0
        except Exception:
            self.s.error(f"{kind} lookup raised")
            return
        c = self.counters if record else {}
        if kind == "point":
            if record:
                self.s.add("point", dt_s)
                self.s.add("point_hit" if resp.cache_hit else "point_miss", dt_s)
            c["absent"] = c.get("absent", 0) + (len(resp.features) < 3)
            c["zipf_units"] = c.get("zipf_units", 0) + 1
            c["zipf_hits"] = c.get("zipf_hits", 0) + resp.cache_hit
            self.s.check(response_matches(resp, self._expected(arg)), f"point lookup {arg} wrong")
        else:
            if record:
                self.s.add("batch", dt_s)
            c["zipf_units"] = c.get("zipf_units", 0) + len(resps)
            c["zipf_hits"] = c.get("zipf_hits", 0) + sum(r.cache_hit for r in resps)
            ok = len(resps) == len(arg) and all(
                r.user_id == u and response_matches(r, self._expected(u))
                for r, u in zip(resps, arg))
            self.s.check(ok, f"batch lookup of {len(arg)} wrong")

    def land_events(self, users, ts: dt.datetime) -> tuple[float, dict[int, float]]:
        import gen

        table = gen.event_batch(self.rng, users, len(users), self.next_event_id, ts)
        self.next_event_id += len(users)
        name = f"events-{self.cycle:05d}"
        self.cycle += 1
        landed = time.perf_counter()
        gen.land_atomically(table, self.events, name)
        values = dict(zip(table.column("user_id").to_pylist(),
                          table.column("value").to_pylist()))
        return landed, values

    def drain(self) -> dict:
        from feature_store_spark.streaming import pipeline

        return pipeline.run_streaming_upsert_manifest(
            self.spark, self.events, self.state, os.path.join(self.work, "stream_ckpt"))

    def refresh(self, ckpt: str) -> dict:
        from feature_store_spark.serving import store as serving

        return serving.refresh_serving_from_changes(
            self.spark, self.store, self.state, ckpt, "risk")

    def ingest_cycle(self, record: bool = True) -> None:
        """Land one event file, drain it into the state table, invalidate the
        changed users and look them up: each must serve its new value."""
        users = [int(u) for u in self.rng.choice(
            sorted(self.expected_risk), EVENTS_PER_FILE, replace=False)]
        ts = dt.datetime(2024, 2, 1) + dt.timedelta(seconds=self.cycle)
        landed, values = self.land_events(users, ts)
        try:
            t0 = time.perf_counter()
            r = self.drain()
            t1 = time.perf_counter()
            self.refresh(self.cdc_ckpt)
            t2 = time.perf_counter()
            resps = self.store.get_batch_features(users, ["risk"])
            served = time.perf_counter()
        except Exception:
            self.s.error("ingest cycle raised")
            return
        self.expected_risk.update(values)
        if record:
            self.s.add("drain", t1 - t0)
            self.s.add("refresh", t2 - t1)
            self.s.add("event_to_serve", served - landed)
        self.counters["stream_batches"] = self.counters.get("stream_batches", 0) + r["batches"]
        ok = r["batches"] >= 1 and all(
            resp.user_id == u and resp.features.get("risk", {}).get("risk_score") == values[u]
            for resp, u in zip(resps, users))
        self.s.check(ok, f"ingest cycle {self.cycle}: served risk_score differs")

    # -- phases ------------------------------------------------------------

    def warm_up(self) -> None:
        """The session start, timed (a process meets it once), then untimed:
        the first (cold) daily run, which commits the served feature store,
        and the state table's bootstrap commit. The served user/transaction
        tables are copies of the first commit, so the measured daily runs'
        vacuum never removes files under the store's pinned snapshot."""
        stages, t0 = {}, time.perf_counter()

        def stage(name: str) -> None:
            nonlocal t0
            now = time.perf_counter()
            stages[name] = round(now - t0, 3)
            t0 = now

        start = time.perf_counter()
        self.start_session()
        self.s.add("session_start", time.perf_counter() - start)
        stage("session")
        self.daily_run(record=False)
        stage("daily")
        for name in FEATURE_TABLES.values():
            shutil.copytree(os.path.join(self.out, name), os.path.join(self.served, name))
        ids = sorted(range(self.n))
        k = int(round(RISK_COVERAGE * self.n))
        users = sorted(int(u) for u in self.rng.choice(ids, k, replace=False))
        _landed, values = self.land_events(users, dt.datetime(2024, 1, 31))
        r = self.drain()
        self.s.check(r["upserted_users"] == k, f"state bootstrap {r}")
        self.expected_risk.update(values)
        stage("state_bootstrap")
        self.counters["warm_up_s"] = stages

    def build_store(self, ckpt: str):
        """A FeatureStore over the committed snapshots and the state table,
        its CDC cursor bootstrapped at ``ckpt``, preloaded. Returns the
        store, its preloaded entry count and the preload time."""
        from feature_store_spark.pipelines import txn
        from feature_store_spark.serving import store as serving

        dfs = {t: txn.read_table(self.spark, os.path.join(self.served, name))[0]
               for t, name in FEATURE_TABLES.items()}
        dfs["risk"] = txn.read_table(self.spark, self.state)[0]
        store = serving.FeatureStore(dfs)
        serving.refresh_serving_from_changes(self.spark, store, self.state, ckpt, "risk")
        t0 = time.perf_counter()
        entries = store.preload()
        return store, entries, time.perf_counter() - t0

    def set_up(self) -> None:
        """The store's set-up, timed SETUP_REPS times in the warm-up's
        session: ``build_store`` on a fresh CDC cursor each time. The last
        store serves the window. Then, untimed: the rows it must serve and
        the request sequences. Restarting the session for each repetition
        would time a restart inside a warm JVM, not a session start, and
        slows the next runs by a second."""
        for rep in range(SETUP_REPS):
            gc.collect()
            ckpt = os.path.join(self.work, f"cdc_ckpt_{rep}")
            t0 = time.perf_counter()
            store, entries, preload_s = self.build_store(ckpt)
            self.s.add("store_setup", time.perf_counter() - t0)
            self.s.add("preload", preload_s)
            self.s.check(entries == self.counters.setdefault("cache_entries", entries),
                         f"set-up {rep} preloaded {entries} entries")
        self.store, self.cdc_ckpt = store, ckpt
        self.snapshot = {
            t: {r["user_id"]: r.asDict() for r in self.store.feature_dfs[t].collect()}
            for t in FEATURE_TABLES}
        risk_users = {r["user_id"] for r in self.store.feature_dfs["risk"].select("user_id").collect()}
        self.s.check(risk_users == set(self.expected_risk), "state table users")
        import gen

        classes: dict[str, list[int]] = {}
        for u in range(self.n):
            exp = self._expected(u)
            key = "".join(t[0] for t in ("user", "transaction", "risk") if exp[t] is not None)
            classes.setdefault(key, []).append(u)
        self.requests = gen.zipf_requests(self.seed, classes, BATCH_EVERY, BATCH_SIZE)
        self.lead_requests = gen.zipf_requests(self.seed, classes, LEAD_REQUESTS, BATCH_SIZE,
                                               stream=WARM_STREAM)
        self.counters["complete_share"] = len(classes.get("utr", [])) / self.n

    def serve(self, record: bool = True) -> None:
        """One run of the closed-loop client: BATCH_EVERY requests of the
        Zipf sequence, so exactly one batch. ``lookups_per_s`` is
        BATCH_EVERY over the median of these runs' wall times, response
        checks included. A lead run takes LEAD_REQUESTS requests of a
        sequence of its own."""
        if not record:
            for _ in range(LEAD_REQUESTS):
                self.request(next(self.lead_requests), record=False)
            return
        t0 = time.perf_counter()
        for _ in range(BATCH_EVERY):
            self.request(next(self.requests))
        self.s.add("serve_block", time.perf_counter() - t0)

    def measure(self) -> float:
        """Run the workload's ``PLAN`` blocks in order over ``--seconds``,
        each its lead runs, then its recorded runs. The last block goes on
        while its next run would still end inside the window. Every planned
        run happens, however slow the host. Returns the measured wall time."""
        ops = {"daily": self.daily_run, "quality": self.quality_report,
               "serve": self.serve, "ingest": self.ingest_cycle}
        plan = PLAN[self.workload]
        runs, used = {}, {}
        t0 = time.perf_counter()
        for i, (kind, n) in enumerate(plan):
            start = time.perf_counter()
            for _ in range(LEAD[kind]):
                ops[kind](record=False)
            k, last = 0, 0.0
            while k < n or (i == len(plan) - 1
                            and time.perf_counter() - t0 + last <= self.seconds):
                r0 = time.perf_counter()
                ops[kind]()
                last = time.perf_counter() - r0
                k += 1
            runs[kind] = k
            used[kind] = round(time.perf_counter() - start, 3)
        self.counters["ops"] = runs
        self.counters["op_seconds"] = used
        return time.perf_counter() - t0

    def maintain(self) -> None:
        """daily_batch closes with one table maintenance (compact + vacuum)."""
        if self.workload != "daily_batch":
            return
        from feature_store_spark.pipelines import drivers

        try:
            m = drivers.run_table_maintenance(
                self.spark, os.path.join(self.out, "user_features"), keep_last=2)
            self.s.check(m["rows"] == self.n, f"maintenance {m}")
        except Exception:
            self.s.error("table maintenance raised")

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict:
        t = self.s.times
        points = t.get("point", [])
        blocks = t.get("serve_block", [])
        return {
            "setup_s": (t["session_start"][0] + _median(t["store_setup"]), "s"),
            "batch_run_s": (_median(t.get("daily", [])), "s"),
            "quality_report_s": (_median(t.get("quality", [])), "s"),
            "lookup_p50_ms": (_median(points) * 1e3, "ms"),
            "batch_lookup_p50_ms": (_median(t.get("batch", [])) * 1e3, "ms"),
            "lookups_per_s": (BATCH_EVERY / _median(blocks) if blocks else 0.0, "req/s"),
            "event_to_serve_p50_s": (_median(t.get("event_to_serve", [])), "s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }


def _quality_oracle(con) -> dict:
    fresh = con.execute(
        "SELECT count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-31 00:00:00' "
        "- INTERVAL 2 HOUR) / count(*) FROM events").fetchone()[0]
    comp = con.execute(
        "SELECT count(text)/count(*), count(lang)/count(*), count(source)/count(*), "
        "count(n_chars)/count(*) FROM documents").fetchone()
    n, s1, s2 = con.execute(
        "SELECT count(o_totalprice), sum(round(o_totalprice*100)::BIGINT)::DOUBLE, "
        "sum(round(o_totalprice*100)::HUGEINT * round(o_totalprice*100)::HUGEINT)::DOUBLE "
        "FROM orders").fetchone()
    mean = s1 / 100.0 / n
    std = ((s2 / 1e4 - (s1 / 100.0) ** 2 / n) / (n - 1)) ** 0.5
    outliers = con.execute(
        "SELECT count(*) FROM orders WHERE o_totalprice < ? OR o_totalprice > ?",
        [mean - 3 * std, mean + 3 * std]).fetchone()[0]
    return {"fresh_ratio": fresh,
            "completeness": dict(zip(["text", "lang", "source", "n_chars"], comp)),
            "outlier_count": outliers}


def _gateway_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _tree_pids(root_pid: int) -> list[int]:
    out = subprocess.run(["ps", "-e", "-o", "pid=,ppid="], capture_output=True,
                         text=True, check=True).stdout.split()
    children: dict[int, list[int]] = {}
    for pid, ppid in zip(out[::2], out[1::2]):
        children.setdefault(int(ppid), []).append(int(pid))
    pids, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(children.get(p, []))
    return pids


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the JVM's process tree
    (VmHWM of each; the Python workers the JVM forks are its children)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = _gateway_proc()
    if proc is not None:
        for pid in _tree_pids(proc.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except FileNotFoundError:
                pass
    return total_kb / 1024.0


def shutdown_jvm() -> None:
    """Stop the JVM the py4j gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str, shape: dict) -> tuple[dict, dict]:
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  SCALES[args.scale], shape)
    info: dict = {"phase_s": {}}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        info["phase_s"][name] = round(now - clock, 3)
        clock = now

    try:
        bench.make_inputs()
        phase("inputs")
        bench.warm_up()
        phase("warm_up")
        bench.set_up()
        phase("set_up")
        if bench.traced:
            import layers

            layers.install(bench)
        gc.collect()
        gc.freeze()
        info["measured_s"] = bench.measure()
        phase("measure")
        bench.maintain()
        phase("maintain")
        metrics = bench.end_to_end()
        if bench.traced:
            bench.tracer.unwrap_all()
            # traced minus untraced end-to-end figures is the tracing overhead
            info["end_to_end_traced"] = {k: v for k, (v, _u) in metrics.items()}
        gc.unfreeze()
        info["spark_version"] = bench.spark.version
        info["java_version"] = bench.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
    finally:
        bench.stop_session()
    if bench.traced:
        import layers

        metrics = layers.per_layer(bench, info["phase_s"]["measure"] + info["phase_s"]["maintain"])
    info["samples"] = {k: len(v) for k, v in bench.s.times.items()}
    info["times"] = {k: [round(x, 4) for x in v] for k, v in bench.s.times.items()}
    info["errors"] = bench.s.errors
    info["counters"] = bench.counters
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, {"bench": bench, **info}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = p.parse_args(argv)

    if not (ROOT / "feature_store_spark" / "session.py").is_file():
        print(f"perfbench: no feature_store_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    shape = host_shape()
    load_start = os.getloadavg()
    steal_start = cpu_steal_s()
    os.environ["SPARK_GRAFT_CPUS"] = str(shape["cpus"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb(shape)}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp_parent = ROOT / ".perfbench_tmp"
    tmp_parent.mkdir(exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=tmp_parent)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        metrics, info = run(args, work, shape)
        bench = info.pop("bench")
        if bench.traced:
            bench.tracer.dump(str(ROOT / ".perfbench_out" /
                                  f"spans-{args.workload}-{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            tmp_parent.rmdir()
        except OSError:
            pass
    facts = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "customers": SCALES[args.scale], "host": shape,
        "driver_memory_mb": driver_memory_mb(shape),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_s": round(cpu_steal_s() - steal_start, 2),
        "python_version": platform.python_version(), **info,
    }
    print(json.dumps(facts, default=str))
    print(json.dumps({"correct": bench.s.failed == 0, "attempted": bench.s.attempted,
                      "failed": bench.s.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
