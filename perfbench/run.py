#!/usr/bin/env python3
"""Benchmark: the weekly GraphQL sync, end to end.

    python3 perfbench/run.py --workload weekly_steady --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed``, starts the fake GraphQL API (perfbench/fake_api.py) as a
separate process and builds one Spark session sized to this machine.
The weekly job runs once per process, so the measured operation is the
process's first full sync, from reading the drop to the last mutation
status frame. Syncs continue (closed loop, one client) until
``--seconds`` have passed; the API state is reset before every sync and
every sync's outputs are checked against the generator.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans during the first sync and reports
the per-layer metrics (see perfbench/README.md). All files go to
``.perfbench_work/`` under the repository root, removed at exit;
traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen(seconds: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``seconds`` of wall time less the share the hypervisor gave this
    VM's runnable CPUs to other tenants (steal) in that interval."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds


JIFFIES_PROCESS = cpu_jiffies()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import urllib.request  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from gen import SHEET, WeeklyInputs, WeeklySpec  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    # recurring run: read-heavy, most work is paginated ingest and the
    # adds-only delta append in ReconcileStaging
    "weekly_steady": WeeklySpec(
        locations=10_000, districts=100, new_locations=100, deprecated=50, renamed=20,
        drop="csv", fail_every=0,
    ),
    # first run: write-heavy, every location and permission is posted,
    # the drop is an .xlsx workbook, 1 in 10 mutation POSTs fails once
    "weekly_onboard": WeeklySpec(
        locations=3_000, districts=30, new_locations=3_000, deprecated=0, renamed=0,
        drop="xlsx", fail_every=10,
    ),
}
SERVICE_MS = 10.0  # fixed API service time per request
PAGE_SIZE = 100  # nodes per connection page
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# fake API process
# ---------------------------------------------------------------------------


class FakeApi:
    def __init__(self, state_path: str, spec: WeeklySpec, stderr):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fake_api.py"), "--state", state_path,
             "--service-ms", str(SERVICE_MS), "--fail-every", str(spec.fail_every)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=stderr, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"fake API did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"
        self.url = f"{self.base}/graphql"

    def _call(self, path: str, post: bool = False):
        req = urllib.request.Request(self.base + path, data=b"{}" if post else None)
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def reset(self) -> None:
        self._call("/control/reset", post=True)

    def stats(self) -> dict:
        return self._call("/control/stats")

    def added(self) -> list[dict]:
        return self._call("/control/added")

    def close(self) -> None:
        self.proc.stdin.close()  # the server shuts down on EOF
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# the sync as a user wires it
# ---------------------------------------------------------------------------


def node_schemas():
    from pyspark.sql import types as T

    s = T.StringType()
    return {
        "locations": T.StructType([T.StructField(c, s) for c in ("id", "name", "remoteId")]),
        "users": T.StructType([T.StructField(c, s) for c in ("id", "email", "firstName", "lastName")]),
        "hierarchyGroups": T.StructType([
            T.StructField("id", s), T.StructField("isTop", T.BooleanType()),
            T.StructField("name", s), T.StructField("remoteId", s),
            T.StructField("parent", T.StructType([T.StructField("id", s), T.StructField("name", s)])),
        ]),
    }


def alignments_schema():
    from pyspark.sql import types as T

    s = T.StringType()
    return T.StructType([
        T.StructField("region_supervisor", s), T.StructField("district", s),
        T.StructField("location", s), T.StructField("unit", T.DoubleType()),
        T.StructField("address", s), T.StructField("city", s), T.StructField("state", s),
        T.StructField("zip_code", s), T.StructField("dm", s), T.StructField("dm_email", s),
        T.StructField("supervisor_email", s), T.StructField("franchise_or_equity", s),
    ])


def build_context(spark, inputs: WeeklyInputs, drop: dict, report_dir: str, client):
    """PipelineContext over the file drop and the HTTP API behind
    ``client`` (a ``net.HttpGQLApi``). Module attributes are looked up
    at call time so traced runs see wrappers."""
    from graphql_api_etl_spark import net
    from graphql_api_etl_spark.pipelines import PipelineContext
    from graphql_api_etl_spark.sinks.mutations import MutationSink
    from graphql_api_etl_spark.sources import graphql as gql_source
    from graphql_api_etl_spark.sources import registry

    schema = alignments_schema()
    if drop["alignments"].endswith(".xlsx"):
        alignments = registry.read_excel_sheet(spark, drop["alignments"], SHEET, schema=schema)
    else:
        alignments = registry.read_csv(spark, drop["alignments"], schema=schema)
    alignments = alignments.na.drop(subset=["district", "region_supervisor", "location", "unit"])
    corporate = registry.read_csv(spark, drop["corporate"])
    schemas = node_schemas()

    def fetcher(conn: str):
        def fetch():
            pager = net.HttpConnectionClient(
                client, f"query {conn}($first: Int, $after: String) {{ {conn} }}",
                conn, conn, extra_variables={"first": PAGE_SIZE},
            )
            return gql_source.fetch_connection(spark, pager, schemas[conn])

        return fetch

    status_dir = os.path.join(report_dir, "_status")
    os.makedirs(status_dir, exist_ok=True)

    def sink(op: str) -> MutationSink:
        factory = net.HttpClientFactory(client.url, f"mutation {op}($input: Input!) {{ {op} }}")
        return MutationSink(factory, op, batch_size=100, status_dir=status_dir)

    return PipelineContext(
        alignments=alignments,
        corporate_managers=corporate,
        fetch_hierarchy_groups=fetcher("hierarchyGroups"),
        fetch_locations=fetcher("locations"),
        fetch_users=fetcher("users"),
        location_sink=sink("locationAdd"),
        assignment_sink=sink("hierarchyGroupAssign"),
        user_sink=sink("userAddNewToAccount"),
        permission_sink=sink("hierarchyGroupPermissionAdd"),
        report_dir=report_dir,
        backfill_supervisors=inputs.backfill,
        # sized to the machine like the shuffle partitions (the default
        # of 32 matches the session's default of 32 CPUs)
        reconcile_buckets=int(os.environ["SPARK_GRAFT_CPUS"]),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Bench:
    def __init__(self, spark, inputs: WeeklyInputs, drop: dict, api: FakeApi, work: str):
        self.spark = spark
        self.inputs = inputs
        self.drop = drop
        self.api = api
        self.work = work
        self.expected = inputs.expected()
        self.n = 0
        self.failures: list[str] = []

    def sync(self, tracer: Tracer | None = None) -> dict:
        """One timed sync plus its (untimed) output check."""
        from graphql_api_etl_spark import net
        from graphql_api_etl_spark.pipelines import weekly_alignments

        self.n += 1
        report_dir = os.path.join(self.work, f"sync{self.n}")
        group = f"perfbench-sync-{self.n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "perfbench sync")
        self.api.reset()
        client = net.HttpGQLApi(self.api.url)
        error = None
        if tracer is not None:
            tracer.run, tracer.active = group, True
        jiffies0 = cpu_jiffies()
        t0 = time.perf_counter()
        try:
            with tracer.span("sync") if tracer is not None else contextlib.nullcontext():
                ctx = build_context(self.spark, self.inputs, self.drop, report_dir, client)
                report = weekly_alignments.run_weekly_sync(ctx)
        except Exception as exc:  # noqa: BLE001 - a failed sync is a measured outcome
            traceback.print_exc()
            error = f"sync raised {type(exc).__name__}: {exc}"
            report = None
        finally:
            if tracer is not None:
                tracer.active = False
        elapsed = time.perf_counter() - t0
        jiffies1 = cpu_jiffies()
        client.close()
        sc.setLocalProperty("spark.jobGroup.id", None)

        stats = self.api.stats()
        out = {"sync_s": unstolen(elapsed, jiffies0, jiffies1), "wall_s": elapsed, "api": stats, "group": group,
               "steal_frac": 1 - unstolen(1.0, jiffies0, jiffies1)}
        if error is None:
            error = self.check(report, stats)
        if error:
            self.failures.append(error)
            log(f"sync {self.n} FAILED: {error}")
        out["failed"] = error is not None
        out["failed_records"] = self.failed_records(report, stats)
        if tracer is not None:
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in jobs]
            out["jobs"] = len(jobs)
            out["stages"] = sum(len(i.stageIds) for i in infos if i is not None)
            out["staging_bytes"] = dir_bytes(os.path.join(report_dir, "_staged_buckets"))
        shutil.rmtree(report_dir, ignore_errors=True)
        return out

    def failed_records(self, report, stats: dict) -> int:
        """Records whose final status is not success: status frames the
        pipeline counts, plus records the API never accepted."""
        n = 0
        if report is not None:
            n += sum(v for k, v in report.counts.items() if "fail" in k)
        acc = stats["records_accepted"]
        for op, want in self.expected["records"].items():
            n += max(0, want - acc.get(op, 0))
        return n

    def check(self, report, stats: dict) -> str | None:
        exp = self.expected
        for key, want in exp["counts"].items():
            got = report.counts.get(key)
            if got != want:
                return f"counts[{key}] = {got}, expected {want}"
        bad = {k: v for k, v in report.counts.items() if "fail" in k and v}
        if bad:
            return f"failed mutation records: {bad}"
        acc = stats["records_accepted"]
        for op, want in exp["records"].items():
            if acc.get(op, 0) != want:
                return f"API accepted {acc.get(op, 0)} {op} records, expected {want}"
        added = sorted(
            (r["name"], r["streetAddress"], r["locality"], r["province"], r["postalCode"], r["remoteId"])
            for r in self.api.added()
        )
        if added != exp["location_adds"]:
            extra = set(added) - set(exp["location_adds"])
            miss = set(exp["location_adds"]) - set(added)
            return (f"locationAdd set differs: {len(added)} applied, {len(exp['location_adds'])} expected, "
                    f"{len(extra)} unexpected, {len(miss)} missing")
        return None


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def install_spans(tracer: Tracer) -> None:
    """Spans around the calls into each layer, at the attribute the
    caller looks up (module globals for names imported into the
    pipeline module, class attributes for methods)."""
    from graphql_api_etl_spark.pipelines import weekly_alignments as wa
    from graphql_api_etl_spark.sinks import mutations, tables
    from graphql_api_etl_spark.sources import graphql as gql_source
    from graphql_api_etl_spark.sources import registry

    tracer.wrap(registry, "read_csv", "sources.registry.read")
    tracer.wrap(registry, "read_excel_sheet", "sources.registry.read")
    tracer.wrap(gql_source, "fetch_connection", "sources.graphql.fetch")
    tracer.wrap(gql_source, "walk_pages", "sources.graphql.walk")
    tracer.wrap(wa, "run_weekly_sync", "pipelines.sync")
    tracer.wrap(wa, "map_locations_to_hierarchies", "pipelines.map_locations")
    tracer.wrap(wa, "build_user_permission_frame", "pipelines.user_permissions")
    tracer.wrap(wa, "corporate_permission_pairs", "pipelines.corporate_permissions")
    tracer.wrap(wa, "reconcile_locations", "pipelines.reconcile")
    tracer.wrap(wa.ReconcileStaging, "land", "pipelines.staging.land")
    tracer.wrap(wa, "write_csv_report", "sinks.reports.write")
    tracer.wrap(wa, "warn_if_nonempty", "sinks.reports.write")
    tracer.wrap(mutations.MutationSink, "write", "sinks.mutations.write")
    tracer.wrap(tables, "stage_bucketed", "sinks.tables.stage")
    tracer.wrap(tables, "append_bucketed_delta", "sinks.tables.append")


def layer_metrics(tracer: Tracer, first: dict) -> dict:
    """Per-layer numbers of the first (traced) sync."""
    incl, own = tracer.totals(first["group"])
    api = first["api"]
    acc = sum(api["records_accepted"].values())
    accepted_posts = api["mutation_posts"] - api["rejected_posts"]
    return {
        "session.jobs": first["jobs"],
        "session.stages": first["stages"],
        "sources.graphql.fetch_s": incl.get("sources.graphql.fetch", 0.0),
        "sources.graphql.walk_s": incl.get("sources.graphql.walk", 0.0),
        "sources.graphql.page_ms": 1000 * incl.get("sources.graphql.walk", 0.0) / max(1, api["page_requests"]),
        "sources.graphql.pages": api["page_requests"],
        "sources.graphql.rows": api["rows_served"],
        "sources.registry.read_s": incl.get("sources.registry.read", 0.0),
        "pipelines.reconcile_s": incl.get("pipelines.reconcile", 0.0),
        "pipelines.staging.land_s": incl.get("pipelines.staging.land", 0.0),
        "pipelines.staging.bytes": first["staging_bytes"],
        "pipelines.map_locations_s": own.get("pipelines.map_locations", 0.0),
        "pipelines.user_permissions_s": own.get("pipelines.user_permissions", 0.0),
        "pipelines.corporate_permissions_s": own.get("pipelines.corporate_permissions", 0.0),
        "pipelines.sync_self_s": own.get("pipelines.sync", 0.0),
        "sinks.mutations.write_s": incl.get("sinks.mutations.write", 0.0),
        "sinks.mutations.posts": api["mutation_posts"],
        "sinks.mutations.records": acc,
        "sinks.mutations.records_per_post": acc / max(1, accepted_posts),
        "sinks.mutations.records_per_post.base": accepted_posts,
        "sinks.mutations.retried_posts": api["rejected_posts"],
        "sinks.mutations.failed_records": first["failed_records"],
        "sinks.tables.stage_s": incl.get("sinks.tables.stage", 0.0),
        "sinks.tables.append_s": incl.get("sinks.tables.append", 0.0),
        "sinks.reports.write_s": incl.get("sinks.reports.write", 0.0),
        "net.connections": api["connections"],
        "net.max_inflight": api["max_inflight"],
        "net.api_busy_s": api["busy_s"],
        "trace.sync_s": incl["sync"],
        "trace.self_sum_s": sum(own.values()),
        "trace.unattributed_s": own["sync"],
        "trace.overhead_s": tracer.overhead_s,
        "host.steal_frac": first["steal_frac"],
    }


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env(work: str) -> None:
    # Spark tasks get half the CPUs; the other half runs the rest of the
    # sync (query planning, code generation and JIT in the driver JVM, the
    # Python driver and workers, the fake API). On 4 vCPUs, 2 task slots
    # made the first sync about 15% faster than 4.
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_BUCKET_WAREHOUSE": os.path.join(work, "buckets"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
    })
    tempfile.tempdir = tmp


def become_subreaper() -> None:
    """Make orphaned descendants (the Python workers the JVM forks)
    children of this process, so they can be waited for at exit."""
    import ctypes

    pr_set_child_subreaper = 36
    if ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        log("prctl(PR_SET_CHILD_SUBREAPER) failed; orphaned workers cannot be waited for")


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(name))
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every child process has ended; children still running
    after ``grace_s`` get SIGTERM, and SIGKILL 5 s later."""
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = child_pids()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            log(f"sending {sig.name} to leftover processes {left}")
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and its JVM; ``spark.stop()`` alone leaves the
    JVM running until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - a run cut mid-call leaves the gateway unusable
        log(f"spark.stop() failed ({type(exc).__name__}); stopping the JVM")
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def start_spark():
    from graphql_api_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def bring_up(spec: WeeklySpec, seed: int, directory: str, stderr):
    """Generate the inputs, write the drop and start the fake API."""
    inputs = WeeklyInputs(spec, seed)
    drop = inputs.write_drop(directory)
    api = FakeApi(inputs.write_state(os.path.join(directory, "api_state.json")), spec, stderr)
    return inputs, drop, api


def run(args, work: str) -> dict:
    spec = WORKLOADS[args.workload]
    configure_env(work)
    spark = start_spark()
    t_session = time.perf_counter() - T_PROCESS
    api = None
    api_log = open(os.path.join(work, "fake_api.log"), "w")
    try:
        # the repeatable part of set-up is done several times; its
        # median is counted
        bring_up_s = []
        for k in range(SETUP_REPEATS):
            if api is not None:
                api.close()
            t0 = time.perf_counter()
            inputs, drop, api = bring_up(spec, args.seed, os.path.join(work, f"inputs{k}"), api_log)
            api.reset()
            bring_up_s.append(time.perf_counter() - t0)
        setup_s = unstolen(t_session + statistics.median(bring_up_s), JIFFIES_PROCESS, cpu_jiffies())
        bench = Bench(spark, inputs, drop, api, work)
        tracer = Tracer()
        if args.trace:
            install_spans(tracer)
        with tracer:
            # the weekly job runs once per process: the first sync is the
            # measured one; later ones (while --seconds lasts) are warm
            deadline = time.perf_counter() + args.seconds
            syncs = [bench.sync(tracer if args.trace else None)]
            while time.perf_counter() < deadline:
                syncs.append(bench.sync())
        log(f"setup {setup_s:.3f}s (session {t_session:.3f}s, bring-up {bring_up_s})")
        for s in syncs:
            log(f"{s['group']}: {s['sync_s']:.3f}s ({s['wall_s']:.3f}s wall, {100 * s['steal_frac']:.1f}% stolen), "
                f"{s['api']['requests']} API requests")

        declared = declared_metrics(args.trace)
        if args.trace:
            metrics = layer_metrics(tracer, syncs[0])
            if abs(metrics["trace.self_sum_s"] - metrics["trace.sync_s"]) > 1e-6 and not syncs[0]["failed"]:
                bench.failures.append("self times do not add up to the traced sync")
            xlsx = inputs.write_drop(os.path.join(work, "xlsx"), fmt="xlsx")["alignments"]
            from graphql_api_etl_spark.sources import registry

            t0 = time.perf_counter()
            registry.read_excel_sheet(spark, xlsx, SHEET, schema=alignments_schema()).count()
            metrics["sources.xlsx.read_s"] = time.perf_counter() - t0
            metrics["failed_frac"] = len(bench.failures) / len(syncs)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "sync_s": syncs[0]["sync_s"],
                "api_requests": syncs[0]["api"]["requests"],
                "setup_s": setup_s,
                "peak_rss_mb": rss_mb(spark.sparkContext._gateway.proc.pid) + rss_mb("self"),
            }
        if set(metrics) != set(declared):
            raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(declared)}")
        return {
            "correct": not bench.failures,
            "attempted": len(syncs),
            "failed": len(bench.failures),
            "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in declared.items()},
        }
    finally:
        try:
            if api is not None:
                api.close()
            api_log.close()
        finally:
            stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Weekly GraphQL sync benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark, the fake API and the workers
    # (finally blocks); a second SIGTERM does not cut that clean-up short
    def on_sigterm(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    if not os.path.isdir(os.path.join(ROOT, "graphql_api_etl_spark")):
        log(f"graphql_api_etl_spark not found under {ROOT}: run from a full checkout")
        return 2
    become_subreaper()
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result = run(args, work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
