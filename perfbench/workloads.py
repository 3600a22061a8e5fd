"""The benchmark workloads and the closed loop that times them.

Every workload runs as a closed loop with one client: one driver thread
issues the next operation when the previous one returns. Spark runs
``local[<cores>]``. The number of measured passes (on ``email_ingest``,
batches) is fixed by ``--seconds`` alone (``seconds / NOMINAL_PASS_S``),
not by how fast they run, so every run does the same work.

* ``graph_fixpoint`` runs the registry ``graph_pagerank`` query (hybrid
  driver-finish path) plus PageRank and connected components forced onto
  the distributed path (``small_cutoff=0``) on the events interaction
  graph. Many small jobs per round: per-job and driver overhead dominate,
  scan and shuffle volumes are small.
* ``email_ingest`` lands a seeded maildir tree as micro-batches; each batch
  runs ``scan_maildir`` -> ``parse_emails`` -> ``DedupParquetSink`` into one
  store, and after each commit a fixed set of point and mailbox lookups runs
  through ``read_dedup_store``. File listing, the Python parse and the
  sink's merge-and-commit do the work; Catalyst and graph do almost none.
  Every run merges into and reads from the same sequence of store sizes.
* ``olap_mix`` runs oracle-backed relational and LLM-pipeline registry
  queries pass after pass. It runs on demand only: ``BENCHMARK.json`` lists
  the two workloads above, because every listed workload multiplies the
  number of timed runs and a fresh JVM plus its first pass costs 15-20 s per
  run on a 4-core host.

Set-up (``setup_s``) runs once per process: from the top of ``run.py`` to
the first timed op, that is the interpreter's imports, a SparkSession from
``get_spark`` (JVM launch included), the registry ``load`` and
``WARMUP_PASSES`` warm-up passes (op list, or email batch plus
lookups). The first pass is cold; the JIT keeps shortening the next few, so
timing starts only after them. Input generation and the oracle reference
digests are not part of set-up. Each run is one sample; repeated runs give
the spread.

Correctness: registry results are digest-checked against their DuckDB
oracle over the same parquet once per run (on the first warm-up pass) and
every later pass must reproduce that digest; each ``small_cutoff=0`` output
must equal the default-path output; the final email store must equal
``ingest_maildir`` over everything landed and hold exactly the generated
messages, so the parser quarantined exactly the malformed files (a traced
run also counts the quarantined rows of each batch).

With ``trace`` on, passes alternate between traced and untraced; the traced
ones give the per-layer metrics (see ``capture.py``) and the untraced ones
the baseline for ``trace.overhead_frac``. A traced email batch first forces
scan, parse and merge on their own (for the ``sources.*`` and
``dedup_merge.*`` numbers); the timed sink call then finds the files in
the page cache, so the batch overhead there can come out negative.

Which end-to-end metric each per-layer metric should move, on which
workload:

=============================================  ===============================
per-layer metric                               moves (workload)
=============================================  ===============================
session.get_spark_s, queries.load_s, warmup_s  setup_s (both)
queries.build_s, queries.build_jobs            pass_s (graph_fixpoint)
catalyst.{analysis,optimization,planning}_ms   pass_s (graph_fixpoint)
exec.action_s, exec.driver_s, exec.jobs,       pass_s (graph_fixpoint)
exec.stages, exec.tasks
exec.executor_*, exec.*_bytes                  pass_s (both)
graph.jobs_per_iter, op.<graph op>_s           pass_s, query_p50_s
                                               (graph_fixpoint)
sources.scan_s, sources.scan_splits,           pass_s (email_ingest)
sources.parse_s, sources.parse_msgs_per_s
dedup_merge.merge_s,                           pass_s (email_ingest)
dedup_merge.rows_in_per_row_out
streaming.sink_call_s, streaming.sink_jobs,    pass_s (email_ingest)
streaming.sink_tasks
streaming.store_files, streaming.store_bytes,  query_p50_s (email_ingest)
streaming.store_versions,
streaming.bytes_written_per_batch
streaming.lookup_s, op.lookup_*_s              query_p50_s (email_ingest)
self.<layer>_s                                 pass_s of the workload
jvm.peak_rss_mb                                peak memory (both)
=============================================  ===============================

``sources.quarantined`` must equal the malformed files generated per batch.
``trace.unattributed_frac`` is the share of the traced ops' wall that no
wrapped layer covers (the root span's self time); ``trace.parts_max_dev``
is the worst gap between an op's summed self times and its wall.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from perfbench import capture, inputs

#: Passes in set-up: one cold pass plus two while the JIT still shortens
#: each pass by 5-10% (4-core x86 host).
WARMUP_PASSES = 3

OLAP_QUERIES = (
    "flagship_hierarchy_rollup",
    "join_fact_fact",
    "dedup_minhash_lsh",
)
GRAPH_QUERIES = ("graph_pagerank",)
#: Scale factor of the graph workload's tables.
GRAPH_SF = 0.001
#: Iterations of the forced-distributed PageRank.
PAGERANK_ITERS = 2
EMAIL_KEY_COLS = ["user", "folder", "filename"]
EMAIL_COLS = ["dedupe_key", "message_id", "date", "from", "to", "cc", "bcc",
              "subject", "body", "attachments", "headers", "n_duplicates"]


#: Nominal wall of one measured pass (email: a batch plus its four
#: lookups), rounded up from what a 4-core x86 host measured: olap 1.7-1.9
#: s, graph 2.3-3.5 s, email 4.0-4.5 s. It sets how many passes a
#: ``--seconds`` window holds, so every run makes the same passes whatever
#: its speed.
NOMINAL_PASS_S = {"olap_mix": 2.0, "graph_fixpoint": 3.0, "email_ingest": 5.0}
#: Measured passes at least: a traced run needs one of each kind.
MIN_PASSES = 2


@dataclass(frozen=True)
class Scale:
    """Input sizes; ``FULL`` is the benchmark, ``TINY`` the self-check."""
    olap_sf: float
    mail_batch_size: int


FULL = Scale(olap_sf=0.01, mail_batch_size=60)
TINY = Scale(olap_sf=0.001, mail_batch_size=12)


class CheckFailed(Exception):
    """An op's output did not match what the benchmark expected."""


@dataclass
class Run:
    """State of one benchmark run, shared by the workload code."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    scale: Scale
    #: ``time.perf_counter()`` at the top of ``run.py``
    t_start: float
    corrupt_expected: bool = False
    spark: object = None
    registry: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    tracer: capture.Tracer = field(default_factory=capture.Tracer)
    probe: capture.SparkProbe | None = None
    patch: capture.LayerPatch | None = None
    #: per traced pass: (op name, wall, counters, op id) for each op
    traced: list = field(default_factory=list)
    #: untraced and traced pass walls, and per-op latency samples
    pass_walls: list = field(default_factory=list)
    traced_walls: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    op_walls: dict = field(default_factory=dict)

    def attempt(self, what: str, fn: Callable[[], object]):
        """Run one op; an exception or failed check counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - every op failure is counted
            self.failed += 1
            self.failures.append(f"{what}: {exc!r}")
            if not isinstance(exc, CheckFailed):
                traceback.print_exc(file=sys.stderr)
            return None

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall of one phase of the run in the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases = self.info.setdefault("phases_s", {})
            phases[name] = time.perf_counter() - t0

    def check(self, what: str, got, want) -> None:
        if got != want:
            raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def _start_session(run: Run) -> dict:
    t0 = time.perf_counter()
    from hierarchical_graph_db_spark.session import get_spark
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from hierarchical_graph_db_spark.queries import load
    run.registry = load()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    return {"get_spark_s": t1 - t0, "load_s": t2 - t1}


def _check_cores(run: Run) -> None:
    sc = run.spark.sparkContext
    cpus = len(os.sched_getaffinity(0))
    got = {"cpus": cpus, "master": sc.master,
           "defaultParallelism": sc.defaultParallelism}
    run.info["cores"] = got
    if sc.master != f"local[{cpus}]" or sc.defaultParallelism != cpus:
        raise SystemExit(f"perfbench: core count disagrees: {got}")


def _shutdown_jvm() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    from hierarchical_graph_db_spark.session import stop_spark
    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mb() -> tuple[float, float]:
    """Peak RSS in MB of this process, and of the largest waited-for child
    (the JVM, after ``_shutdown_jvm``)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return own / 1024.0, kids / 1024.0


def _setup(run: Run, warmup: Callable[[], None]) -> None:
    """Session, registry load and ``WARMUP_PASSES`` warm-up passes;
    ``total_s`` runs from the top of ``run.py`` and leaves out the
    ``inputs`` phase."""
    inputs_s = run.info.get("phases_s", {}).get("inputs", 0.0)
    t0 = time.perf_counter()
    row = _start_session(run)
    _check_cores(run)
    tw = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        warmup()
    t1 = time.perf_counter()
    row.update(startup_s=t0 - run.t_start - inputs_s, warmup_s=t1 - tw,
               total_s=t1 - run.t_start - inputs_s)
    run.setup = row


def measured_passes(workload: str, seconds: float) -> int:
    """Measured passes for a ``--seconds`` window: a function of the window
    alone, so a faster program makes the same passes."""
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def _closed_loop(run: Run, one_pass: Callable[[int, bool], float]) -> None:
    """``measured_passes`` passes, one after the other; in a traced run
    they alternate traced and untraced. ``one_pass`` returns the wall the
    pass reports as ``pass_s``."""
    n = measured_passes(run.workload, run.seconds)
    t0 = time.perf_counter()
    for i in range(n):
        traced = run.trace and i % 2 == 0
        wall = one_pass(i, traced)
        (run.traced_walls if traced else run.pass_walls).append(wall)
    run.info["measured_s"] = time.perf_counter() - t0
    run.info["passes"] = n


# ---------------------------------------------------------------------------
# traced op
# ---------------------------------------------------------------------------

def _traced(run: Run, name: str, pass_no: int, body: Callable[[], object]):
    """Run ``body`` as one op under its own job group and root span; return
    (result, wall, counters, jobs)."""
    op_id = f"{pass_no}:{name}"
    run.tracer.op = op_id
    group = run.probe.new_group(name)
    with run.tracer.span(name, "bench") as root:
        out = body()
    counters, jobs = capture.attach_spark(run.tracer, run.probe, group, op_id)
    run.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
    run.tracer.op = ""
    return out, root.dur, counters, jobs


def _layer_self(run: Run, op_ids: list[str]) -> tuple[dict, float, float]:
    """Self time per layer over ``op_ids``, the worst relative gap between
    an op's summed self times and its wall, and the summed op walls."""
    per_layer: dict[str, float] = {}
    worst = walls = 0.0
    for op_id in op_ids:
        spans = run.tracer.op_spans(op_id)
        st = capture.self_times(spans)
        root = next(s for s in spans if s.parent is None)
        total = sum(st.values())
        walls += root.dur
        if root.dur > 0:
            worst = max(worst, abs(total / root.dur - 1.0))
        for s in spans:
            per_layer[s.layer] = per_layer.get(s.layer, 0.0) + st[s.id]
    return per_layer, worst, walls


# ---------------------------------------------------------------------------
# op-list workloads: olap_mix, graph_fixpoint
# ---------------------------------------------------------------------------

@dataclass
class Op:
    name: str
    build: Callable[[object, dict], object]  # (spark, registry) -> DataFrame
    expect: tuple | None = None              # (sorted columns, digest)


def _digest(cols: list[str], rows: list) -> tuple:
    from result_digest import frame_digest
    return tuple(sorted(cols)), frame_digest(cols, [tuple(r) for r in rows])


def _registry_op(name: str, sf_dir: str) -> Op:
    return Op(name, lambda spark, reg: reg[name].run(spark, sf_dir))


def _graph_edges(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.io import Catalog
    from hierarchical_graph_db_spark.operators.graph import (
        sequential_interaction_edges,
    )
    return sequential_interaction_edges(Catalog(spark, sf_dir).events).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"))


def _pagerank(sf_dir: str, cutoff: int | None):
    def build(spark, reg):
        from hierarchical_graph_db_spark.operators import graph
        kw = {} if cutoff is None else {"small_cutoff": cutoff}
        return graph.pagerank(_graph_edges(spark, sf_dir),
                              n_iter=PAGERANK_ITERS, grid="absolute", **kw)
    return build


def _components(sf_dir: str, cutoff: int | None):
    def build(spark, reg):
        from hierarchical_graph_db_spark.operators import graph
        kw = {} if cutoff is None else {"small_cutoff": cutoff}
        return graph.connected_components(_graph_edges(spark, sf_dir), **kw)
    return build


def _oracle_digests(run: Run, ops: list[Op], sf_dir: str) -> None:
    """Expected digest of every registry op from its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    tmp = os.path.join(run.work, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in inputs.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    try:
        for op in ops:
            spec = run.registry.get(op.name)
            if spec is None or op.expect is not None:
                continue
            if spec.oracle is None:
                raise SystemExit(f"perfbench: {op.name} has no oracle")
            rel = con.sql(spec.oracle)
            op.expect = _digest(rel.columns, rel.fetchall())
    finally:
        con.close()


def _run_op(run: Run, op: Op, pass_no: int, traced: bool) -> float:
    """Time one op (build + collect), then check its digest."""
    def body():
        if not traced:
            t0 = time.perf_counter()
            df = op.build(run.spark, run.registry)
            rows = df.collect()
            return df, rows, time.perf_counter() - t0, None
        tr = run.tracer
        holder = {}

        def inner():
            with tr.span("queries.build", "queries") as b:
                holder["df"] = op.build(run.spark, run.registry)
            with tr.span("collect", "exec.driver"):
                holder["rows"] = holder["df"].collect()
            tr.frames.append(holder["df"])
            holder["build"] = b

        _, wall, counters, jobs = _traced(run, op.name, pass_no, inner)
        b = holder["build"]
        # Jobs submitted before the action: gate probes, eager checkpoints.
        counters.update(build_s=b.dur, build_jobs=sum(
            1 for j in jobs if b.start <= j["start"] <= b.end))
        return holder["df"], holder["rows"], wall, counters

    def go():
        df, rows, wall, counters = body()
        got = _digest(df.columns, rows)
        if op.expect is None:
            op.expect = got
        if run.corrupt_expected:
            op.expect = (op.expect[0], "0" * 64)
        run.check(op.name, got, op.expect)
        return wall, counters

    out = run.attempt(op.name, go)
    if out is None:
        return 0.0
    wall, counters = out
    if counters is not None:
        run.traced[-1].append((op.name, wall, counters, f"{pass_no}:{op.name}"))
    elif pass_no >= 0:
        run.latencies.append(wall)
        run.op_walls.setdefault(op.name, []).append(wall)
    else:
        run.info.setdefault("warmup_op_s", {}).setdefault(
            op.name, []).append(round(wall, 3))
    return wall


def _op_list_workload(run: Run, ops: list[Op], sf_dir: str,
                      references: Callable[[], None]) -> None:
    def warmup() -> None:
        for op in ops:
            _run_op(run, op, -1, False)

    with run.phase("setup"):
        _setup(run, warmup)
    with run.phase("references"):
        references()
    if run.trace:
        run.probe = capture.SparkProbe(run.spark)
        run.patch = capture.LayerPatch(run.tracer)

    def one_pass(i: int, traced: bool) -> float:
        if traced:
            run.traced.append([])
        t0 = time.perf_counter()
        for op in ops:
            _run_op(run, op, i, traced)
        return time.perf_counter() - t0

    try:
        with run.phase("measure"):
            _closed_loop(run, one_pass)
    finally:
        if run.patch is not None:
            run.patch.undo()


def olap_mix(run: Run) -> None:
    sf_dir = os.path.join(run.work, "tables")
    with run.phase("inputs"):
        run.info["inputs"] = inputs.make_tables(run.scale.olap_sf, sf_dir,
                                                run.seed)
    ops = [_registry_op(q, sf_dir) for q in OLAP_QUERIES]
    # The warm-up pass produced digests; the oracle must agree with them.
    spark_digests: dict[str, tuple] = {}

    def references() -> None:
        for op in ops:
            spark_digests[op.name] = op.expect
            op.expect = None
        _oracle_digests(run, ops, sf_dir)
        for op in ops:
            run.attempt(f"oracle {op.name}", lambda op=op: run.check(
                f"oracle {op.name}", spark_digests[op.name], op.expect))

    _op_list_workload(run, ops, sf_dir, references)


def graph_fixpoint(run: Run) -> None:
    sf_dir = os.path.join(run.work, "tables")
    with run.phase("inputs"):
        run.info["inputs"] = inputs.make_tables(GRAPH_SF, sf_dir, run.seed)
    forced = [Op("pagerank_cutoff0", _pagerank(sf_dir, 0)),
              Op("components_cutoff0", _components(sf_dir, 0))]
    default = {"pagerank_cutoff0": _pagerank(sf_dir, None),
               "components_cutoff0": _components(sf_dir, None)}
    ops = [_registry_op(q, sf_dir) for q in GRAPH_QUERIES] + forced
    spark_digests: dict[str, tuple] = {}

    def references() -> None:
        registry_ops = ops[:len(GRAPH_QUERIES)]
        for op in registry_ops:
            spark_digests[op.name] = op.expect
            op.expect = None
        _oracle_digests(run, registry_ops, sf_dir)
        for op in registry_ops:
            run.attempt(f"oracle {op.name}", lambda op=op: run.check(
                f"oracle {op.name}", spark_digests[op.name], op.expect))
        # Each forced-distributed output must equal the default path's.
        for op in forced:
            df = default[op.name](run.spark, run.registry)
            want = _digest(df.columns, df.collect())
            run.attempt(f"default-path {op.name}", lambda op=op, w=want:
                        run.check(f"default-path {op.name}", op.expect, w))

    _op_list_workload(run, ops, sf_dir, references)


# ---------------------------------------------------------------------------
# email_ingest
# ---------------------------------------------------------------------------

def _canon(v):
    """Order-free rendering of nested values (maps, arrays of structs)."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _email_digest(df) -> tuple[int, str]:
    """(rows, digest) of a merged email frame."""
    from result_digest import frame_digest
    rows = df.select(*EMAIL_COLS, "members").collect()
    canon = [tuple(_canon(x) for x in r[:-1]) + (sorted(_canon(r[-1])),)
             for r in rows]
    return len(rows), frame_digest(EMAIL_COLS + ["members"], canon)


class Mailstore:
    """One store on disk fed by micro-batches landed from a generated tree.
    It outlives session restarts: each batch gets a sink on the current
    session."""

    def __init__(self, run: Run, tree: inputs.MaildirTree):
        self.run, self.tree = run, tree
        self.landing = os.path.join(run.work, "landing")
        self.path = os.path.join(run.work, "store")
        os.makedirs(self.landing, exist_ok=True)
        self.landed = 0
        self.bytes_after: list[int] = []

    def land(self) -> str:
        k = self.landed
        dst = os.path.join(self.landing, os.path.basename(self.tree.batch_dir(k)))
        os.rename(self.tree.batch_dir(k), dst)
        self.landed += 1
        return dst

    def batch_frame(self, batch_dir: str):
        from pyspark.sql import functions as F

        from hierarchical_graph_db_spark.sources.maildir import (
            parse_emails, scan_maildir,
        )
        parsed = parse_emails(scan_maildir(self.run.spark, batch_dir))
        return parsed.where(F.col("error").isNull()).drop("error")

    def ingest(self) -> float:
        """Land the next batch and run it through the sink; the wall from
        landing to the sink's return."""
        from hierarchical_graph_db_spark.streaming.ingest import (
            DedupParquetSink,
        )
        t0 = time.perf_counter()
        batch_dir = self.land()
        sink = DedupParquetSink(self.run.spark, self.path, key="dedupe_key",
                                order_by=EMAIL_KEY_COLS,
                                member_cols=EMAIL_KEY_COLS)
        sink(self.batch_frame(batch_dir), self.landed - 1)
        return time.perf_counter() - t0

    def lookups(self, record: Callable[[str, float], None]) -> None:
        """Point lookups by Message-ID and mailbox lookups by user, each
        checked against the generator's manifest."""
        from pyspark.sql import functions as F

        from hierarchical_graph_db_spark.streaming.ingest import (
            read_dedup_store,
        )
        run, n = self.run, self.landed
        for mid in self.tree.point_keys(n, run.seed):
            def point(mid=mid):
                t0 = time.perf_counter()
                rows = (read_dedup_store(run.spark, self.path)
                        .where(F.col("dedupe_key") == mid)
                        .select("message_id", "members").collect())
                wall = time.perf_counter() - t0
                run.check(f"lookup {mid}", [(r[0], len(r[1])) for r in rows],
                          [(mid, self.tree.copies(mid, n))])
                return wall
            wall = run.attempt(f"lookup {mid}", point)
            if wall is not None:
                record("point", wall)
        for user in inputs.USERS[:2]:
            def mailbox(user=user):
                t0 = time.perf_counter()
                rows = (read_dedup_store(run.spark, self.path)
                        .where(F.exists("members",
                                        lambda m: m["user"] == user))
                        .select("dedupe_key").collect())
                wall = time.perf_counter() - t0
                run.check(f"mailbox {user}", len(rows),
                          self.tree.mailbox_size(user, n))
                return wall
            wall = run.attempt(f"mailbox {user}", mailbox)
            if wall is not None:
                record("mailbox", wall)


def _email_probes(run: Run, store: Mailstore, batch_dir: str) -> dict:
    """Traced batches only: force scan, parse and merge on their own so
    each layer's cost and counts can be read."""
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.dedup_merge import dedup_merge
    from hierarchical_graph_db_spark.sources.maildir import (
        parse_emails, scan_maildir,
    )
    out = {}
    t0 = time.perf_counter()
    scanned = scan_maildir(run.spark, batch_dir)
    n_files = scanned.count()
    out["scan_s"] = time.perf_counter() - t0
    out["scan_splits"] = scanned.rdd.getNumPartitions()
    t0 = time.perf_counter()
    parsed = parse_emails(scanned).persist()
    bad = parsed.where(F.col("error").isNotNull()).count()
    n_parsed = parsed.count()
    out["parse_s"] = time.perf_counter() - t0
    out["parse_msgs_per_s"] = n_parsed / out["parse_s"]
    out["quarantined"] = bad
    run.attempt("quarantine count", lambda: run.check(
        "quarantine count", (n_files, bad),
        (store.tree.batch_size, inputs.MALFORMED_PER_BATCH)))
    t0 = time.perf_counter()
    clean = parsed.where(F.col("error").isNull()).drop("error")
    merged = dedup_merge(clean, "dedupe_key", EMAIL_KEY_COLS, EMAIL_KEY_COLS)
    rows_out = merged.count()
    out["merge_s"] = time.perf_counter() - t0
    out["rows_in_per_row_out"] = (n_parsed - bad) / max(rows_out, 1)
    parsed.unpersist()
    return out


def email_ingest(run: Run) -> None:
    n_measured = measured_passes(run.workload, run.seconds)
    with run.phase("inputs"):
        # The first batches are the warm-up; the first of them takes the
        # fresh-store path, every other batch the merge path.
        tree = inputs.make_maildir(os.path.join(run.work, "maildir"),
                                   run.seed, WARMUP_PASSES + n_measured,
                                   run.scale.mail_batch_size)
    run.info["inputs"] = {"files_per_batch": tree.batch_size,
                          "malformed_per_batch": inputs.MALFORMED_PER_BATCH}
    store = Mailstore(run, tree)

    def warmup() -> None:
        run.attempt("warm-up batch", store.ingest)
        store.lookups(lambda kind, wall: None)

    with run.phase("setup"):
        _setup(run, warmup)
    store.bytes_after.append(capture.store_walk(store.path)[1])
    if run.trace:
        run.probe = capture.SparkProbe(run.spark)
        run.patch = capture.LayerPatch(run.tracer)

    def one_pass(i: int, traced: bool) -> float:
        if not traced:
            wall = run.attempt(f"batch {store.landed}", store.ingest)
            store.lookups(lambda kind, w: (run.latencies.append(w),
                                           run.op_walls.setdefault(
                                               f"lookup_{kind}", []).append(w)))
            _store_bytes(store)
            return wall or 0.0
        run.traced.append([])
        k = store.landed
        probes = _email_probes(run, store, tree.batch_dir(k))
        _, wall, counters, _ = _traced(
            run, f"batch{k}", i,
            lambda: run.attempt(f"batch {k}", store.ingest))
        counters.update({f"probe_{n}": v for n, v in probes.items()})
        run.traced[-1].append(("batch", wall, counters, f"{i}:batch{k}"))
        lookups: list[float] = []
        _, total, counters, _ = _traced(
            run, "lookups", i,
            lambda: store.lookups(lambda kind, w: lookups.append(w)))
        counters["lookup_s"] = _median(lookups)
        run.traced[-1].append(("lookups", total, counters, f"{i}:lookups"))
        _store_bytes(store)
        return wall

    try:
        with run.phase("measure"):
            _closed_loop(run, one_pass)
    finally:
        if run.patch is not None:
            run.patch.undo()
    # Final state: the store must equal a batch ingest of everything
    # landed, and hold exactly the generated messages: one more row means
    # a malformed file escaped quarantine, one fewer a good file was lost.
    from hierarchical_graph_db_spark.sources.maildir import ingest_maildir
    from hierarchical_graph_db_spark.streaming.ingest import read_dedup_store
    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    def final_check():
        ref = ingest_maildir(run.spark, store.landing).withColumnRenamed(
            "mailboxes", "members")
        want = _email_digest(ref)
        run.check("final store", _email_digest(
            read_dedup_store(run.spark, store.path)), want)
        run.check("messages kept", want[0], len(
            {f.key for f in tree.landed(store.landed) if f.key is not None}))

    with run.phase("final_check"):
        run.attempt("final store", final_check)
    files, nbytes = capture.store_walk(store.path)
    in_bytes = tree.input_bytes(store.landed)
    run.info["inputs"].update(batches_landed=store.landed,
                              files=store.landed * tree.batch_size,
                              bytes=in_bytes)
    walls = run.pass_walls + run.traced_walls
    run.info["email"] = {
        "ingest_msgs_per_s": (len(walls) * tree.batch_size / sum(walls)
                              if sum(walls) else 0.0),
        "batch_p50_s": _median(run.pass_walls or walls),
        "store_bytes_per_input_byte": nbytes / in_bytes,
        "store_files": files,
        "store_bytes": nbytes,
        "store_versions": len(BucketedParquetStore(run.spark,
                                                   store.path).versions()),
        "bytes_written_per_batch": _median(
            b - a for a, b in zip(store.bytes_after, store.bytes_after[1:])),
    }


def _store_bytes(store: Mailstore) -> None:
    store.bytes_after.append(capture.store_walk(store.path)[1])


WORKLOADS: dict[str, Callable[[Run], None]] = {
    "olap_mix": olap_mix,
    "graph_fixpoint": graph_fixpoint,
    "email_ingest": email_ingest,
}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def end_to_end(run: Run, peak_rss: tuple[float, float]) -> dict:
    lat = run.latencies
    run.info["peak_rss_mb"] = {"driver": peak_rss[0], "jvm": peak_rss[1]}
    return {
        "setup_s": (run.setup["total_s"], "s"),
        "pass_s": (_median(run.pass_walls), "s"),
        "query_p50_s": (_median(lat), "s"),
        "query_p90_s": (_percentile(lat, 0.9), "s"),
        "driver_peak_rss_mb": (peak_rss[0], "MB"),
    }


def report(run: Run, e2e: dict) -> dict:
    """The summary printed above the result line: every end-to-end metric
    with its unit and sample count, including those ``BENCHMARK.json``
    does not gate on: ``query_p90_s``, ``query_tail`` (the highest
    percentile with ten samples beyond it), ``peak_rss_mb`` of driver plus
    JVM, ``failed_frac`` and the email-only ``ingest_msgs_per_s``,
    ``batch_p50_s`` and ``store_bytes_per_input_byte``."""
    n = len(run.latencies)
    beyond10 = max(0.0, 1.0 - 10.0 / n) if n else 0.0
    out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rss = run.info["peak_rss_mb"]
    out["peak_rss_mb"] = {"value": rss["driver"] + rss["jvm"], "unit": "MB"}
    out["query_p50_s"]["samples"] = n
    out["query_p90_s"]["samples"] = n
    out["query_tail"] = {"percentile": round(100 * beyond10, 1),
                         "value": _percentile(run.latencies, beyond10),
                         "unit": "s", "samples": n}
    out["pass_s"]["samples"] = len(run.pass_walls)
    out["failed_frac"] = {"value": run.failed / max(run.attempted, 1),
                          "unit": "ratio"}
    email = run.info.get("email")
    if email:
        out["ingest_msgs_per_s"] = {"value": email["ingest_msgs_per_s"],
                                    "unit": "msg/s"}
        out["batch_p50_s"] = {"value": email["batch_p50_s"], "unit": "s"}
        out["store_bytes_per_input_byte"] = {
            "value": email["store_bytes_per_input_byte"], "unit": "ratio"}
    return out


def per_layer(run: Run, names: list[str]) -> tuple[dict, dict]:
    """Every per-layer metric named in BENCHMARK.json (0 where the
    workload leaves the layer idle), and the self-time table."""
    out = {n: 0.0 for n in names}
    out["session.get_spark_s"] = run.setup["get_spark_s"]
    out["queries.load_s"] = run.setup["load_s"]
    out["warmup_s"] = run.setup["warmup_s"]
    out["jvm.peak_rss_mb"] = run.info["peak_rss_mb"]["jvm"]
    per_pass: list[dict] = []
    for ops in run.traced:
        acc: dict[str, float] = {}
        for _, _, c, _ in ops:
            for k, v in c.items():
                acc[k] = acc.get(k, 0.0) + v
        per_pass.append(acc)

    def med(key: str) -> float:
        return _median(p.get(key, 0.0) for p in per_pass)

    for k in ("build_s", "build_jobs"):
        out[f"queries.{k}"] = med(k)
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = med(f"catalyst_{ph}_ms")
    for k in capture.EXEC_COUNTERS:
        out[f"exec.{k}"] = med(k)
    # Self time per layer, per traced pass. The root "bench" span's self
    # time is the part of an op no wrapped layer covers.
    tables, unattributed, worst = [], [], 0.0
    for ops in run.traced:
        table, dev, walls = _layer_self(run, [o for *_, o in ops])
        tables.append(table)
        unattributed.append(table.get("bench", 0.0) / walls if walls else 0.0)
        worst = max(worst, dev)
    layers = sorted({k for t in tables for k in t})
    self_table = {layer: _median(t.get(layer, 0.0) for t in tables)
                  for layer in layers}
    for layer, v in self_table.items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = v
    out["exec.action_s"] = _median(
        sum(s.dur for *_, o in ops for s in run.tracer.op_spans(o)
            if s.name == "collect") for ops in run.traced)
    out["exec.driver_s"] = self_table.get("exec.driver", 0.0)
    if run.workload == "graph_fixpoint":
        jobs = rounds = 0
        for ops in run.traced:
            for name, _, c, o in ops:
                if "cutoff0" in name:
                    jobs += c["jobs"]
                    rounds += sum(1 for s in run.tracer.op_spans(o)
                                  if s.layer == "materialize")
        out["graph.jobs_per_iter"] = jobs / rounds if rounds else 0.0
    for name, walls in run.op_walls.items():
        key = f"op.{name}_s"
        if key in out:
            out[key] = _median(walls)
    if run.workload == "email_ingest":
        for k in ("scan_s", "scan_splits", "parse_s", "parse_msgs_per_s",
                  "quarantined"):
            out[f"sources.{k}"] = med(f"probe_{k}")
        out["dedup_merge.merge_s"] = med("probe_merge_s")
        out["dedup_merge.rows_in_per_row_out"] = med("probe_rows_in_per_row_out")
        out["streaming.sink_call_s"] = _median(
            s.dur for s in run.tracer.spans
            if s.name == "DedupParquetSink.__call__")
        batch = [c for ops in run.traced for n, _, c, _ in ops
                 if n == "batch"]
        out["streaming.sink_jobs"] = _median(c["jobs"] for c in batch)
        out["streaming.sink_tasks"] = _median(c["tasks"] for c in batch)
        out["streaming.lookup_s"] = med("lookup_s")
        email = run.info["email"]
        for k in ("store_files", "store_bytes", "store_versions",
                  "bytes_written_per_batch"):
            out[f"streaming.{k}"] = email[k]
        out["ingest.batch_p50_s"] = email["batch_p50_s"]
        out["ingest.msgs_per_s"] = email["ingest_msgs_per_s"]
        out["ingest.store_bytes_per_input_byte"] = \
            email["store_bytes_per_input_byte"]
    base = _median(run.pass_walls)
    out["trace.overhead_frac"] = (_median(run.traced_walls) / base - 1.0
                                  if base else 0.0)
    out["trace.parts_max_dev"] = worst
    out["trace.unattributed_frac"] = _median(unattributed)
    return out, self_table


def write_trace(run: Run, path: str, self_table: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"workload": run.workload, "seed": run.seed,
                   "self_s_per_pass": self_table,
                   "spans": [s.__dict__ for s in run.tracer.spans]}, f)


def execute(run: Run) -> tuple[float, float]:
    """Run the workload, stop Spark and the JVM; return the peak RSS of
    the driver and the JVM in MB."""
    try:
        WORKLOADS[run.workload](run)
    finally:
        with run.phase("shutdown"):
            _shutdown_jvm()
    return _peak_rss_mb()
