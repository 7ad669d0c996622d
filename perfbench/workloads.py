"""The benchmark's workloads: one client in a closed loop per process.

Every call into the engine goes through a public function of
``session``, ``sources.lake``, ``index``, ``operators.search`` or
``operators.textops``, wrapped in a span. Results are checked against
the DuckDB oracle after the timed loop (``oracle.py``).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import time

import pyarrow.parquet as pq
from pyspark import SparkContext

from multi_attribute_join_search_with_mapreduce_spark import index as ix
from multi_attribute_join_search_with_mapreduce_spark.operators import search, textops
from multi_attribute_join_search_with_mapreduce_spark.session import get_spark
from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

import gen
import oracle
from spans import Tracer, attribute, parse_event_log

SETUPS = 3  # set-ups per run; setup_s is their median
POOL = 48  # landing tables generated per run, more than a run uses
CORPORA = 20  # simjoin corpora generated per run, more than a run uses
WARMUP = (2, 4)  # untimed simjoin passes after the set-ups: at least, at most
FLAT = 0.05  # the warm-up ends once two passes in a row differ by less
MIN_KEY_FREQ = 2
READ_ATTRS = ["l_name", "l_tag"]


def land_spec(k: int) -> ix.TableSpec:
    return ix.TableSpec(f"land_{k}", 100 + k, "l_id", ("l_name", "l_tag", "l_note"))


class Run:
    """One benchmark process: its work directory, Spark session and spans."""

    def __init__(self, work: str, seed: int, scale: int, trace: bool) -> None:
        self.work, self.seed, self.scale, self.trace = work, seed, scale, trace
        self.tracer = Tracer()
        self.spark = None
        self.event_dir = os.path.join(work, "events")
        self.host: dict = {}
        self._attribution: tuple[dict, int] | None = None

    def start_session(self) -> None:
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"}
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file://{self.event_dir}",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(extra_conf=conf)
        if self.trace:
            self.tracer.bind(self.spark.sparkContext)

    def stop_session(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        self.host = {
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "spark_version": self.spark.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
        }
        self.tracer.bind(None)
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setups(self, build) -> list[float]:
        """Start a fresh session and run ``build(i)``, ``SETUPS`` times;
        return each set-up's seconds. The session of the last set-up
        stays up for the timed loop."""
        out = []
        for i in range(SETUPS):
            self.stop_session()
            with self.tracer.span("setup", op=-1 - i) as s:
                self.start_session()
                build(i)
            out.append(s["dur"])
        return out

    def attribution(self) -> tuple[dict[str, dict], int]:
        """Per-span Spark work from the event logs, and the count of jobs
        no span claims (``spans.attribute``). Call after the last session
        stopped, so every log is complete."""
        if self._attribution is None:
            logs = [
                parse_event_log(os.path.join(self.event_dir, f))
                for f in sorted(os.listdir(self.event_dir))
            ]
            self._attribution = attribute(self.tracer.spans, logs)
        return self._attribution

    def write_spans(self, path: str) -> None:
        """Spans as JSON lines, each with its attributed Spark work."""
        by_span = self.attribution()[0] if self.trace else {}
        with open(path, "w") as fh:
            for rec in sorted(self.tracer.spans, key=lambda r: r["start"]):
                fh.write(json.dumps({**rec, **by_span.get(rec["id"], {})}) + "\n")


def _timed_loop(seconds: float, op, first: int, pool: int) -> tuple[list[dict], float]:
    """Closed loop over inputs ``first``, ``first + 1``, ... below
    ``pool``: the next operation starts when the previous returns."""
    ops, k = [], first
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds and k < pool:
        ops.append(op(k))
        k += 1
    return ops, time.perf_counter() - t0


def _attempt(fn) -> tuple[object, str | None]:
    """Run one engine call; an exception is a failed operation, not a crash."""
    try:
        return fn(), None
    except Exception as exc:  # the benchmark must keep running and count it
        return None, f"{type(exc).__name__}: {exc}"[:500]


def _parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dirpath, n))
        for dirpath, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )


def _parquet_rows(path: str) -> int:
    """Rows in the parquet data files under ``path`` (footer metadata)."""
    return sum(
        pq.ParquetFile(os.path.join(dirpath, n)).metadata.num_rows
        for dirpath, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )


def _snapshot(store: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(store):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return out


def check(rec: dict, want: tuple[list[tuple], ...]) -> None:
    """Mark ``rec`` failed unless each of its results equals the oracle's
    rows (floats to 1e-9 relative, as the repo's differential tests)."""
    if not all(_same(w, g) for w, g in zip(want, rec["result"], strict=True)):
        rec["error"] = f"operation {rec['k']}: result differs from the oracle"


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# --- ingest ----------------------------------------------------------------

def ingest(run: Run, seconds: float) -> dict:
    """Land seeded tables into a floored store one at a time; each append
    is followed by one read-after-write search of the store."""
    tr, inputs = run.tracer, os.path.join(run.work, "in")
    lake, land = os.path.join(inputs, "lake"), os.path.join(inputs, "land")
    with tr.span("gen"):
        gen.write_lake(lake, run.seed, run.scale)
        for k in range(POOL):
            gen.write_landing(land, run.seed, k)
    stores = [os.path.join(run.work, f"store{i}") for i in range(SETUPS)]

    def land_and_read(store: str, k: int) -> dict:
        rec = {"k": k}
        before = _snapshot(store) if run.trace else None
        with tr.span("op", op=k) as op:
            with tr.span("index.append") as a:
                _, err = _attempt(lambda: ix.append_floored_index(
                    run.spark, land, store, (land_spec(k),)))
            rec["append"] = a
            if err is None:
                with tr.span("search") as r:
                    def read():
                        with tr.span("index.read"):
                            idx = ix.read_floored_index(run.spark, store)
                        with tr.span("lake.load"):
                            q = load_table(run.spark, f"q_{k}", land)
                        with tr.span("search.plan"):
                            tb, cb = search.multi_attribute_join_search(idx, q, READ_ATTRS)
                        with tr.span("search.exec"):
                            return (
                                sorted(tuple(x) for x in tb.collect()),
                                sorted(tuple(x) for x in cb.collect()),
                            )
                    rec["result"], err = _attempt(read)
                rec["read"] = r
        rec["op"], rec["error"] = op, err
        if run.trace and err is None:
            after = _snapshot(store)
            changed = [p for p, v in after.items() if before.get(p) != v]
            rec["residual_buckets_touched"] = len({
                p.split("/residual/", 1)[1].split("/", 1)[0]
                for p in changed if "/residual/kb=" in p
            })
            rec["store_files"] = sum(1 for p in after if p.endswith(".parquet"))
            with tr.span("count", op=k):
                idx = ix.read_floored_index(run.spark, store)
                st = search.search_stages(idx, load_table(run.spark, f"q_{k}", land), READ_ATTRS)
                rec["rows_probed"] = st.probed.count()
                rec["rows_matched"] = st.matched.count()
        return rec

    def build(i: int) -> None:
        with tr.span("index.build"):
            ix.write_floored_index(
                run.spark, lake, stores[i], ix.LAKE_TABLES, MIN_KEY_FREQ, hashed_keys=True
            )

    setups = run.setups(build)
    store = stores[-1]
    # One untimed warm-up operation. It is not part of setup_s: one per
    # set-up would cost two more operations per run than the benchmark's
    # time budget allows.
    warm = land_and_read(store, 0)
    ops, wall = _timed_loop(seconds, lambda k: land_and_read(store, k), 1, POOL)
    with tr.span("fsck"):
        fsck, fsck_err = _attempt(lambda: ix.fsck_floored_store(run.spark, store))
    run.stop_session()

    with tr.span("oracle"):
        return _check_ingest(run, warm, ops, setups, wall, fsck, fsck_err, lake, land, stores)


def _check_ingest(run, warm, ops, setups, wall, fsck, fsck_err, lake, land, stores) -> dict:
    """Oracle checks and the run's result, outside the timed region.

    The last set-up's store is checked by the warm-up and every timed
    operation (each searches it after its append) and by the final
    ``fsck_floored_store``; the other set-ups' stores are never appended
    to, so their index and residual halves must hold exactly the
    oracle's floored and sub-floor postings of the base lake."""
    views = {s.name: f"{lake}/{s.name}.parquet" for s in ix.LAKE_TABLES}
    errors = []
    floored = oracle.count_postings(views, ix.LAKE_TABLES, MIN_KEY_FREQ)
    unfloored = oracle.count_postings(views, ix.LAKE_TABLES)
    for i, built in enumerate(stores[:-1]):
        rows = _parquet_rows(f"{built}/index"), _parquet_rows(f"{built}/residual")
        if rows != (floored, unfloored - floored):
            errors.append(
                f"set-up {i}: store holds {rows} (index, residual) postings, "
                f"the oracle {(floored, unfloored - floored)}"
            )
    specs = list(ix.LAKE_TABLES)
    for rec in [warm, *ops]:
        k = rec["k"]
        views[f"land_{k}"] = f"{land}/land_{k}.parquet"
        views[f"q_{k}"] = f"{land}/q_{k}.parquet"
        # only a landing table whose append returned is in the store
        if "read" in rec:
            specs.append(land_spec(k))
        rec["postings"] = oracle.count_postings(views, (land_spec(k),))
        if rec["error"] is None:
            check(rec, oracle.search_expected(
                views, tuple(specs), MIN_KEY_FREQ, f"q_{k}", READ_ATTRS))
        if rec["error"] is not None:
            errors.append(rec["error"])
    store = stores[-1]
    clean = fsck_err is None and fsck["pending_commit"] is None and not any(
        fsck[c] for c in (
            "double_represented_keys", "subfloor_in_index",
            "overfloor_in_residual", "duplicate_postings",
        )
    )
    if not clean:
        errors.append(f"fsck_floored_store reports an unclean store: {fsck_err or fsck}")
    live = oracle.count_postings(views, tuple(specs))
    store_bytes = _parquet_bytes(f"{store}/index") + _parquet_bytes(f"{store}/residual")
    ok = [r for r in ops if r["error"] is None]
    return {
        "setups": setups,
        "ops": ops,
        "wall": wall,
        "latency": [r["append"]["dur"] if r["error"] is None else math.inf for r in ops],
        "errors": errors,
        "failed": sum(1 for r in ops if r["error"] is not None),
        "correct": not errors,
        "searches": len(ok),
        "extra": {
            "read_p50_s": _median([r["read"]["dur"] for r in ok]),
            "postings_per_s": sum(r["postings"] for r in ok)
            / max(sum(r["append"]["dur"] for r in ok), 1e-9),
            "store_bytes_per_posting": store_bytes / max(live, 1),
            "read_latencies_s": [r["read"]["dur"] for r in ok],
        },
        "layers": _ingest_layers(run, ops) if run.trace else {},
    }


def _ingest_layers(run: Run, ops: list[dict]) -> dict:
    by_span = run.attribution()[0]
    ok = [r for r in ops if r["error"] is None]
    out = _common_layers(run, ok)
    append = [by_span[r["append"]["id"]] for r in ok]
    out.update({
        "index.build_s": _median(
            [s["dur"] for s in run.tracer.spans if s["name"] == "index.build"]),
        "index.append_s": _median([r["append"]["dur"] for r in ok]),
        "index.postings_appended": _median([r["postings"] for r in ok]),
        "index.read_s": _span_median(run, "index.read", ok),
        "index.bytes_written": _median([a["bytes_written"] for a in append]),
        "index.write_amp": _median([
            a["bytes_written"] / os.path.getsize(f"{run.work}/in/land/land_{r['k']}.parquet")
            for r, a in zip(ok, append)
        ]),
        "index.residual_buckets_touched": _median([r["residual_buckets_touched"] for r in ok]),
        "index.store_files": _median([r["store_files"] for r in ok]),
        "index.jobs": _median([a["jobs"] for a in append]),
        "index.shuffle_write_bytes": _median([a["shuffle_write_bytes"] for a in append]),
        "index.executor_cpu_s": _median([a["cpu_s"] for a in append]),
        "lake.load_s": _span_median(run, "lake.load", ok),
        "search.plan_s": _span_median(run, "search.plan", ok),
        "search.exec_s": _span_median(run, "search.exec", ok),
    })
    exec_spans = [by_span[s["id"]] for s in _op_spans(run, "search.exec", ok)]
    read = [by_span[r["read"]["id"]] for r in ok]
    probed = sum(r["rows_probed"] for r in ok)
    out.update({
        "search.driver_gap_s": _median([s["driver_gap_s"] for s in exec_spans]),
        "search.jobs": _median([s["jobs"] for s in read]),
        "search.stages": _median([s["stages"] for s in read]),
        "search.tasks": _median([s["tasks"] for s in read]),
        "search.exchanges": _median([s["exchanges"] for s in read]),
        "search.executor_run_s": _median([s["run_s"] for s in read]),
        "search.executor_cpu_s": _median([s["cpu_s"] for s in read]),
        "search.shuffle_read_bytes": _median([s["shuffle_read_bytes"] for s in read]),
        "search.shuffle_write_bytes": _median([s["shuffle_write_bytes"] for s in read]),
        "search.spill_bytes": _median([s["spill_bytes"] for s in read]),
        "search.bytes_read": _median([s["bytes_read"] for s in read]),
        "search.rows_probed": _median([r["rows_probed"] for r in ok]),
        "search.rows_matched": _median([r["rows_matched"] for r in ok]),
        "search.match_yield": sum(r["rows_matched"] for r in ok) / max(probed, 1),
    })
    return out


# --- simjoin ---------------------------------------------------------------

def simjoin(run: Run, seconds: float) -> dict:
    """One pass = ``set_similarity_join`` then ``containment_join`` over a
    fresh seeded corpus (a new corpus per pass, so no pass reuses data
    an earlier one cached)."""
    tr = run.tracer
    corpora = [os.path.join(run.work, "in", f"docs_{k}") for k in range(CORPORA)]
    with tr.span("gen"):
        for k, d in enumerate(corpora):
            gen.write_corpus(d, run.seed, k, run.scale)

    def one_pass(k: int) -> dict:
        rec = {"k": k}
        with tr.span("op", op=k) as op:
            def both():
                with tr.span("textops.ssj") as a:
                    ssj = sorted(tuple(x) for x in textops.set_similarity_join(
                        run.spark, corpora[k]).collect())
                with tr.span("textops.containment") as b:
                    cj = sorted(tuple(x) for x in textops.containment_join(
                        run.spark, corpora[k]).collect())
                rec["ssj"], rec["cj"] = a, b
                return ssj, cj
            rec["result"], rec["error"] = _attempt(both)
        rec["op"] = op
        return rec

    # A set-up is a session start plus one pass over its own corpus, as
    # there is no state to build. Per-pass time keeps falling for several
    # passes after that (JIT compilation of the planner and of the
    # generated code), so untimed passes follow until it flattens.
    warm: list[dict] = []
    setups = run.setups(lambda i: warm.append(one_pass(i)))
    k = SETUPS
    while k < SETUPS + WARMUP[1]:
        warm.append(one_pass(k))
        k += 1
        last, prev = warm[-1]["op"]["dur"], warm[-2]["op"]["dur"]
        if k - SETUPS >= WARMUP[0] and abs(last - prev) < FLAT * last:
            break
    ops, wall = _timed_loop(seconds, one_pass, k, CORPORA)
    run.stop_session()

    errors = []
    with tr.span("oracle"):
        _check_simjoin(run, warm + ops, corpora, errors)
    out = {
        "setups": setups,
        "ops": ops,
        "wall": wall,
        "latency": [r["op"]["dur"] if r["error"] is None else math.inf for r in ops],
        "errors": errors,
        "failed": sum(1 for r in ops if r["error"] is not None),
        "correct": not errors,
        "searches": 0,
        "extra": {"warmup_s": [r["op"]["dur"] for r in warm[SETUPS:]]},
        "layers": {},
    }
    if run.trace:
        ok = [r for r in ops if r["error"] is None]
        # an operation is the two textops calls, so op.* is textops work
        layers = _common_layers(run, ok)
        layers.update({
            "textops.ssj_s": _median([r["ssj"]["dur"] for r in ok]),
            "textops.containment_s": _median([r["cj"]["dur"] for r in ok]),
            "textops.pairs_out": _median([r["pairs"] for r in ok]),
        })
        out["layers"] = layers
    return out


def _check_simjoin(run: Run, ops: list[dict], corpora: list[str], errors: list[str]) -> None:
    for rec in ops:
        if rec["error"] is None:
            want = oracle.simjoin_expected(
                f"{corpora[rec['k']]}/documents.parquet", run.scale, gen.DOCS_PER_REPLICA
            )
            rec["pairs"] = len(rec["result"][0]) + len(rec["result"][1])
            check(rec, want)
        if rec["error"] is not None:
            errors.append(rec["error"])


# --- shared ----------------------------------------------------------------

def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def _op_spans(run: Run, name: str, ok: list[dict]) -> list[dict]:
    ks = {r["k"] for r in ok}
    return [s for s in run.tracer.spans if s["name"] == name and s["op"] in ks]


def _span_median(run: Run, name: str, ok: list[dict]) -> float:
    return _median([s["dur"] for s in _op_spans(run, name, ok)])


def _common_layers(run: Run, ok: list[dict]) -> dict:
    """Per-layer metrics every workload has: session start, the Spark
    work charged to each timed operation, and lost jobs."""
    by_span, lost = run.attribution()
    ops = [by_span[r["op"]["id"]] for r in ok]
    out = {
        "session.start_s": _median(
            [s["dur"] for s in run.tracer.spans if s["name"] == "session.start"]),
        "trace.unattributed_jobs": lost,
    }
    for key, name in (
        ("jobs", "op.jobs"), ("stages", "op.stages"), ("tasks", "op.tasks"),
        ("exchanges", "op.exchanges"), ("driver_gap_s", "op.driver_gap_s"),
        ("run_s", "op.executor_run_s"), ("cpu_s", "op.executor_cpu_s"),
        ("shuffle_read_bytes", "op.shuffle_read_bytes"),
        ("shuffle_write_bytes", "op.shuffle_write_bytes"),
        ("spill_bytes", "op.spill_bytes"), ("bytes_read", "op.bytes_read"),
        ("bytes_written", "op.bytes_written"),
    ):
        out[name] = _median([o[key] for o in ops])
    return out


WORKLOADS = {"ingest": ingest, "simjoin": simjoin}
