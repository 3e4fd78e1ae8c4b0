"""The benchmark's workloads, their output checks and their layer probes.

Load shape, every workload: one process, Spark ``local[nproc]`` from
the engine's own ``session.get_spark``, one client thread, closed loop
(each epoch or request is sent only after the previous one returned).

- ``bootstrap_export``: ``FlightsEtlPipeline.bootstrap()`` of a seeded
  export into an empty index, repeated. The codec, routing and first
  write do the work; there is no prior index to merge against.
- ``cdc_tail``: sequential CDC epochs appended to ``sharded-stream``
  shard files and tailed with ``start_stream(source="sharded-stream")``
  (``availableNow``) into a bootstrapped index. The keyed merge, the
  bucket rewrite and the fixed cost per epoch do the work.
- ``search_mix``: seeded read requests against an index that has been
  through CDC epochs, so it has the file layout CDC writes leave.
  ``operators.search`` and the parquet scan do the work.

The base index (export, bootstrap, CDC churn) is built once per
checkout and generator version, independent of the seed, and copied
fresh into every run. Everything a run sends to the engine beyond that
base comes from the run's seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
import traceback
import zlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flights_gen import GEN_VERSION, ROUTES, FlightsWorkload
from tracing import TimedSink, Tracer, job_counts, progress_listener

from opensearch_dynamodb_etl_cdk_spark.operators.upsert import (
    apply_cdc_batch,
    latest_by_key,
)
from opensearch_dynamodb_etl_cdk_spark.sources.stream_source import (
    ShardedStreamReader,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    CDC_SCHEMA,
    FlightsEtlPipeline,
    PipelineConfig,
)

# The cached base is seed-independent, so a run with a new seed does
# not rebuild it.
BASE_SEED = 1

SIZES = {
    "full": {
        "boot_items": 10_000,   # export items per bootstrap iteration
        "base_items": 20_000,   # export behind the cached base index
        "epoch_events": 2_000,  # events per CDC epoch
        "churn_epochs": 3,      # CDC epochs applied to the search index
        "shards": 4,            # sharded-stream shard files
        "min_ops": 3,           # measured ops per loop, even past --seconds
    },
    "tiny": {
        "boot_items": 400, "base_items": 800, "epoch_events": 100,
        "churn_epochs": 1, "shards": 2, "min_ops": 1,
    },
}

SEARCH_KINDS = ("term_range", "terms_agg", "date_histogram", "count",
                "get_doc", "multi_index")


class Run:
    """State shared by one run: session, directories, sizes, tracer,
    and what the run measured and checked."""

    def __init__(self, spark, root: str, work: str, seed: int,
                 sizes: dict, tracer: Tracer):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.checks: list[tuple[str, bool, str]] = []
        self.layer: dict[str, float] = {}
        self.op_failures = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def pipeline(self, index_root: str, sink="index") -> FlightsEtlPipeline:
        return FlightsEtlPipeline(
            self.spark,
            PipelineConfig(index_root=index_root,
                           checkpoint_root=index_root + "_checkpoint"),
            sink=sink,
        )

    def loop(self, op, seconds: float, min_ops: int = 0) -> list[float]:
        """Closed loop: call ``op(i)`` until ``seconds`` have passed and
        at least ``min_ops`` (default: the size's) ops ran; returns each
        op's latency."""
        out: list[float] = []
        t_end = time.perf_counter() + seconds
        min_ops = max(min_ops, self.sizes["min_ops"])
        i = 0
        while time.perf_counter() < t_end or i < min_ops:
            i += 1
            try:
                out.append(op(i - 1))
            except Exception:
                traceback.print_exc()
                self.op_failures += 1
                if self.op_failures >= 3:
                    break
        return out


def _write_export(items: list[str], path: str) -> None:
    os.makedirs(path)
    n = max(1, len(items) // 4)
    for i in range(0, len(items), n):
        pq.write_table(pa.table({"item_json": items[i:i + n]}),
                       os.path.join(path, f"part-{i // n:03d}.parquet"))


def _copy(src: str, dst: str) -> None:
    """Replace ``dst`` (and its checkpoint) with a copy of ``src``."""
    for suffix in ("", "_checkpoint"):
        shutil.rmtree(dst + suffix, ignore_errors=True)
        if os.path.isdir(src + suffix):
            shutil.copytree(src + suffix, dst + suffix)


def _listing(index_root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every index data file."""
    out = {}
    for route in ROUTES:
        for dirpath, _, files in os.walk(os.path.join(index_root, route)):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, f))
                    out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _index_layer(run: Run, index_root: str, live_docs: int) -> None:
    with run.tracer.span("index.listing"):
        files = _listing(index_root)
    total = sum(s for s, _ in files.values())
    run.layer["index.files"] = len(files)
    run.layer["index.bytes"] = total
    run.layer["index.bytes_per_doc"] = total / max(1, live_docs)


# -- the cached base -------------------------------------------------------

def base_cache(run: Run) -> str:
    """Build (once) the bootstrapped base index and the CDC-churned
    index; return the cache directory."""
    s = run.sizes
    key = (f"g{GEN_VERSION}-s{BASE_SEED}-n{s['base_items']}"
           f"-e{s['epoch_events']}x{s['churn_epochs']}-k{s['shards']}")
    path = os.path.join(run.root, ".perfbench_work", "cache", key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    w = FlightsWorkload(BASE_SEED, s["base_items"])
    _write_export(w.export, os.path.join(tmp, "export"))
    boot = os.path.join(tmp, "boot")
    run.pipeline(boot).bootstrap(
        run.spark.read.parquet(os.path.join(tmp, "export")))
    churn = os.path.join(tmp, "churn")
    _copy(boot, churn)
    p = run.pipeline(churn)
    shards = os.path.join(tmp, "churn_shards")
    os.makedirs(shards)
    for _ in range(s["churn_epochs"]):
        _append_epoch(shards, w.epoch(s["epoch_events"]), s["shards"])
        q = p.start_stream(source="sharded-stream",
                           options={"shards_root": shards})
        q.awaitTermination()
        if q.exception() is not None:  # never cache a partial base
            raise RuntimeError(str(q.exception()))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(json.dumps({"live": w.live_counts(),
                            "build_s": time.perf_counter() - t0}))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _append_epoch(shards: str, events: list[dict], n_shards: int) -> int:
    """Append one epoch to the shard files, keyed by a stable hash of
    the key; returns the payload bytes written."""
    lines: list[list[str]] = [[] for _ in range(n_shards)]
    for e in events:
        k = zlib.crc32(f"{e['pk']}|{e['sk']}".encode()) % n_shards
        lines[k].append(json.dumps(e) + "\n")
    written = 0
    for k, chunk in enumerate(lines):
        data = "".join(chunk).encode()
        with open(os.path.join(shards, f"shard_{k}.jsonl"), "ab") as f:
            f.write(data)
        written += len(data)
    return written


def _median_reps(fn, reps: int = 3) -> tuple[float, float]:
    """Run a set-up step ``reps`` times; (median, total) seconds."""
    times = []
    for i in range(reps):
        t = time.perf_counter()
        fn(i)
        times.append(time.perf_counter() - t)
    return statistics.median(times), sum(times)


# -- bootstrap_export --------------------------------------------------------

class BootstrapExport:
    unit = "items"
    needs_base = False

    def setup(self, run: Run) -> tuple[float, float]:
        self.w = FlightsWorkload(run.seed, run.sizes["boot_items"])
        self.export = os.path.join(run.work, "export")
        self.ops: list[float] = []

        def prep(i):
            shutil.rmtree(self.export, ignore_errors=True)
            _write_export(self.w.export, self.export)
        return _median_reps(prep)

    def warm(self, run: Run) -> None:
        run.pipeline(os.path.join(run.work, "warm_index")).bootstrap(
            run.spark.read.parquet(self.export))

    def measure(self, run: Run, seconds: float) -> list[float]:
        tr = run.tracer
        sink = TimedSink(tr) if tr.enabled else "index"

        def op(i):
            self.index = os.path.join(run.work, f"index_{len(self.ops)}")
            p = run.pipeline(self.index, sink=sink)
            group = f"perfbench-bootstrap-{len(self.ops)}"
            if tr.enabled:
                run.spark.sparkContext.setJobGroup(group, group)
            t = time.perf_counter()
            with tr.span("pipeline.bootstrap", group=group):
                p.bootstrap(run.spark.read.parquet(self.export))
            lat = time.perf_counter() - t
            if tr.enabled:
                run.spark.sparkContext.setJobGroup("", "")
                self.jobs.append(job_counts(run.spark, group))
            self.ops.append(lat)
            # keep only the newest index: the check reads it
            if len(self.ops) > 1:
                shutil.rmtree(os.path.join(run.work, f"index_{len(self.ops) - 2}"),
                              ignore_errors=True)
            return lat

        self.jobs: list[tuple[int, int, int]] = []
        return run.loop(op, seconds)

    def e2e(self, lat: list[float]) -> tuple[float, float]:
        med = statistics.median(lat)
        return med, len(self.w.export) / med

    def check(self, run: Run) -> None:
        p = run.pipeline(self.index)
        tc = self.w.type_counts
        for route in ROUTES:
            n = p.index_view(route).count()
            run.check(f"bootstrap.{route}.count", n == tc[route],
                      f"{n} != {tc[route]}")
        m = {r["route"]: r for r in p.read_metrics().filter("epoch = -1").collect()}
        for route in ROUTES:
            got = m.get(route)
            run.check(f"bootstrap.{route}.rows_routed",
                      got is not None and got["rows_routed"] == tc[route]
                      and got["rows_dlq"] == 0 and got["rows_in"] == len(self.w.export),
                      str(got))
        unrouted = tc["assignment"] + tc["booking"]
        got = m.get("dropped")
        run.check("bootstrap.dropped", got is not None
                  and got["rows_routed"] == unrouted, str(got))

    def layers(self, run: Run) -> None:
        tr = run.tracer
        p = run.pipeline(os.path.join(run.work, "probe_index"))
        _operator_probes(
            run, p, lambda: p.transform_export(run.spark.read.parquet(self.export)),
            len(self.w.export))
        boot = tr.durations("pipeline.bootstrap")
        run.layer["pipeline.bootstrap_s"] = statistics.median(boot)
        run.layer["pipeline.rows_dlq"] = _rows_dlq(run.pipeline(self.index))
        _sink_layer(run, len(boot))
        _jobs_layer(run, self.jobs)
        _index_layer(run, self.index, sum(self.w.type_counts[r] for r in ROUTES))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(run: Run, name: str, fn) -> float:
    with run.tracer.span(name):
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t


def _operator_probes(run: Run, p: FlightsEtlPipeline, transform, n_items: int,
                     current=None) -> None:
    """Time the codec, routing and upsert operators alone, each on one
    static batch written to the noop sink. ``transform()`` builds the
    batch; ``current`` is the stored route index the merge reads."""
    codec = statistics.median(
        _timed(run, "codec.transform", lambda: _noop(transform()))
        for _ in range(2))
    run.layer["codec.transform_s"] = codec
    run.layer["codec.items_per_s"] = n_items / codec
    batch = transform().persist()
    batch.count()
    try:
        upserts = batch.filter(F.col("_action") != "delete")
        run.layer["routing.split_s"] = _timed(
            run, "routing.split",
            lambda: [_noop(df) for df in p.router.split(upserts).values()])
        fare = p.router.split(upserts)["fare"].unionByName(
            batch.filter(F.col("_action") == "delete"))
        if current is not None:
            touched = [r._bucket for r in
                       fare.select("_bucket").distinct().collect()]
            current = current.filter(F.col("_bucket").isin(touched))
        run.layer["upsert.latest_by_key_s"] = _timed(
            run, "upsert.latest_by_key", lambda: _noop(latest_by_key(fare)))
        run.layer["upsert.apply_cdc_batch_s"] = _timed(
            run, "upsert.apply_cdc_batch",
            lambda: _noop(apply_cdc_batch(current, fare)))
    finally:
        batch.unpersist()


def _rows_dlq(p: FlightsEtlPipeline) -> int:
    m = p.read_metrics()
    return 0 if m is None else int(m.agg({"rows_dlq": "sum"}).collect()[0][0] or 0)


def _sink_layer(run: Run, n_ops: int) -> None:
    tr = run.tracer
    calls = 0
    for route in ROUTES:
        d = tr.durations(f"sink.{route}.write_route")
        calls += len(d)
        run.layer[f"sink.{route}.write_route_s"] = sum(d) / max(1, n_ops)
    run.layer["sink.calls"] = calls / max(1, n_ops)


def _median0(xs) -> float:
    """Median, or 0 for a layer that recorded nothing."""
    return statistics.median(xs) if xs else 0.0


def _jobs_layer(run: Run, jobs: list[tuple[int, int, int]]) -> None:
    """Median Spark jobs, stages and tasks per epoch (or bootstrap)."""
    for i, name in enumerate(("jobs", "stages", "tasks")):
        run.layer[f"spark.{name}_per_epoch"] = _median0([j[i] for j in jobs])


# -- cdc_tail --------------------------------------------------------------

class CdcTail:
    unit = "events"
    needs_base = True

    def setup(self, run: Run) -> tuple[float, float]:
        cache = base_cache(run)
        self.w = FlightsWorkload(BASE_SEED, run.sizes["base_items"])
        self.w.rng = random.Random(run.seed)
        self.index = os.path.join(run.work, "index")
        self.shards = os.path.join(run.work, "shards")

        def prep(i):
            shutil.rmtree(self.shards, ignore_errors=True)
            _copy(os.path.join(cache, "boot"), self.index)
            os.makedirs(self.shards)
        return _median_reps(prep)

    def warm(self, run: Run) -> None:
        self.epochs: list[dict] = []
        self.p = run.pipeline(self.index)
        # a full-size epoch: JIT warm-up grows with the rows processed,
        # and the cold fixed cost is the same for any epoch size
        self._epoch(run, self.p, run.sizes["epoch_events"])

    def _epoch(self, run: Run, p, n_events: int) -> dict:
        """Append one epoch, tail it, and wait until its last event is
        searchable. Returns the epoch's record."""
        tr = run.tracer
        events = self.w.epoch(n_events)
        last = events[-1]
        before = _listing(self.index) if tr.enabled else None
        t_created = time.perf_counter()
        ep = {"events": len(events)}
        with tr.span("cdc.epoch", group=len(self.epochs)):
            ep["payload_bytes"] = _append_epoch(self.shards, events,
                                                run.sizes["shards"])
            t_start = time.perf_counter()
            with tr.span("streaming.start_stream"):
                q = p.start_stream(source="sharded-stream",
                                   options={"shards_root": self.shards})
            ep["query_start_s"] = time.perf_counter() - t_start
            with tr.span("streaming.await"):
                q.awaitTermination()
            ep["tail_s"] = time.perf_counter() - t_start
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            with tr.span("pipeline.get_doc"):
                doc = p.get_doc("fare", f"{last['pk']}|{last['sk']}")
            ep["freshness_s"] = time.perf_counter() - t_created
        ep["run_id"] = str(q.runId)
        ep["batch_ids"] = [pr["batchId"] for pr in q.recentProgress]
        ep["visible"] = doc is not None and doc["_seq"] == 2 * last["seq"]
        if tr.enabled:
            after = _listing(self.index)
            new = {f: v for f, v in after.items() if before.get(f) != v}
            ep["buckets_touched"] = len({os.path.dirname(f) for f in new})
            ep["bytes_rewritten"] = sum(v[0] for v in new.values())
            with tr.span("stream_source.latest_offset", group=len(self.epochs)):
                t = time.perf_counter()
                ShardedStreamReader({"shards_root": self.shards}).latestOffset()
                ep["latest_offset_s"] = time.perf_counter() - t
            ep["jobs"] = job_counts(run.spark, ep["run_id"])
            ep["events_list"] = events
        self.epochs.append(ep)
        return ep

    def measure(self, run: Run, seconds: float) -> list[float]:
        tr = run.tracer
        if tr.enabled:
            self.progress = progress_listener(run.spark)
            p = run.pipeline(self.index, sink=TimedSink(tr))
        else:
            p = self.p
        first = len(self.epochs)

        def op(i):
            ep = self._epoch(run, p, run.sizes["epoch_events"])
            if not ep["visible"]:
                run.op_failures += 1
            return ep["freshness_s"]

        lat = run.loop(op, seconds)
        self.measured = self.epochs[first:]
        return lat

    def e2e(self, lat: list[float]) -> tuple[float, float]:
        # per-epoch rates, so a first epoch still warming up does not set it
        return (statistics.median(lat), statistics.median(
            e["events"] / e["tail_s"] for e in self.measured))

    def check(self, run: Run) -> None:
        p = run.pipeline(self.index)
        m = p.read_metrics()
        rows = {(r["epoch"], r["route"]): r for r in m.collect()}
        for i, ep in enumerate(self.epochs):
            ok = len(ep["batch_ids"]) == 1
            for route in ROUTES:
                r = rows.get((ep["batch_ids"][0], route)) if ok else None
                ok = ok and r is not None and r["rows_in"] == ep["events"] \
                    and r["rows_dlq"] == 0
            run.check(f"cdc.epoch{i}.metrics", ok, str(ep["batch_ids"]))
        model = [(route, k, 2 * seq, ssr)
                 for k, (route, seq, ssr) in self.w.live.items()]
        path = os.path.join(run.work, "model")
        run.spark.createDataFrame(
            model, "route string, _id string, _seq long, ssr_raw string"
        ).write.parquet(path)
        want = run.spark.read.parquet(path)
        got = None
        for route in ROUTES:
            df = p.index_view(route).select(
                F.lit(route).alias("route"), "_id", "_seq", "ssr_raw")
            got = df if got is None else got.unionByName(df)
        cond = [want[c].eqNullSafe(got[c]) for c in want.columns]
        missing = want.join(got, cond, "left_anti").count()
        extra = got.join(want, cond, "left_anti").count()
        run.check("cdc.index_equals_model", missing == 0 and extra == 0,
                  f"missing={missing} extra={extra} model={len(model)}")

    def layers(self, run: Run) -> None:
        tr = run.tracer
        eps = [e for e in self.measured if "jobs" in e]
        med = _median0
        run.layer["stream_source.latest_offset_s"] = med(
            [e["latest_offset_s"] for e in eps])
        run.layer["streaming.query_start_s"] = med(
            [e["query_start_s"] for e in eps])
        # progress events arrive on the listener bus; wait for ours
        want = {e["run_id"] for e in eps}
        t_end = time.perf_counter() + 10
        while ({r[0] for r in self.progress} < want
               and time.perf_counter() < t_end):
            time.sleep(0.05)
        prog = {r[0]: r for r in self.progress if r[0] in want}
        prog = [prog[e["run_id"]] for e in eps if e["run_id"] in prog]
        for key, name in (("triggerExecution", "trigger_s"),
                          ("addBatch", "add_batch_s"),
                          ("queryPlanning", "query_planning_s"),
                          ("walCommit", "wal_commit_s")):
            run.layer[f"streaming.{name}"] = med(
                [r[2].get(key, 0) / 1000 for r in prog])
        run.layer["streaming.input_rows"] = med([r[3] for r in prog])
        # Progress events become spans under the epoch's await span, and
        # the epoch's sink spans move under its add_batch span, so that
        # add_batch's self time is the pipeline's own part of the batch.
        other = []
        for r in prog:
            group = next(i for i, e in enumerate(self.epochs)
                         if e["run_id"] == r[0])
            spans = [x for x in tr.spans if x["group"] == group]
            sinks = [x for x in spans if x["name"].startswith("sink.")]
            end = r[4]
            trigger, add = (r[2].get("triggerExecution", 0) / 1000,
                            r[2].get("addBatch", 0) / 1000)
            tr.add("streaming.trigger", end - trigger, end, group=group,
                   parent=next(x["id"] for x in spans
                               if x["name"] == "streaming.await"))
            tr.add("streaming.add_batch", end - add, end, group=group,
                   parent=len(tr.spans) - 1)
            for x in sinks:
                x["parent"] = len(tr.spans) - 1
            other.append(add - sum(x["end"] - x["start"] for x in sinks))
        run.layer["pipeline.epoch_other_s"] = med(other)
        run.layer["pipeline.rows_dlq"] = _rows_dlq(run.pipeline(self.index))
        _sink_layer(run, len(eps))
        _jobs_layer(run, [e["jobs"] for e in eps])
        run.layer["index.buckets_touched_per_epoch"] = med(
            [e["buckets_touched"] for e in eps])
        run.layer["index.bytes_rewritten_per_epoch"] = med(
            [e["bytes_rewritten"] for e in eps])
        run.layer["index.write_amp"] = med(
            [e["bytes_rewritten"] / e["payload_bytes"] for e in eps])
        _index_layer(run, self.index, len(self.w.live))
        # the operators alone, on the last epoch's events
        last = eps[-1]["events_list"]
        p = run.pipeline(self.index)
        cdc = run.spark.createDataFrame(
            [tuple(e[f.name] for f in CDC_SCHEMA.fields) for e in last],
            CDC_SCHEMA)
        _operator_probes(run, p, lambda: p.transform_cdc(cdc), len(last),
                         current=p.read_index("fare"))


# -- search_mix --------------------------------------------------------------

class SearchMix:
    unit = "requests"
    needs_base = True

    def setup(self, run: Run) -> tuple[float, float]:
        cache = base_cache(run)
        self.index = os.path.join(run.work, "index")

        def prep(i):
            _copy(os.path.join(cache, "churn"), self.index)
        t = _median_reps(prep)
        self.db = duckdb.connect()
        for route in ROUTES:
            self.db.execute(
                f"CREATE VIEW {route} AS SELECT * FROM read_parquet("
                f"'{self.index}/{route}/*/*.parquet', hive_partitioning=true)")
        self.ids = {r: [x[0] for x in self.db.execute(
            f"SELECT _id FROM {r} ORDER BY _id").fetchall()] for r in ROUTES}
        self.airports = sorted({x.split("|")[0] for x in self.ids["fare"]})
        self.rng = random.Random(run.seed)
        self.p = run.pipeline(self.index)
        self.results: list[tuple[dict, object]] = []
        return t

    def _request(self, i: int) -> dict:
        rng = self.rng
        kind = SEARCH_KINDS[i % len(SEARCH_KINDS)]
        airport = rng.choice(self.airports)
        if kind == "term_range":
            return {"kind": kind, "origin": airport,
                    "gte": f"2021-{rng.randrange(1, 13):02d}-01"}
        if kind == "terms_agg":
            return {"kind": kind, "route": rng.choice(ROUTES),
                    "field": rng.choice(["origin", "dest"])}
        if kind == "date_histogram":
            route = rng.choice(ROUTES)
            return {"kind": kind, "route": route,
                    "field": "start_ts" if route == "fare" else "depart_ts",
                    "interval": rng.choice(["month", "week"])}
        if kind == "count":
            return {"kind": kind, "dest": airport}
        if kind == "get_doc":
            route = rng.choice(ROUTES)
            return {"kind": kind, "route": route,
                    "id": rng.choice(self.ids[route])}
        return {"kind": kind, "origin": airport}

    def _run(self, run: Run, req: dict):
        """Send one request; return its comparable answer."""
        tr, p, kind = run.tracer, self.p, req["kind"]
        if kind in ("term_range", "multi_index"):
            if kind == "term_range":
                pattern, body = "fare", {
                    "query": {"bool": {"filter": [
                        {"term": {"origin": req["origin"]}},
                        {"range": {"start_ts": {"gte": req["gte"]}}}]}},
                    "sort": [{"start_ts": "desc"}, {"_id": "asc"}],
                    "size": 10}
            else:
                pattern, body = "fare,flight", {
                    "query": {"term": {"origin": req["origin"]}},
                    "sort": [{"_id": "asc"}], "size": 10}
            with tr.span("search.plan"):
                res = p.search(pattern, body)
            with tr.span("search.exec"):
                rows = res["hits"].select("_id").collect()
            return [r[0] for r in rows]
        if kind in ("terms_agg", "date_histogram"):
            if kind == "terms_agg":
                agg = {"terms": {"field": req["field"], "size": 100}}
            else:
                agg = {"date_histogram": {"field": req["field"],
                                          "calendar_interval": req["interval"]}}
            with tr.span("search.aggs"):
                res = p.search(req["route"], {"size": 0, "aggs": {"a": agg}})
            return sorted((str(b["key"]), b["doc_count"])
                          for b in res["aggregations"]["a"]["buckets"]
                          if b["doc_count"] > 0)
        if kind == "count":
            with tr.span("search.count"):
                return p.count("fare,flight",
                               {"query": {"term": {"dest": req["dest"]}}})
        with tr.span("search.get_doc"):
            doc = p.get_doc(req["route"], req["id"])
        return None if doc is None else (doc["_seq"], doc["ssr_raw"])

    def warm(self, run: Run) -> None:
        # four rounds: per-kind latency stops falling after about three
        for i in range(4 * len(SEARCH_KINDS)):
            self._run(run, self._request(i))

    def measure(self, run: Run, seconds: float) -> list[float]:
        tr = run.tracer
        self.jobs: list[tuple[int, int, int]] = []

        def op(i):
            req = self._request(i)
            group = f"perfbench-search-{len(self.results)}"
            if tr.enabled:
                run.spark.sparkContext.setJobGroup(group, group)
            t = time.perf_counter()
            with tr.span(f"search.{req['kind']}", group=group):
                ans = self._run(run, req)
            lat = time.perf_counter() - t
            if tr.enabled:
                run.spark.sparkContext.setJobGroup("", "")
                self.jobs.append(job_counts(run.spark, group))
            self.results.append((req, ans))
            return lat

        # at least one request of each kind
        return run.loop(op, seconds, min_ops=len(SEARCH_KINDS))

    def e2e(self, lat: list[float]) -> tuple[float, float]:
        return statistics.median(lat), len(lat) / sum(lat)

    def _oracle(self, req: dict):
        kind, db = req["kind"], self.db
        if kind == "term_range":
            return [r[0] for r in db.execute(
                "SELECT _id FROM fare WHERE origin = ? AND start_ts >= CAST(? AS TIMESTAMP) "
                "ORDER BY start_ts DESC, _id LIMIT 10",
                [req["origin"], req["gte"]]).fetchall()]
        if kind == "multi_index":
            return [r[0] for r in db.execute(
                "SELECT _id FROM (SELECT _id, origin FROM fare UNION ALL "
                "SELECT _id, origin FROM flight) WHERE origin = ? "
                "ORDER BY _id LIMIT 10", [req["origin"]]).fetchall()]
        if kind == "terms_agg":
            f = req["field"]
            return sorted(db.execute(
                f"SELECT {f}, count(*) FROM {req['route']} WHERE {f} IS NOT NULL "
                "GROUP BY 1").fetchall())
        if kind == "date_histogram":
            f = req["field"]
            return sorted(db.execute(
                f"SELECT strftime(date_trunc('{req['interval']}', {f}), "
                f"'%Y-%m-%d %H:%M:%S'), count(*) FROM {req['route']} "
                f"WHERE {f} IS NOT NULL GROUP BY 1").fetchall())
        if kind == "count":
            return db.execute(
                "SELECT count(*) FROM (SELECT dest FROM fare UNION ALL "
                "SELECT dest FROM flight) WHERE dest = ?",
                [req["dest"]]).fetchall()[0][0]
        row = db.execute(f"SELECT _seq, ssr_raw FROM {req['route']} WHERE _id = ?",
                         [req["id"]]).fetchall()
        return row[0] if row else None

    def check(self, run: Run) -> None:
        bad = [(req, ans, want) for req, ans in self.results
               if ans != (want := self._oracle(req))]
        run.check("search.matches_duckdb", not bad,
                  f"{len(bad)} of {len(self.results)}: {bad[:1]}")

    def layers(self, run: Run) -> None:
        tr = run.tracer
        med = _median0
        for kind in SEARCH_KINDS:
            run.layer[f"search.{kind}_p50_s"] = med(tr.durations(f"search.{kind}"))
        run.layer["search.plan_s"] = med(tr.durations("search.plan"))
        run.layer["search.exec_s"] = med(tr.durations("search.exec"))
        run.layer["search.jobs_per_request"] = med([j[0] for j in self.jobs])
        lat = sorted(sum((tr.durations(f"search.{k}") for k in SEARCH_KINDS), []))
        run.layer["search.p90_s"] = lat[min(len(lat) - 1, int(0.9 * len(lat)))]
        live = sum(len(v) for v in self.ids.values())
        _index_layer(run, self.index, live)


WORKLOADS = {
    "bootstrap_export": BootstrapExport,
    "cdc_tail": CdcTail,
    "search_mix": SearchMix,
}
