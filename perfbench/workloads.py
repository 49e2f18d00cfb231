"""The two workloads: a catalog mix and the daily store ingest.

Each is a closed loop with one client: the next operation starts when
the previous one has returned. A workload function gets a `Run` (session,
directories, seed, tracer) and returns its timed operations plus the
correctness verdicts of its untimed check.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# Relational, LLM, reference-ETL and streaming entries whose executor work
# is tiny at sf0.01: plan construction, py4j, job orchestration and the
# session memos decide their time. applyinpandas_group_rank adds the
# pandas-UDF (Python/Arrow) boundary.
CATALOG_SHORT = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "window_topk_per_group", "events_sessionization", "asof_join_last_click",
    "dedup_exact_hash", "stations_ingest_antijoin", "streaming_dedup_replay",
    "applyinpandas_group_rank",
]
CATALOG_SF = 0.01
# Untimed passes after the check pass: the JIT is still speeding the
# entries up over the first few passes.
WARM_PASSES = 1
# Timed passes: one per PASS_SECONDS of --seconds, at least MIN_PASSES.
# The count is fixed before the loop, so a run on a loaded machine does
# the same work as one on an idle machine.
PASS_SECONDS = 3
MIN_PASSES = 3
SMOKE_SF = 0.001


@dataclass
class Op:
    """One timed operation: a catalog entry invocation or a store/pipeline
    call of the daily job. Times are epoch seconds (event-log clock)."""

    name: str
    t0: float
    t1: float
    group: int  # pass (catalog) or day (daily_ingest)
    cpu: float = 0.0  # CPU seconds of the whole process tree
    jit_cpu: float = 0.0  # the part of `cpu` in the JVM's JIT compiler threads
    jobs: int = 0
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Outcome:
    ops: list  # timed Op records
    checks: dict  # check name -> problems ([] = passed)
    group_s: list  # wall seconds per pass / per day
    group_cpu_s: list  # CPU seconds per pass / per day
    stored_ratio: float
    notes: dict = field(default_factory=dict)


def job_count(spark) -> int:
    """Jobs submitted so far in this SparkContext (all threads)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def leaked_bytes(run) -> int:
    """Bytes in the run's temp and warehouse dirs: what the program wrote
    there and did not remove (temp stores, streaming checkpoints)."""
    return _dir_bytes(run.dirs["tmp"]) + _dir_bytes(run.dirs["warehouse"])


# ------------------------------------------------------------- memo guard

def reads_store_memo(fn, depth: int = 4, seen=None) -> bool:
    """True if `fn` (or a package function it names, transitively) calls
    one of the `_*_store_cached` fixture memos, whose second call is a
    cache hit rather than the work being timed."""
    seen = set() if seen is None else seen
    code = getattr(fn, "__code__", None)
    if code is None or code in seen or depth < 0:
        return False
    seen.add(code)
    names = set(code.co_names)
    stack = [c for c in code.co_consts if hasattr(c, "co_names")]
    while stack:
        c = stack.pop()
        names |= set(c.co_names)
        stack += [k for k in c.co_consts if hasattr(k, "co_names")]
    for n in names:
        if n.startswith("_") and n.endswith("_store_cached"):
            return True
        g = fn.__globals__.get(n)
        if callable(g) and getattr(g, "__module__", "").startswith("chchfr_data_collection_spark"):
            if reads_store_memo(g, depth - 1, seen):
                return True
    return False


# ---------------------------------------------------------------- catalog

def run_catalog(run, entries: list[str]) -> Outcome:
    from oracle_check import compare, duck_con

    from chchfr_data_collection_spark.queries import catalog

    cat = catalog()
    memo = [n for n in entries if reads_store_memo(cat[n].fn)]
    if memo:
        raise SystemExit(f"entries read a fixture-store memo: {memo}")
    spark, data = run.spark, run.data_dir

    # Untimed: per entry, one invocation checked against the DuckDB
    # oracle. This starts the warm-up that fills the JIT and the
    # per-session plan memos.
    checks: dict[str, list] = {}
    before = leaked_bytes(run)
    con = duck_con(data)
    t_warm = time.perf_counter()
    try:
        for name in entries:
            q = cat[name]
            try:
                got = q.fn(spark, data).toPandas()
                want = con.execute(q.sql).fetchdf()
                checks[name] = compare(name, got, want)
            except Exception as exc:  # one failing entry must not end the run
                checks[name] = [f"{type(exc).__name__}: {exc}"[:400]]
    finally:
        con.close()
    # what one pass over the entry list leaves on disk, fixture included
    stored_ratio = (run.data_bytes + leaked_bytes(run) - before) / run.data_bytes
    for _ in range(WARM_PASSES):
        for name in entries:
            invoke(run, cat[name].fn, name, -1)
    warm_s = time.perf_counter() - t_warm

    # Trace mode times the loop twice over the same pass orders: first
    # MIN_PASSES untraced, then the same passes traced, so the difference
    # is the tracing overhead.
    passes = MIN_PASSES if run.trace else max(MIN_PASSES, int(run.seconds // PASS_SECONDS))
    rng = random.Random(run.seed)
    orders = []
    for _ in range(passes):
        order = list(entries)
        rng.shuffle(order)
        orders.append(order)
    ops = _catalog_loop(run, cat, entries, orders)
    notes = {"warmup_s": warm_s, "passes": passes}
    if run.trace:
        notes["untraced_group_s"] = group_sums(ops, "seconds")
        run.start_trace()
        ops = _catalog_loop(run, cat, entries, orders)
        run.stop_trace()
    group_s, group_cpu = group_sums(ops, "seconds"), group_sums(ops, "cpu")
    # A catalog pass has no spike day: its "slowest day" is the upper
    # quartile pass, which a single slow pass does not decide.
    notes["day_max_s"] = statistics.quantiles(group_s, n=4)[2]
    notes["day_max_cpu_s"] = statistics.quantiles(group_cpu, n=4)[2]
    return Outcome(ops, checks, group_s, group_cpu, stored_ratio, notes)


def group_sums(ops: list, attr: str) -> list[float]:
    """Per pass (catalog) or day (daily), the sum of its operations' `attr`."""
    out: dict[int, float] = {}
    for o in ops:
        out[o.group] = out.get(o.group, 0.0) + getattr(o, attr)
    return [out[g] for g in sorted(out)]


def _catalog_loop(run, cat, entries, orders) -> list:
    """One pass over the entries per order in `orders`. A timed invocation
    must launch the same jobs on every pass, so none can be a memo hit
    (memo guard)."""
    ops: list[Op] = []
    for p, order in enumerate(orders):
        for name in order:
            ops.append(invoke(run, cat[name].fn, name, p))
    for name in entries:
        counts = {o.jobs for o in ops if o.name == name and o.ok}
        if len(counts) > 1:
            for o in ops:
                if o.name == name:
                    o.ok, o.error = False, f"job count differs across passes: {sorted(counts)}"
    return ops


def invoke(run, fn, name: str, group: int) -> Op:
    """One catalog entry: build its DataFrame, force it with a noop write."""
    spark = run.spark
    j0 = job_count(spark)
    c0, jit0 = run.cpu.read()
    t0 = time.time()
    try:
        with run.span("queries.build"):
            df = fn(spark, run.data_dir)
        with run.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        op = Op(name, t0, time.time(), group)
    except Exception as exc:
        op = Op(name, t0, time.time(), group, ok=False, error=f"{type(exc).__name__}: {exc}"[:400])
    c1, jit1 = run.cpu.read()
    op.cpu, op.jit_cpu = c1 - c0, jit1 - jit0
    op.jobs = job_count(spark) - j0
    return op


# ------------------------------------------------------------ daily ingest

# Every third day (2, 5) compacts all three stores. The store bootstraps
# and day 0 are the warm-up; days 1 and 2, an ordinary day and a
# compaction day, are timed, whatever --seconds says, so every run does
# the same work. A traced run then runs day 3 untimed and traces days 4
# and 5, the same shape.
DAILY = {"days": 6, "stations_per_day": 24, "docs": 1000, "vecs": 1000}
SMOKE_DAILY = {"days": 6, "stations_per_day": 4, "docs": 300, "vecs": 300}
COMPACT_EVERY = 3
WARM_DAYS = 1
TIMED_DAYS = 2
FIRST_DAY = dt.date(2024, 3, 1)


def land_daily(root: str, inputs: dict) -> list[dict]:
    """Write each day's station payloads and document / embedding deltas
    as files, the way a collector lands them. Returns per-day paths."""
    docs, vecs = inputs["docs"], inputs["vecs"]
    days = []
    for d, per_source in enumerate(inputs["stations"]):
        day_dir = os.path.join(root, f"day={d}")
        os.makedirs(day_dir, exist_ok=True)
        paths = {}
        for source, payload in per_source.items():
            os.makedirs(os.path.join(day_dir, source), exist_ok=True)
            paths[source] = os.path.join(day_dir, source, "payload.json")
            with open(paths[source], "w") as f:
                f.write(payload)
        lo, hi = inputs["doc_bounds"][d], inputs["doc_bounds"][d + 1]
        vlo, vhi = inputs["vec_bounds"][d], inputs["vec_bounds"][d + 1]
        pq.write_table(
            pa.Table.from_pandas(docs.iloc[lo:hi], preserve_index=False),
            os.path.join(day_dir, "documents.parquet"),
        )
        pq.write_table(vecs.slice(vlo, vhi - vlo), os.path.join(day_dir, "embeddings.parquet"))
        days.append({"dir": day_dir, "stations": paths})
    boot = os.path.join(root, "bootstrap")
    os.makedirs(boot, exist_ok=True)
    nb, vb = inputs["doc_bounds"][0], inputs["vec_bounds"][0]
    pq.write_table(
        pa.Table.from_pandas(docs.iloc[:nb], preserve_index=False),
        os.path.join(boot, "documents.parquet"),
    )
    pq.write_table(vecs.slice(0, vb), os.path.join(boot, "embeddings.parquet"))
    return days


class DailyJob:
    """The reference's daily collection job plus the LLM dedup stores,
    run against one set of store directories."""

    def __init__(self, run, store_root: str, landing: str, days: list) -> None:
        from chchfr_data_collection_spark.operators.component_store import ComponentStore
        from chchfr_data_collection_spark.operators.minhash_index import MinHashIndex
        from chchfr_data_collection_spark.schemas import GAS_STATION_SCHEMA
        from chchfr_data_collection_spark.streaming.embeddings import IvfAssignmentStore

        self.run, self.spark, self.days, self.landing = run, run.spark, days, landing
        self.paths = {
            k: os.path.join(store_root, k)
            for k in ("gas_station", "fuel_price", "mh", "cc", "ivf")
        }
        self.mh = MinHashIndex(self.spark, self.paths["mh"])
        self.cc = ComponentStore(self.spark, self.paths["cc"])
        self.ivf = IvfAssignmentStore(self.spark, self.paths["ivf"])
        self.station_schema = GAS_STATION_SCHEMA
        self.ops: list[Op] = []
        self.pairs: list[tuple] = []
        self.new_stations = 0

    def _op(self, name: str, day: int, fn, store: str | None = None):
        run = self.run
        j0 = job_count(self.spark)
        c0, jit0 = run.cpu.read()
        t0 = time.time()
        with run.span(f"op.{name}"):
            out = fn()
        op = Op(name, t0, time.time(), day)
        c1, jit1 = run.cpu.read()
        op.cpu, op.jit_cpu = c1 - c0, jit1 - jit0
        op.jobs = job_count(self.spark) - j0
        if store and run.trace:
            op.extra["written"] = _written_since(self.paths[store], t0)
        self.ops.append(op)
        return out

    def _read(self, day: int | None, name: str):
        d = os.path.join(self.landing, "bootstrap" if day is None else f"day={day}")
        return self.spark.read.parquet(os.path.join(d, f"{name}.parquet"))

    def bootstrap(self) -> None:
        from chchfr_data_collection_spark.streaming.embeddings import ivf_assign

        spark = self.spark
        spark.createDataFrame([], self.station_schema).write.mode("overwrite").parquet(
            self.paths["gas_station"]
        )
        # centroids: the first eight bootstrap vectors, fixed for the run
        boot_vecs = self._read(None, "embeddings")
        self.cent = self._centroids(boot_vecs)
        self._op("mh.bootstrap", -1, lambda: self.mh.bootstrap(self._read(None, "documents")), "mh")
        empty = spark.createDataFrame([], "da long, db long")
        self._op("cc.bootstrap", -1, lambda: self.cc.bootstrap(empty), "cc")
        self._op(
            "ivf.bootstrap", -1, lambda: self.ivf.bootstrap(ivf_assign(boot_vecs, self.cent)), "ivf"
        )

    def _centroids(self, vecs):
        from pyspark.sql import functions as F

        from chchfr_data_collection_spark.functions import vectors as V

        rows = vecs.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("cent_id"),
            V.quantize("embedding").alias("cv"),
            V.dot_exact("embedding", "embedding").alias("cn2"),
        ).collect()
        return self.spark.createDataFrame(rows).cache()

    def day(self, d: int) -> None:
        from chchfr_data_collection_spark import pipelines
        from chchfr_data_collection_spark.operators import upsert
        from chchfr_data_collection_spark.streaming.embeddings import ivf_assign

        spark, paths, run = self.spark, self.paths, self.run
        day = self.days[d]

        def collect():
            existing = spark.read.schema(self.station_schema).parquet(paths["gas_station"])
            new = pipelines.collect_stations(spark, day["stations"], existing)
            with run.span("pipelines.append_stations"):
                new.write.mode("append").parquet(paths["gas_station"])

        if run.tracer:
            before = spark.read.parquet(paths["gas_station"]).count()
        self._op("pipelines.collect_stations", d, collect, "gas_station")
        if run.tracer:
            self.new_stations += spark.read.parquet(paths["gas_station"]).count() - before

        def prices():
            stations = spark.read.schema(self.station_schema).parquet(paths["gas_station"])
            out = pipelines.generate_daily_prices(
                spark, stations, date=FIRST_DAY + dt.timedelta(days=d), seed=self.run.seed + d
            )
            upsert.overwrite_date_partition(out, paths["fuel_price"])

        self._op("pipelines.daily_prices", d, prices, "fuel_price")
        pairs = self._op(
            "mh.probe_and_insert", d,
            lambda: self.mh.probe_and_insert(self._read(d, "documents"), delta_id=f"day{d}"),
            "mh",
        )
        self._op("cc.apply_pairs", d, lambda: self.cc.apply_pairs(pairs, f"day{d}"), "cc")
        # untimed: keep the day's pairs for the end-of-run check
        self.pairs += [(r.da, r.db, r.jaccard) for r in pairs.collect()]
        self._op(
            "ivf.append_batch", d,
            lambda: self.ivf.append_batch(ivf_assign(self._read(d, "embeddings"), self.cent), d + 1),
            "ivf",
        )
        if compacts(d):
            self._op("mh.compact", d, self.mh.compact, "mh")
            self._op("cc.compact", d, self.cc.compact, "cc")
            self._op("ivf.compact", d, self.ivf.compact, "ivf")


def _written_since(path: str, t0: float) -> dict:
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            if st.st_mtime >= t0 - 0.001:
                n += 1
                b += st.st_size
    return {"files": n, "bytes": b}


def run_daily(run, cfg: dict) -> Outcome:
    inputs = datagen.daily_inputs(run.seed, **cfg)
    landing = os.path.join(run.tmp_root, "landing")
    days = land_daily(landing, inputs)
    job = DailyJob(run, os.path.join(run.tmp_root, "stores"), landing, days)

    # Untimed warm-up on the run's own fresh stores: the bootstraps and
    # day 0. The timed days continue on the same stores.
    t_warm = time.perf_counter()
    job.bootstrap()
    for d in range(WARM_DAYS):
        job.day(d)
    warm_s = time.perf_counter() - t_warm
    first = WARM_DAYS
    done = first + TIMED_DAYS
    for d in range(first, done):
        job.day(d)
    stored = sum(_dir_bytes(p) for p in job.paths.values())
    landed = _dir_bytes(os.path.join(landing, "bootstrap")) + sum(
        _dir_bytes(days[i]["dir"]) for i in range(done)
    )
    t_check = time.perf_counter()
    checks = check_daily(run, job, inputs, done)
    notes = {"warmup_s": warm_s, "days": TIMED_DAYS, "check_s": time.perf_counter() - t_check}
    if run.trace:
        # the next ordinary and compaction days, traced
        notes["untraced_group_s"] = group_sums([o for o in job.ops if o.group >= first], "seconds")
        job.day(done)
        first = done + 1
        run.start_trace()
        for d in range(first, first + TIMED_DAYS):
            job.day(d)
        run.stop_trace()
    notes["bootstrap_ops"] = [(o.name, o.seconds) for o in job.ops if o.group < 0]
    notes["store_ops"] = [o for o in job.ops if o.group < 0 or o.group >= first]
    notes["new_stations"] = job.new_stations
    ops = [o for o in job.ops if o.group >= first]
    # A day's time is the sum of its operations, so the untimed
    # bookkeeping between them is excluded. A pass is the timed days
    # together; the compaction day is the spike. The typical day is the
    # ordinary day; the typical operation is any day's pipeline or store
    # call, compactions aside, so each kind of call is sampled twice.
    group_s, group_cpu = group_sums(ops, "seconds"), group_sums(ops, "cpu")
    for key, per_day in (("s", group_s), ("cpu_s", group_cpu)):
        timed = list(enumerate(per_day, start=first))
        notes[f"pass_{key}"] = [sum(per_day)]
        notes[f"day_max_{key}"] = statistics.median(t for d, t in timed if compacts(d))
        notes[f"ordinary_day_{key}"] = [t for d, t in timed if not compacts(d)]
    notes["latency_ops"] = [o for o in ops if not o.name.endswith(".compact")]
    return Outcome(ops, checks, group_s, group_cpu, stored / landed, notes)


def compacts(day: int) -> bool:
    return day % COMPACT_EVERY == COMPACT_EVERY - 1


# --------------------------------------------------------- daily checks

def _payload_ids(path: str, source: str) -> set:
    import json

    with open(path) as f:
        doc = json.load(f)
    if source == "bp":
        return {r["id"] for r in doc}
    if source == "mobil":
        return {r["LocationID"] for r in doc["Locations"]}
    return {r["place_id"] for r in doc["results"]}


def _union_find(pairs) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_daily(run, job: DailyJob, inputs: dict, done: int) -> dict:
    """Independent recomputation of what the job must have stored."""
    import duckdb

    from chchfr_data_collection_spark.functions.prices import BASE_PRICES, JITTER_HIGH, JITTER_LOW
    from chchfr_data_collection_spark.queries.llm import _minhash_banded_duck

    spark, paths = run.spark, job.paths
    checks: dict[str, list] = {}

    # stations: exactly the ids the payloads carried, once each
    want_ids: list[set] = []
    acc: set = set()
    for d in range(done):
        for source, path in job.days[d]["stations"].items():
            acc |= _payload_ids(path, source)
        want_ids.append(set(acc))
    gs = spark.read.parquet(paths["gas_station"]).select("location_id").toPandas()
    p = []
    if set(gs.location_id) != want_ids[-1]:
        p.append(f"station ids: got {len(set(gs.location_id))} want {len(want_ids[-1])}")
    if gs.location_id.duplicated().any():
        p.append(f"{int(gs.location_id.duplicated().sum())} duplicate station ids")
    checks["daily.stations"] = p

    # prices: 4 rows per known station per date, inside the reference bounds
    fp = spark.read.parquet(paths["fuel_price"]).toPandas()
    base = dict(BASE_PRICES)
    p = []
    for d in range(done):
        day_rows = fp[pd.to_datetime(fp["date"]).dt.date == FIRST_DAY + dt.timedelta(days=d)]
        if len(day_rows) != 4 * len(want_ids[d]):
            p.append(f"day {d}: {len(day_rows)} price rows, want {4 * len(want_ids[d])}")
        if set(day_rows.location_id) != want_ids[d]:
            p.append(f"day {d}: priced station set differs")
        if day_rows.groupby("location_id").fuel_type.nunique().ne(4).any():
            p.append(f"day {d}: a station lacks a fuel type")
        price = day_rows.price.astype(float)
        lo = day_rows.fuel_type.map(base) + JITTER_LOW - 1e-9
        hi = day_rows.fuel_type.map(base) + JITTER_HIGH + 1e-9
        if ((price < lo) | (price > hi)).any():
            p.append(f"day {d}: {int(((price < lo) | (price > hi)).sum())} prices out of bounds")
    checks["daily.prices"] = p

    # near-dup pairs: banded MinHash over the whole landed corpus in
    # DuckDB, restricted to pairs touching a delta document
    n_landed = inputs["doc_bounds"][done]
    n_boot = inputs["doc_bounds"][0]
    corpus = inputs["docs"].iloc[:n_landed]
    con = duckdb.connect()
    try:
        con.register("documents_df", corpus)
        con.execute("CREATE VIEW documents AS SELECT * FROM documents_df")
        want = con.execute(
            f"SELECT da, db, jaccard FROM ({_minhash_banded_duck()}) t "
            f"WHERE da >= {n_boot} OR db >= {n_boot}"
        ).fetchall()
    finally:
        con.close()
    got = sorted(set(job.pairs))
    p = []
    if sorted(set(want)) != got:
        p.append(f"pairs: got {len(got)} want {len(set(want))}")
    if len(got) != len(job.pairs):
        p.append(f"{len(job.pairs) - len(got)} pairs reported twice")
    checks["daily.pairs"] = p

    # components: the store's labels group nodes exactly as union-find does
    uf = _union_find((a, b) for a, b, _ in got)
    lab = job.cc.labels().toPandas()
    got_groups = sorted(sorted(g.node) for _, g in lab.groupby("component"))
    want_groups: dict = {}
    for node, root in uf.items():
        want_groups.setdefault(root, []).append(node)
    p = []
    if got_groups != sorted(sorted(g) for g in want_groups.values()):
        p.append(f"components: got {len(got_groups)} groups want {len(want_groups)}")
    checks["daily.components"] = p

    # IVF: one assignment per landed embedding
    n_vecs = inputs["vec_bounds"][done]
    n = job.ivf.read().count()
    checks["daily.ivf_rows"] = [] if n == n_vecs else [f"ivf rows {n} want {n_vecs}"]
    return checks
