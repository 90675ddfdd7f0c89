"""The three workloads: inputs from the seed, warm-up, timed plan, checks.

Each workload runs in one process against one local SparkSession with
closed-loop clients. ``run(tracer)`` executes the timed plan once and
returns a ``Timed``: its wall time, per-operation latencies, the CPU time
of each round of the plan and its records; ``check()`` compares every
output against an independent reader of the same files (pyarrow and
DuckDB), outside the timed region.
"""

from __future__ import annotations

import contextlib
import ctypes
import decimal
import os
import random
import sys
import threading
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from chapterhouseqe_spark import ConnectionRegistry, QueryEngine, QueryService, QueryServiceClient
from perfbench.trace import CountingClient, TracedEngine, response_bytes

REF_SQL = "select * from read_files('huge_simple/*.parquet') where id % 2 = 0"
PAGE_ROWS = 1000
FIRST_PAGE_ROWS = 100
# untimed ref_paging pages before the timed plan: page CPU falls over
# the first pages of a session while the JIT compiles
WARM_PAGES = 16
# one query per dispatch tier, Python-worker path and scorer
PIPELINE_QUERIES = (
    "dedup_ngram_jaccard",  # n-gram pairing kernel or join
    "dedup_simhash",  # one narrow mapInPandas
    "graph_triangle_count",  # bitset kernel or distributed edge iterator
    "pagerank_supplier_graph",  # small-graph kernel or distributed loop
    "embedding_cosine_topk",  # exact fold scorer
    "multimodal_decode_features",  # Python decode UDF importing the package
)
# scale of the generated star schema: fixed costs already dominate at
# sf0.01, and a cold first run of every query must fit one run's set-up
SF = 0.01
SF_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclass
class Ctx:
    seed: int
    seconds: float
    run_dir: str
    spark: object
    trace: bool
    witness: object = None
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fail(self, what: str, detail: object) -> None:
        msg = f"{what}: {detail}"
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}"[:2000], file=sys.stderr)


@dataclass
class Timed:
    """One pass over the timed plan."""

    work_s: float  # wall time of the rounds, witness excluded
    lat: list[float]  # client latency per operation, s
    cpu: list[float]  # CPU seconds of each round of the plan
    witness: list[float]  # box witness samples taken between rounds, s
    records: list[dict] = field(default_factory=list)


def process_cpu_clock(pid: int) -> int:
    """Clock id of another process's CPU time (``clock_getcpuclockid``)."""
    clock = ctypes.c_int()
    err = ctypes.CDLL(None, use_errno=True).clock_getcpuclockid(pid, ctypes.byref(clock))
    if err:
        raise OSError(err, f"clock_getcpuclockid({pid})")
    return clock.value


class JvmWitness:
    """CPU seconds the Spark JVM spends on a fixed parallel sort of 1M
    ints: the speed of the box's cores as the JVM's threads find them."""

    N = 1_000_000

    def __init__(self, sc) -> None:
        self.jvm = sc._jvm
        self.master = self.jvm.java.util.Random(7).ints(self.N).toArray()
        self.clock = process_cpu_clock(int(self.jvm.ProcessHandle.current().pid()))
        # the first sorts run before the JIT has compiled the sort
        for _ in range(8):
            self()

    def __call__(self) -> float:
        arr = self.jvm.java.util.Arrays.copyOf(self.master, self.N)
        c0 = time.clock_gettime(self.clock)
        self.jvm.java.util.Arrays.parallelSort(arr)
        return time.clock_gettime(self.clock) - c0


class Rounds:
    """Times the rounds of a plan: wall and CPU of each round, and the
    box witness, sampled before each round outside its times."""

    def __init__(self, witness: JvmWitness, samples_per_round: int) -> None:
        self.sample = witness
        self.samples = samples_per_round
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.witness: list[float] = []

    @contextlib.contextmanager
    def round(self):
        self.witness += [self.sample() for _ in range(self.samples)]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall.append(time.perf_counter() - t0)
            self.cpu.append(tree_cpu_s() - c0)

    def timed(self, lat: list[float], records: list[dict]) -> Timed:
        return Timed(sum(self.wall), lat, self.cpu, self.witness, records)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the Spark JVM and Spark's Python workers. Time the hypervisor gives
    to other guests is not in it."""
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return total / os.sysconf("SC_CLK_TCK")


def _quiet(fn, *args, **kwargs):
    """Call a data generator with its progress prints sent to stderr."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args, **kwargs)


def gen_simple(ctx: Ctx, name: str, rows: int, per_file: int, seed: int) -> str:
    from tools.create_sample_data import simple_data

    out = ctx.path("data", name)
    _quiet(simple_data, out, rows, 8, per_file, seed=seed)
    return out


def gen_sf(ctx: Ctx, sf: float) -> str:
    from tools.gen_sf_data import generate

    out = ctx.path("data", "sf")
    _quiet(generate, out, sf, seed=ctx.seed)
    return out


def result_table(engine: QueryEngine, qid: str):
    """The stored result of a query, ordered by its row id."""
    table = pq.read_table(f"{engine.results_root}/{qid}")
    return table.sort_by("__row_id")


def result_files(engine: QueryEngine, qid: str) -> tuple[int, int]:
    d = f"{engine.results_root}/{qid}"
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(d, f)) for f in files)


def _json_cell(v):
    # the service's JSON encoding of a cell (service._json_default)
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _rows_as_served(table) -> list[dict]:
    return [{k: _json_cell(v) for k, v in row.items()} for row in table.to_pylist()]


def _norm(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("d", v.normalize())
    return v


def _multiset(rows) -> list[tuple]:
    return sorted((tuple(_norm(c) for c in r) for r in rows), key=repr)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Workload:
    name = ""
    # timed operations per second of --seconds, sized so the timed plan
    # takes about --seconds on a busy 4-vCPU VM at the parent commit
    ops_per_second = 1.0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.tracer = None

    @property
    def n_ops(self) -> int:
        return max(4, round(self.ctx.seconds * self.ops_per_second))

    def generate(self) -> None: ...

    def warm_up(self) -> None: ...

    def run(self, tracer) -> Timed:
        raise NotImplementedError

    def check(self) -> None: ...

    def close(self) -> None: ...

    def layer_inputs(self, records: list[dict]) -> dict:
        return {}


class _ServiceWorkload(Workload):
    def start_service(self, tracer) -> None:
        kwargs = {"results_root": self.ctx.path("results"),
                  "registry": ConnectionRegistry(default_base=self.ctx.path("data"))}
        if self.ctx.trace:
            self.engine = TracedEngine(self.ctx.spark, tracer, **kwargs)
        else:
            self.engine = QueryEngine(self.ctx.spark, **kwargs)
        self.service = QueryService(self.engine).__enter__()

    def close(self) -> None:
        if hasattr(self, "engine") and isinstance(self.engine, TracedEngine):
            self.engine.join_watchers()
        if hasattr(self, "service"):
            self.service.__exit__(None, None, None)


class RefPaging(_ServiceWorkload):
    """The reference's own benchmark: one query, then cursor pages."""

    name = "ref_paging"
    ops_per_second = 2.5

    def generate(self) -> None:
        self.input_dir = gen_simple(self.ctx, "huge_simple", 1_000_000, 10_000, self.ctx.seed)

    def warm_up(self) -> None:
        # the query is materialized once, in set-up; the timed plan pages it
        self.start_service(self.tracer)
        client = QueryServiceClient(self.service.address, timeout=60)
        self.qid = client.run_query(REF_SQL, mode="reference")
        st = client.wait_for_query_to_finish(self.qid, max_wait=100)
        if st["status"] != "complete":
            raise RuntimeError(f"reference query ended {st}")
        self.num_rows = st["num_rows"]
        rng = random.Random(self.ctx.seed)
        # untimed pages let the JIT settle on the fetch path
        for off, fwd, ovf in self._plan(rng, WARM_PAGES):
            client.get_query_data(self.qid, off, PAGE_ROWS, fwd, ovf)
        self.plan = self._plan(rng, self.n_ops)
        self.pages: list[dict] = []

    def _plan(self, rng: random.Random, count: int) -> list[tuple[int, bool, bool]]:
        n, lim = self.num_rows, PAGE_ROWS
        edges = [
            (0, True, False),  # first page
            (n - lim // 2, True, False),  # short last page
            (n - 1, False, False),  # last page, reverse
            (lim - 1, False, False),  # first page, reverse
            (lim // 3, False, True),  # reverse near 0, overflows forward
        ]
        n_forward = round(count * 2 / 3) - 2
        n_reverse = count - len(edges) - n_forward
        ops = list(edges)
        ops += [(rng.randrange(n), True, False) for _ in range(n_forward)]
        for i in range(n_reverse):
            overflow = i % 2 == 1
            off = rng.randrange(lim) if overflow else rng.randrange(n)
            ops.append((off, False, overflow))
        rng.shuffle(ops)
        return ops

    def run(self, tracer) -> Timed:
        client = QueryServiceClient(self.service.address, timeout=60)
        rounds = Rounds(self.ctx.witness, samples_per_round=1)
        lat: list[float] = []
        pages: list[dict] = []
        for i, (off, fwd, ovf) in enumerate(self.plan):
            self.ctx.attempted += 1
            with rounds.round(), tracer.span(
                "client.page", request=f"page-{i}", query_id=self.qid, offset=off, forward=fwd
            ) as sp:
                t0 = time.perf_counter()
                try:
                    rows, offsets = client.get_query_data(self.qid, off, PAGE_ROWS, fwd, ovf)
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    self.ctx.fail(f"page {i} ({off},{fwd},{ovf})", exc)
                    continue
                lat.append(time.perf_counter() - t0)
                if sp is not None:
                    sp.attrs.update(rows=len(rows), bytes=response_bytes(rows, offsets), allow_overflow=ovf)
            pages.append({"op": (off, fwd, ovf), "rows": rows, "offsets": offsets})
        self.pages += pages
        return rounds.timed(lat, pages)

    def check(self) -> None:
        src = os.path.join(self.input_dir, "*.parquet")
        expect = duckdb.sql(
            f"select id, value1, value2 from read_parquet('{src}') where id % 2 = 0 order by id"
        ).arrow()
        stored = result_table(self.engine, self.qid)
        n = stored.num_rows
        if self.num_rows != expect.num_rows or n != expect.num_rows:
            self.ctx.fail("ref_paging num_rows", f"status={self.num_rows} stored={n} oracle={expect.num_rows}")
            return
        if stored.column("__row_id").to_pylist() != list(range(n)):
            self.ctx.fail("ref_paging row ids", "stored __row_id is not 0..n-1")
        body = stored.drop_columns(["__row_id"])
        by_id = body.take(pc.sort_indices(body, [("id", "ascending")]))
        if not by_id.cast(expect.schema).equals(expect):
            self.ctx.fail("ref_paging result", "stored rows differ from the filtered input")
        for page in self.pages:
            off, fwd, ovf = page["op"]
            if fwd:
                lo, hi = off, min(off + PAGE_ROWS, n)
            else:
                lo, hi = max(0, off + 1 - PAGE_ROWS), min(off + 1, n)
                if ovf and hi - lo < PAGE_ROWS:
                    hi = min(lo + PAGE_ROWS, n)
            want = _rows_as_served(body.slice(lo, max(0, hi - lo)))
            if page["rows"] != want or page["offsets"] != list(range(lo, lo + len(want))):
                self.ctx.fail(f"page {page['op']}", f"got {len(page['rows'])} rows, want [{lo},{hi})")

    def layer_inputs(self, records: list[dict]) -> dict:
        files, size = result_files(self.engine, self.qid)
        return {"result_files": [files], "result_bytes": [size]}


# ------------------------------------------------------------------ sql_mix
# name: (mode, SQL). {t:table} is the table's source: read_files(...) for
# the engine, read_parquet(...) for the DuckDB oracle.
SQL_TEMPLATES = {
    "ref_huge_0.1pct": (
        "reference",
        "select * from {t:huge_simple} where id % 1000 = {r1000}",
    ),
    "ref_large_50pct": (
        "reference",
        "select id, value2 from {t:large_simple} where id % 2 = {r2}",
    ),
    "groupby_agg": (
        "spark",
        "select l_returnflag, l_linestatus, count(*) as n, "
        "sum(cast(l_quantity as decimal(18,2))) as qty, "
        "sum(cast(l_extendedprice as decimal(18,2))) as price "
        "from {t:lineitem} where l_shipdate <= timestamp '{day}' "
        "group by l_returnflag, l_linestatus",
    ),
    "join_agg": (
        "spark",
        "select c.c_mktsegment, count(*) as n, "
        "sum(cast(o.o_totalprice as decimal(18,2))) as total "
        "from {t:orders} o join {t:customer} c on o.o_custkey = c.c_custkey "
        "where o.o_orderdate >= timestamp '{day}' group by c.c_mktsegment",
    ),
    "orderby_limit": (
        "spark",
        "select o_orderkey, o_custkey, o_totalprice from {t:orders} "
        "where o_orderstatus = '{status}' "
        "order by o_totalprice desc, o_orderkey limit {k}",
    ),
    "having": (
        "spark",
        "select l_suppkey, count(*) as n from {t:lineitem} "
        "where l_discount < {disc} group by l_suppkey having count(*) > {min_n}",
    ),
}
# the two clients; each submits its three templates per cycle
CLIENT_TEMPLATES = (
    ("ref_huge_0.1pct", "groupby_agg", "orderby_limit"),
    ("ref_large_50pct", "join_agg", "having"),
)
SIMPLE_SOURCES = {"huge_simple": "huge_simple/*.parquet", "large_simple": "large_simple/*.parquet"}


def _params(rng: random.Random) -> dict:
    return {
        "r1000": rng.randrange(1000),
        "r2": rng.randrange(2),
        "day": f"{rng.randrange(1996, 2001)}-{rng.randrange(1, 13):02d}-01 00:00:00",
        "status": rng.choice("OFP"),
        "k": rng.randrange(10, 200),
        "disc": round(rng.uniform(0.02, 0.08), 2),
        "min_n": rng.randrange(5, 40),
    }


def render(template: str, params: dict, source) -> str:
    out = template
    for table in SF_TABLES + list(SIMPLE_SOURCES):
        out = out.replace("{t:" + table + "}", source(table))
    return out.format(**params)


class SqlMix(_ServiceWorkload):
    """Two closed-loop clients submitting seeded SQL through the service."""

    name = "sql_mix"
    ops_per_second = 1.2

    def generate(self) -> None:
        gen_simple(self.ctx, "huge_simple", 1_000_000, 10_000, self.ctx.seed)
        gen_simple(self.ctx, "large_simple", 10_000, 1_000, self.ctx.seed + 1)
        gen_sf(self.ctx, SF)

    def _spark_source(self, table: str) -> str:
        return f"read_files('{SIMPLE_SOURCES.get(table, f'sf/{table}.parquet')}')"

    def _duck_source(self, table: str) -> str:
        return f"read_parquet('{self.ctx.path('data', SIMPLE_SOURCES.get(table, f'sf/{table}.parquet'))}')"

    def _cycle(self, rng: random.Random) -> list[list[tuple]]:
        lists = []
        for names in CLIENT_TEMPLATES:
            names = list(names)
            rng.shuffle(names)
            stmts = []
            for name in names:
                mode, tpl = SQL_TEMPLATES[name]
                p = _params(rng)
                stmts.append((name, mode, render(tpl, p, self._spark_source), render(tpl, p, self._duck_source)))
            lists.append(stmts)
        return lists

    def warm_up(self) -> None:
        self.start_service(self.tracer)
        rng = random.Random(self.ctx.seed)
        self.statements: list[dict] = []
        # one untimed cycle runs every template once
        self._run_cycle(self._cycle(rng), self.tracer)
        # a round of the timed plan is one cycle: each client submits its
        # three templates once
        n_cycles = max(2, round(self.n_ops / 6))
        self.plan = [self._cycle(rng) for _ in range(n_cycles)]

    def _client(self, stmts, tracer, out: list) -> None:
        client = CountingClient(self.service.address, timeout=60)
        for name, mode, sql, duck in stmts:
            rec = {"template": name, "mode": mode, "sql": sql, "duck": duck}
            with tracer.span("client.statement", request=f"{name}-{len(out)}-{threading.get_ident()}") as sp:
                t0 = time.perf_counter()
                try:
                    qid = client.run_query(sql, mode=mode)
                    rec["qid"] = qid
                    st = client.wait_for_query_to_finish(qid, max_wait=100)
                    rec["complete_at"] = time.time()
                    rec["query_s"] = time.perf_counter() - t0
                    if st["status"] != "complete":
                        raise RuntimeError(f"{st}")
                    rec["num_rows"] = st["num_rows"]
                    with tracer.span("client.first_page", query_id=qid) as page_span:
                        rows, offsets = client.get_query_data(qid, 0, FIRST_PAGE_ROWS)
                        if page_span is not None:
                            page_span.attrs.update(
                                rows=len(rows), bytes=response_bytes(rows, offsets), offset=0, forward=True
                            )
                    rec["first_page_s"] = time.perf_counter() - t0
                    rec["rows"] = rows
                    rec["polls"] = client.polls[qid]
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    self.ctx.fail(f"sql_mix {name}: {sql}", exc)
                    rec["error"] = str(exc)
                if sp is not None:
                    sp.attrs.update({k: rec[k] for k in ("qid", "complete_at", "polls") if k in rec})
            out.append(rec)

    def _run_cycle(self, lists, tracer) -> list[dict]:
        outs = [[] for _ in lists]
        threads = [
            threading.Thread(target=self._client, args=(stmts, tracer, out))
            for stmts, out in zip(lists, outs)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        recs = [r for out in outs for r in out]
        self.statements += recs
        self.ctx.attempted += len(recs)
        return recs

    def run(self, tracer) -> Timed:
        rounds = Rounds(self.ctx.witness, samples_per_round=3)
        recs: list[dict] = []
        for lists in self.plan:
            with rounds.round():
                recs += self._run_cycle(lists, tracer)
        return rounds.timed([r["first_page_s"] for r in recs if "first_page_s" in r], recs)

    def check(self) -> None:
        for rec in self.statements:
            if "rows" not in rec:
                continue
            what = f"sql_mix {rec['template']}: {rec['sql']}"
            stored = result_table(self.engine, rec["qid"])
            body = stored.drop_columns(["__row_id"])
            if stored.num_rows != rec["num_rows"]:
                self.ctx.fail(what, f"num_rows {rec['num_rows']} != stored {stored.num_rows}")
                continue
            if rec["rows"] != _rows_as_served(body.slice(0, FIRST_PAGE_ROWS)):
                self.ctx.fail(what, "first page differs from the stored result")
                continue
            rel = duckdb.sql(rec["duck"])
            want = [tuple(r) for r in rel.fetchall()]
            got = [tuple(r.values()) for r in body.to_pylist()]
            if list(rel.columns) != body.column_names:
                self.ctx.fail(what, f"columns {body.column_names} != oracle {rel.columns}")
            elif "order by" in rec["sql"]:
                if [tuple(map(_norm, r)) for r in got] != [tuple(map(_norm, r)) for r in want]:
                    self.ctx.fail(what, "ordered result differs from DuckDB")
            elif _multiset(got) != _multiset(want):
                self.ctx.fail(what, f"result differs from DuckDB ({len(got)} vs {len(want)} rows)")

    def layer_inputs(self, records: list[dict]) -> dict:
        sizes = [result_files(self.engine, r["qid"]) for r in records if "num_rows" in r]
        return {
            "result_files": [f for f, _ in sizes],
            "result_bytes": [b for _, b in sizes],
            "statements": records,
        }


# ------------------------------------------------------------- pipeline_ops
class PipelineOps(Workload):
    """Registered pipeline queries built through ``get_queries()``."""

    name = "pipeline_ops"
    ops_per_second = 1.2

    def generate(self) -> None:
        self.sf_dir = gen_sf(self.ctx, SF)

    def warm_up(self) -> None:
        from chapterhouseqe_spark.queries.registry import get_oracles, get_queries

        self.queries = get_queries()
        self.oracles = get_oracles()
        rng = random.Random(self.ctx.seed)
        order = list(PIPELINE_QUERIES)
        rng.shuffle(order)
        # warm-up runs every query once, collecting its rows for the check
        self.collected: dict[str, list] = {}
        for name in order:
            self.ctx.attempted += 1
            try:
                df = self.queries[name](self.ctx.spark, self.sf_dir)
                self.collected[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                self.ctx.fail(f"pipeline_ops {name} (warm-up)", exc)
            self.ctx.spark.catalog.clearCache()
        # a round of the timed plan is one pass over the queries, in a
        # seeded order
        self.plan = []
        for _ in range(max(2, round(self.n_ops / len(order)))):
            rng.shuffle(order)
            self.plan.append(list(order))

    def run(self, tracer) -> Timed:
        spark = self.ctx.spark
        rounds = Rounds(self.ctx.witness, samples_per_round=3)
        lat: list[float] = []
        recs: list[dict] = []
        for order in self.plan:
            with rounds.round():
                for name in order:
                    self.ctx.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("queries.build", request=name, query=name):
                            df = self.queries[name](spark, self.sf_dir)
                        with tracer.span("queries.action", request=name, query=name):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # noqa: BLE001 — counted, run continues
                        self.ctx.fail(f"pipeline_ops {name}", exc)
                        continue
                    finally:
                        spark.catalog.clearCache()
                    lat.append(time.perf_counter() - t0)
                    recs.append({"query": name, "s": lat[-1]})
        return rounds.timed(lat, recs)

    def check(self) -> None:
        from tools.check_correctness import TABLES, frame_signature

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, (cols, rows) in self.collected.items():
            if name not in self.oracles:
                if not rows:
                    self.ctx.fail(f"pipeline_ops {name}", "no oracle and no rows")
                continue
            rel = con.sql(self.oracles[name])
            want = frame_signature(list(rel.columns), [tuple(r) for r in rel.fetchall()])
            if frame_signature(cols, rows) != want:
                self.ctx.fail(f"pipeline_ops {name}", f"{len(rows)} rows differ from its oracle")
        con.close()


WORKLOADS = {w.name: w for w in (RefPaging, SqlMix, PipelineOps)}
