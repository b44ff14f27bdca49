"""The three benchmark workloads, each a closed loop with one client.

``tool_calls``    seeded mix of read-only ``tools/call`` requests through
                  ``server.serve`` (in-memory stdin/stdout).
``doc_writes``    docstore writes (session copy-on-write overlays) on
                  ``orders``, each followed by a read of the keys just
                  written; the overlays are reset every episode.
``operator_batch`` one pass over a fixed subset of the operator library,
                  each query built, written to the noop sink and its
                  checkpoints released.

A workload produces ``Op`` records while the clock runs and checks them
afterwards (``check``), against DuckDB over the same parquet or against
the client's own model of what it wrote.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import re
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from database_toolbox_spark import document_store, looker, server, session
from database_toolbox_spark.session import TABLES, table_path
from procfs import cpu_since, session_cpu_s


@dataclass
class Op:
    kind: str  # request class, docstore tool or query name
    group: str  # reporting group: request class or operator tier
    request: dict | None = None
    check: tuple = ()  # what check() compares the response against
    start: float = 0.0
    end: float = 0.0
    response: str | None = None  # raw JSON-RPC response line
    result: object = None  # operator_batch: pandas result of the query
    built: float = 0.0  # operator_batch: end of construction
    job_group: str | None = None
    ok: bool | None = None
    note: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Context:
    spark: object
    sf_dir: str
    seed: int
    tracer: object = None  # tracing.Tracer in a --trace 1 run
    counters: object = None  # tracing.SparkCounters, set while a unit is traced
    rows: dict = field(default_factory=dict)  # table -> row count

    def __post_init__(self) -> None:
        for t in TABLES:
            self.rows[t] = pq.ParquetFile(table_path(self.sf_dir, t)).metadata.num_rows

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled


@contextmanager
def untimed(workload):
    """Work a unit does inside the measured window but outside its timed
    operations (result collection, overlay reset): its CPU is added to
    ``workload.untimed_cpu_s``, which cpu_ms_per_call leaves out."""
    before = session_cpu_s(os.getsid(0))
    try:
        yield
    finally:
        workload.untimed_cpu_s += cpu_since(before, session_cpu_s(os.getsid(0)))


# --- value comparison ---------------------------------------------------------

_TS_RE = re.compile(r"^(\d{4}-\d{2}-\d{2})[T ](\d{2}:\d{2}:\d{2})(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$")


def _norm(v):
    """One spelling per value across Spark row-JSON and DuckDB rows:
    timestamps to millisecond ISO text (Spark's JSON precision), numbers to
    float, lists to tuples."""
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}"
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str):
        m = _TS_RE.match(v)
        if m:
            frac = (m.group(3) or ".")[1:4].ljust(3, "0")
            return f"{m.group(1)}T{m.group(2)}.{frac}"
        return v
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)) or hasattr(v, "as_integer_ratio"):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row: tuple):
    return tuple(
        (0, round(x, 4)) if isinstance(x, float) else (1, str(x)) for x in row
    )


def rows_equal(got: list[dict], want: list[dict], ordered: bool = False) -> str:
    """'' when equal, else a one-line reason. Rows compare as multisets
    (or as sequences when ``ordered``) over the union of their keys, so a
    null that row-JSON leaves out equals a None; floats by relative 1e-9,
    since the two engines sum doubles in different orders."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(set().union(*got, *want))
    g = [tuple(_norm(r.get(c)) for c in cols) for r in got]
    w = [tuple(_norm(r.get(c)) for c in cols) for r in want]
    if not ordered:
        g.sort(key=_sort_key)
        w.sort(key=_sort_key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"{cols}: {a} != {b}"
            elif x != y:
                return f"{cols}: {a} != {b}"
    return ""


def duck_rows(duck, sql: str) -> list[dict]:
    cur = duck.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def content_rows(resp: dict) -> list[dict]:
    return [json.loads(c["text"]) for c in resp["result"]["content"]]


# --- server-driven workloads -------------------------------------------------


class _Out:
    """``stdout`` for server.serve: stamps the current op on write."""

    def __init__(self, client: "ServerClient") -> None:
        self.client = client

    def write(self, text: str) -> int:
        self.client.on_response(text)
        return len(text)

    def flush(self) -> None:
        pass


class ServerClient:
    """One closed-loop client of ``server.serve``: the serve loop reads
    stdin from a generator that yields the next request only after the
    previous response was written, so requests never overlap."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.op: Op | None = None
        self._span = None
        self._rid = 0

    def _lines(self, ops):
        for op in ops:
            self._rid += 1
            op.request["id"] = self._rid
            line = json.dumps(op.request) + "\n"
            self.op = op
            if self.ctx.traced:
                self.ctx.tracer.request_id = self._rid
                self._span = self.ctx.tracer.begin("server")
            if self.ctx.counters is not None:
                op.job_group = self.ctx.counters.begin(op.kind)
            op.start = time.perf_counter()
            yield line

    def on_response(self, text: str) -> None:
        op = self.op
        op.end = time.perf_counter()
        op.response = text
        if self.ctx.traced:
            self.ctx.tracer.end(self._span)
        if self.ctx.counters is not None:
            self.ctx.counters.end()

    def run(self, ops) -> None:
        """Send every op of the iterable ``ops`` through server.serve."""
        server.serve(self.ctx.spark, stdin=self._lines(ops), stdout=_Out(self))


def tool_request(name: str, arguments: dict) -> dict:
    return {
        "jsonrpc": "2.0",
        "method": "tools/call",
        "params": {"name": name, "arguments": arguments},
    }


SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# Request classes of one tool_calls round and how many of each: 20 calls,
# 10% bulk and 10% gate-denied.
ROUND = {
    "list_tables": 2,
    "search_entries": 1,
    "sql_point": 3,
    "sql_star": 2,
    "explain": 1,
    "looker_query": 3,
    "run_look": 1,
    "query_collection": 2,
    "get_documents": 1,
    "bulk": 2,
    "denied": 2,
}
# (class, slot): a round's requests; the slot picks the statement shape
SLOTS = [(kind, i) for kind, n in ROUND.items() for i in range(n)]

POINT_SQL = (
    "SELECT * FROM orders WHERE o_orderkey = {o}",
    "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {c}",
    "SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem WHERE l_orderkey = {o}",
)
STAR_SQL = (
    "SELECT n.n_name AS nation, count(*) AS lines, "
    "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate >= DATE '{y}-01-01' "
    "AND o.o_orderdate < DATE '{y1}-01-01' GROUP BY n.n_name"
)
PART_SQL = (
    "SELECT p.p_type AS part_type, count(*) AS lines, "
    "avg(l.l_quantity) AS avg_qty FROM lineitem l "
    "JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE p.p_size BETWEEN {a} AND {b} AND l.l_returnflag = '{rf}' "
    "GROUP BY p.p_type"
)
# (statement template, the class the gate must name when denying it)
DENIED = (
    ("DELETE FROM orders WHERE o_orderkey = {k}", "Delete"),
    ("DROP TABLE {t}", "Drop"),
    ("INSERT INTO orders SELECT * FROM orders WHERE o_orderkey = {k}", "Insert"),
    ("UPDATE orders SET o_totalprice = 0 WHERE o_orderkey = {k}", "Update"),
    ("CREATE TABLE t{k} AS SELECT * FROM orders", "Create"),
    ("SET spark.sql.shuffle.partitions = {n}", "Command"),
    ("SELECT * FROM orders WHERE o_orderkey = {k}; DROP TABLE {t}", "Unknown"),
    ("TRUNCATE TABLE {t}", "TruncateTable"),
)
SEARCH_TERMS = ("key", "price", "date", "name", "order", "cust", "text", "*", "status", "id")


class ToolCalls:
    name = "tool_calls"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.client = ServerClient(ctx)
        self.passes: list[float] = []
        self.untimed_cpu_s = 0.0

    # request generation ----------------------------------------------------
    def _op(self, kind: str, rng: random.Random, slot: int = 0) -> Op:
        """One request of class ``kind``. ``slot`` (its place among the
        round's requests of that class) picks the statement shape, so every
        round has the same shapes; ``rng`` picks the literals."""
        n = self.ctx.rows
        key = lambda t: rng.randrange(n[t])  # noqa: E731
        if kind == "list_tables":
            tables = rng.sample(TABLES, 2) if slot % 2 else []
            return Op(kind, kind, tool_request("list_tables", {"table_names": ",".join(tables)}),
                      ("catalog", tuple(tables)))
        if kind == "search_entries":
            q, size = rng.choice(SEARCH_TERMS), rng.randint(5, 25)
            return Op(kind, kind, tool_request("search_entries", {"query": q, "page_size": size}),
                      ("search", q, size))
        if kind == "sql_point":
            sql = POINT_SQL[slot % len(POINT_SQL)].format(o=key("orders"), c=key("customer"))
            return Op(kind, kind, tool_request("execute_sql", {"sql": sql}), ("sql", sql))
        if kind == "sql_star":
            y = rng.randint(1995, 2000)
            sql = (STAR_SQL, PART_SQL)[slot % 2].format(
                seg=rng.choice(SEGMENTS), y=y, y1=y + 1, a=(a := rng.randint(1, 45)),
                b=a + 5, rf=rng.choice("ANR"))
            tool, arg = (("execute_sql", "sql"), ("run_snowflake_query", "statement"))[slot % 2]
            return Op(kind, kind, tool_request(tool, {arg: sql}), ("sql", sql))
        if kind == "explain":
            y = rng.randint(1995, 2000)
            sql = STAR_SQL.format(seg=rng.choice(SEGMENTS), y=y, y1=y + 1)
            return Op(kind, kind, tool_request("explain_query", {"sql": sql}), ("explain",))
        if kind == "looker_query":
            explore, fields, filters = (
                ("orders", ["nation", "order_count", "total_revenue"],
                 {"market_segment": rng.choice(SEGMENTS)}),
                ("orders", ["order_status", "order_count", "avg_revenue"],
                 {"order_priority": rng.choice(PRIORITIES)}),
                ("lineitem", ["line_status", "line_count", "revenue"],
                 {"return_flag": rng.choice("ANR")}),
            )[slot % 3]
            args = {"explore": explore, "fields": ",".join(fields), "filters": json.dumps(filters)}
            sql, binds = looker.compile_query_sql(explore, fields, filters)
            for p, v in binds.items():
                sql = sql.replace(f":{p}", "'" + str(v).replace("'", "''") + "'")
            return Op(kind, kind, tool_request("query", args), ("sql", sql))
        if kind == "run_look":
            look = rng.choice((1, 2))  # the two orders-explore looks
            return Op(kind, kind, tool_request("run_look", {"look_id": str(look)}),
                      ("sql", looker.look_oracle_sql(look)))
        if kind == "query_collection":
            nation, bal = rng.randrange(25), rng.randint(-999, 9000)
            filters = [{"field": "c_nationkey", "op": "==", "value": nation},
                       {"field": "c_acctbal", "op": ">", "value": bal}]
            args = {"collection": "customer", "filters": json.dumps(filters),
                    "order_by": "c_custkey", "limit": "20"}
            sql = (f"SELECT concat('customer/', c_custkey) AS doc_path, * FROM customer "
                   f"WHERE c_nationkey = {nation} AND c_acctbal > {bal} "
                   "ORDER BY c_custkey LIMIT 20")
            return Op(kind, kind, tool_request("query_collection", args), ("sql", sql, True))
        if kind == "get_documents":
            paths = [f"orders/{key('orders')}", f"customer/{key('customer')}",
                     f"part/{key('part')}", f"orders/{n['orders'] + rng.randrange(1000)}"]
            rng.shuffle(paths)
            return Op(kind, kind, tool_request("get_documents", {"document_paths": json.dumps(paths)}),
                      ("docs", tuple(paths)))
        if kind == "bulk":
            day = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(5 * 365))
            qty = rng.randint(1, 30)
            pred = f"l_shipdate >= DATE '{day}' AND l_quantity >= {qty}"
            sql = f"SELECT * FROM lineitem WHERE {pred}"
            return Op(kind, kind, tool_request("execute_sql", {"sql": sql}), ("bulk", pred))
        if kind == "denied":
            template, cls = rng.choice(DENIED)
            sql = template.format(k=key("orders"), t=rng.choice(TABLES), n=rng.randint(1, 64))
            return Op(kind, kind, tool_request("execute_sql", {"sql": sql}), ("denied", cls))
        raise ValueError(kind)

    def setup(self) -> None:
        """Warm every statement shape of a round once (codegen, schema
        caches) with literals the measured run does not use. The requests
        run concurrently through server.handle_request: the warm-up cost
        is first-use compilation, which parallelizes."""
        warm = random.Random(f"warmup-{self.ctx.seed}")
        requests = [self._op(k, warm, i).request for k, i in SLOTS]
        for i, req in enumerate(requests):
            req["id"] = -1 - i
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            replies = list(pool.map(lambda r: server.handle_request(self.ctx.spark, r), requests))
        for (kind, _), reply in zip(SLOTS, replies):
            if "error" in reply or reply["result"]["isError"] != (kind == "denied"):
                raise RuntimeError(f"warm-up {kind} request failed: {reply}")

    def unit(self, rng: random.Random) -> list[Op]:
        """One round: every request of SLOTS, in seeded order."""
        slots = list(SLOTS)
        rng.shuffle(slots)
        ops = [self._op(k, rng, i) for k, i in slots]
        self.client.run(ops)
        self.passes.append(ops[-1].end - ops[0].start)
        return ops

    def check(self, ops: list[Op], duck) -> None:
        catalog = expected_catalog(self.ctx.sf_dir)
        for op in ops:
            op.note = check_tool_op(op, duck, catalog)
            op.ok = not op.note


def expected_catalog(sf_dir: str) -> list[dict]:
    """list_tables rows for the fixture, from the parquet schemas."""
    types = {"int32": "int", "int64": "bigint", "double": "double", "float": "float",
             "string": "string", "list<element: float>": "array<float>",
             # parquet timestamps not adjusted to UTC read as TIMESTAMP_NTZ
             "timestamp[us]": "timestamp_ntz", "timestamp[us, tz=UTC]": "timestamp"}
    rows = []
    for t in sorted(TABLES):
        for pos, f in enumerate(pq.read_schema(table_path(sf_dir, t)), start=1):
            rows.append({"table_name": t, "column_name": f.name, "column_position": pos,
                         "data_type": types[str(f.type)], "is_nullable": "YES"})
    return rows


def check_tool_op(op: Op, duck, catalog: list[dict]) -> str:
    """'' when the response is right, else why not."""
    try:
        resp = json.loads(op.response)
    except (TypeError, ValueError):
        return "no JSON-RPC response"
    if resp.get("id") != op.request["id"] or "error" in resp:
        return f"protocol error {resp.get('error')}"
    kind = op.check[0]
    if kind == "denied":
        text = resp["result"]["content"][0]["text"]
        if not resp["result"]["isError"]:
            return "denied statement was allowed"
        return "" if f"'{op.check[1]}' is not permitted" in text else f"wrong verdict: {text}"
    if resp["result"]["isError"]:
        return "tool error: " + resp["result"]["content"][0]["text"][:200]
    got = content_rows(resp)
    if kind == "sql":
        return rows_equal(got, duck_rows(duck, op.check[1]), ordered=len(op.check) > 2)
    if kind == "catalog":
        want = [r for r in catalog if not op.check[1] or r["table_name"] in op.check[1]]
        return rows_equal([{k: r.get(k) for k in catalog[0]} for r in got], want, ordered=True)
    if kind == "search":
        q, size = op.check[1], op.check[2]
        want = [r for r in catalog if q == "*" or q in r["table_name"] or q in r["column_name"]]
        want = sorted(want, key=lambda r: (r["table_name"], r["column_position"]))[:size]
        return rows_equal([{k: r.get(k) for k in catalog[0]} for r in got], want, ordered=True)
    if kind == "explain":
        ok = len(got) == 1 and "Physical Plan" in got[0].get("plan", "")
        return "" if ok else "no physical plan"
    if kind == "docs":
        return check_documents(got, list(op.check[1]), duck)
    if kind == "bulk":
        pred = op.check[1]
        n_match = duck.execute(f"SELECT count(*) FROM lineitem WHERE {pred}").fetchone()[0]
        if n_match > 10_000:
            if len(got) != 10_001 or got[-1] != {"truncated": True, "max_rows": 10_000}:
                return f"{len(got)} rows where 10000 and the truncation marker were due"
            got = got[:-1]
        elif len(got) != n_match:
            return f"{len(got)} rows where {n_match} were due"
        keys = ", ".join(f"({r['l_orderkey']}, {r['l_linenumber']}, {r['l_partkey']})" for r in got)
        n_ok = duck.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey "
            f"FROM lineitem WHERE {pred}) s JOIN (SELECT DISTINCT * FROM (VALUES {keys}) v(a, b, c)) v "
            "ON s.l_orderkey = v.a AND s.l_linenumber = v.b AND s.l_partkey = v.c"
        ).fetchone()[0]
        distinct = len({(r["l_orderkey"], r["l_linenumber"], r["l_partkey"]) for r in got})
        return "" if n_ok == distinct else f"{distinct - n_ok} bulk rows outside the predicate"
    return f"unknown check {kind}"


def check_documents(got: list[dict], paths: list[str], duck, model: dict | None = None) -> str:
    """get_documents rows against DuckDB (or, for keys in ``model``, the
    client's model of what it wrote: a dict, or None once deleted)."""
    if [r["doc_path"] for r in got] != paths:
        return "doc paths out of request order"
    for r, path in zip(got, paths):
        coll, _, raw = path.partition("/")
        if model is not None and path in model:
            want = model[path]
        else:
            key = document_store.COLLECTION_IDS[coll][0]
            rows = duck_rows(duck, f"SELECT * FROM {coll} WHERE {key} = {int(raw)}")
            want = rows[0] if rows else None
        if bool(r["found"]) != (want is not None):
            return f"{path}: found={r['found']}"
        if want is not None:
            diff = rows_equal([json.loads(r["data"])], [want])
            if diff:
                return f"{path}: {diff}"
    return ""


class DocWrites:
    """Episodes of docstore writes on ``orders`` (update, add, delete),
    each followed by a read of the keys it touched. Every episode starts
    from ``load_tables(replace=True)``, which drops the overlays."""

    name = "doc_writes"
    WRITES = ("update_document", "update_document", "add_documents",
              "add_documents", "delete_documents", "delete_documents")

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.client = ServerClient(ctx)
        self.passes: list[float] = []
        self.untimed_cpu_s = 0.0

    def setup(self) -> None:
        self.ctx.spark.conf.set(document_store.WRITES_CONF, "session")
        self.unit(random.Random(f"warmup-{self.ctx.seed}"))
        self.passes.clear()
        self.untimed_cpu_s = 0.0

    def unit(self, rng: random.Random) -> list[Op]:
        """One episode; its pass time runs from the first request to the
        last response (the overlay reset before it is not counted)."""
        with untimed(self):
            session.load_tables(self.ctx.spark, self.ctx.sf_dir, replace=True)
        ops: list[Op] = []
        for op in self._episode_ops(rng):
            self.client.run([op])
            ops.append(op)
        self.passes.append(ops[-1].end - ops[0].start)
        return ops

    def _episode_ops(self, rng: random.Random):
        """Yields ops one at a time, each after the previous was sent: the
        keys a write targets depend on what earlier writes added or
        deleted. ``model`` maps each touched path to the client's view of
        it: ("base", fields) a fixture row with fields overwritten,
        ("doc", doc) a document the client added, None deleted."""
        model: dict[str, tuple | None] = {}
        n_orders = self.ctx.rows["orders"]
        next_key = n_orders
        base = lambda: f"orders/{rng.randrange(n_orders)}"  # noqa: E731
        writes = list(self.WRITES)
        rng.shuffle(writes)
        for i, tool in enumerate(writes):
            live = [p for p, d in model.items() if d is not None]
            pick = lambda: rng.choice(live) if live and rng.random() < 0.5 else base()  # noqa: E731
            if tool == "update_document":
                path = pick()
                fields = {"o_orderstatus": rng.choice("FOP"),
                          "o_totalprice": round(rng.uniform(1000, 500000), 2),
                          "o_orderpriority": rng.choice(PRIORITIES)}
                fields = dict(rng.sample(sorted(fields.items()), rng.randint(1, 3)))
                matched = 0 if path in model and model[path] is None else 1
                if path not in model:
                    model[path] = ("base", fields)
                elif model[path] is not None:
                    model[path] = (model[path][0], {**model[path][1], **fields})
                touched = [path]
                args = {"collection": "orders", "document_path": path,
                        "fields": json.dumps(fields)}
                check = ("update", matched)
            elif tool == "add_documents":
                docs = []
                for _ in range(rng.randint(1, 3)):
                    next_key += 1 + rng.randrange(1000)
                    docs.append({"o_orderkey": next_key,
                                 "o_custkey": rng.randrange(self.ctx.rows["customer"]),
                                 "o_orderstatus": rng.choice("FOP"),
                                 "o_totalprice": round(rng.uniform(1000, 500000), 2),
                                 "o_orderpriority": rng.choice(PRIORITIES)})
                touched = [f"orders/{d['o_orderkey']}" for d in docs]
                for p, d in zip(touched, docs):
                    model[p] = ("doc", {**d, "o_orderdate": None})
                args = {"collection": "orders", "documents": json.dumps(docs)}
                check = ("add", touched)
            else:
                touched = list(dict.fromkeys(pick() for _ in range(rng.randint(1, 2))))
                for p in touched:
                    model[p] = None
                args = {"collection": "orders", "document_paths": json.dumps(touched)}
                check = ("delete", touched)
            yield Op(tool, tool, tool_request(tool, args), check)
            # read back what was just written, plus one untouched-or-not key
            paths = touched + [base()]
            seen = {p: model[p] for p in paths if p in model}
            if i % 2 == 0:
                args = {"document_paths": json.dumps(paths)}
                yield Op("get_documents", "get_documents",
                         tool_request("get_documents", args), ("docs", paths, seen))
            else:
                keys = [int(p.split("/")[1]) for p in paths]
                filters = [{"field": "o_orderkey", "op": "in", "value": keys}]
                args = {"collection": "orders", "filters": json.dumps(filters),
                        "order_by": "o_orderkey"}
                yield Op("query_collection", "query_collection",
                         tool_request("query_collection", args), ("coll", paths, seen))

    def check(self, ops: list[Op], duck) -> None:
        for op in ops:
            op.note = self._check(op, duck)
            op.ok = not op.note

    def _check(self, op: Op, duck) -> str:
        try:
            resp = json.loads(op.response)
        except (TypeError, ValueError):
            return "no JSON-RPC response"
        if resp.get("id") != op.request["id"] or "error" in resp:
            return f"protocol error {resp.get('error')}"
        if resp["result"]["isError"]:
            return "tool error: " + resp["result"]["content"][0]["text"][:200]
        got = content_rows(resp)
        kind = op.check[0]
        if kind == "update":
            ok = len(got) == 1 and got[0]["n_matched"] == op.check[1]
            return "" if ok else f"update matched {got} rows, expected {op.check[1]}"
        if kind in ("add", "delete"):
            ok = sorted(r["doc_path"] for r in got) == sorted(op.check[1])
            return "" if ok else f"{kind} acknowledged other paths"
        model = {p: _resolve(p, d, duck) for p, d in op.check[2].items()}
        if kind == "docs":
            return check_documents(got, op.check[1], duck, model)
        want = []
        for p in sorted(set(op.check[1]), key=lambda p: int(p.split("/")[1])):
            doc = model[p] if p in model else _resolve(p, ("base", {}), duck)
            if doc is not None:
                want.append({"doc_path": p, **doc})
        return rows_equal(got, want, ordered=True)


def _resolve(path: str, entry: tuple | None, duck) -> dict | None:
    """A doc_writes model entry as the full document it stands for."""
    if entry is None:
        return None
    kind, fields = entry
    if kind == "doc":
        return fields
    rows = duck_rows(duck, f"SELECT * FROM orders WHERE o_orderkey = {int(path.split('/')[1])}")
    return {**rows[0], **fields} if rows else None


# --- operator batch ----------------------------------------------------------

# tier -> queries; one pass runs them in this order
TIERS = {
    "core_sql": ("pricing_summary", "regional_revenue", "nation_profit"),
    "event_time": ("hourly_event_windows",),
    "iterative": ("hits_hub_authority",),
    "codec": ("audio_spectrogram_profile",),
    "dedup": ("minhash_near_dup_pairs",),
    "similarity": ("cosine_topk",),
}


class OperatorBatch:
    name = "operator_batch"

    def __init__(self, ctx: Context) -> None:
        from database_toolbox_spark.operators import all_queries

        self.ctx = ctx
        self.queries = all_queries()
        self.passes: list[float] = []
        self.untimed_cpu_s = 0.0

    def setup(self) -> None:
        """Fork the Python workers (one shuffle into mapInPandas), a cost
        paid once per session; query plans stay cold, as in a batch job."""
        spark = self.ctx.spark

        def _noop_pandas(batches):
            yield from batches

        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.range(n * 4).repartition(n).mapInPandas(
            _noop_pandas, schema="id long"
        ).write.mode("overwrite").format("noop").save()

    def unit(self, rng: random.Random) -> list[Op]:
        """One pass. The first pass of a run keeps each result as pandas
        for the check, fetched after the timed sink write and before the
        release; later passes re-run the same plans unchecked."""
        spark, counters = self.ctx.spark, self.ctx.counters
        tracer = self.ctx.tracer if self.ctx.traced else None
        collect = not self.passes
        ops, wall = [], 0.0
        for tier, names in TIERS.items():
            for name in names:
                op = Op(name, tier)
                if counters is not None:
                    op.job_group = counters.begin(name)
                span = tracer.begin("operators.build") if tracer else None
                op.start = time.perf_counter()
                df = None
                try:
                    df = self.queries[name](spark, self.ctx.sf_dir)
                    op.built = time.perf_counter()
                    if tracer:
                        tracer.end(span)
                        span = tracer.begin("operators.exec")
                    df.write.mode("overwrite").format("noop").save()
                except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
                    op.note = f"{type(exc).__name__}: {exc}"[:300]
                    df = None
                finally:
                    op.end = time.perf_counter()
                    if tracer:
                        tracer.end(span)
                    if counters is not None:
                        counters.end()
                if collect and df is not None:
                    try:
                        with untimed(self):
                            op.result = df.toPandas()
                    except Exception as exc:  # noqa: BLE001 — counted like the above
                        op.note = f"{type(exc).__name__}: {exc}"[:300]
                t = time.perf_counter()
                session.release_materialized(spark)
                wall += op.seconds + time.perf_counter() - t
                ops.append(op)
        self.passes.append(wall)
        return ops

    def check(self, ops: list[Op], duck, oracles: dict[str, str], canon) -> None:
        """Each collected result against its DuckDB oracle, both
        canonicalized by ``canon`` (scripts/driver_check.py's ``_canon``)."""
        for op in ops:
            if op.note or op.result is None:
                # failed while running, or a later pass re-running a plan
                # the first pass checked
                op.ok = not op.note
                continue
            want = duck.sql(oracles[op.kind]).df()
            got = op.result
            if len(got) != len(want):
                op.note = f"rows {len(got)} != {len(want)}"
            elif sorted(got.columns) != sorted(want.columns):
                op.note = "columns differ"
            elif canon(got)[0] != canon(want)[0]:
                op.note = "value hash differs"
            op.ok = not op.note
            op.result = None


WORKLOADS = {w.name: w for w in (ToolCalls, DocWrites, OperatorBatch)}
