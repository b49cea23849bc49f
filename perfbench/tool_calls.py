"""Workload ``tool_calls``: the chat/tool API at sf0.1.

A seeded sequence of ``ToolRegistry.execute`` calls over all twelve tools,
mixed with ``ChatHandler.handle`` messages. About one call in ten repeats
an earlier call's arguments, so it is served by the registry's TTL cache;
a few are refusals the API must produce (unsafe SQL, PII or profanity in
a chat message). Every other call must succeed with a correct result.

The tables are sf0.1, not smaller: at sf0.01 a call takes ~90 ms and host
scheduling jitter set the run-to-run spread (quartile distance over median
0.18-0.19 for throughput and p50, against 0.08-0.10 at sf0.1 in runs
interleaved on the same host); per-call planning and job scheduling still
dominate at sf0.1 (p50 ~130 ms).

Every tool gets one call per block, as do the chat intents. Latencies
fall in three groups: ~90-130 ms (scans, stats, history, scheduling, NL
to SQL), ~150-280 ms (free SQL, registered queries, quality) and
~350-600 ms (search, knowledge base, plans, listings); refusals and cache
hits take ~0 ms. With this mix the median call sits near the top of the
fastest group, so ``latency_p50_ms`` follows the per-call overhead of the
cheap calls while ``throughput_per_s`` reflects every call. A run
measures whole blocks (four at the usual run length, three on a slow
host), so each call contributes the same share whatever the seed.

Admission is set up so it never interferes: calls rotate over
``N_USERS`` identifiers (the rate limiter admits 40 calls per minute per
identifier), every call uses a role all tools permit, and the keys of a
run stay well under the cache's 1024 entries and 300 s TTL.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from common import Recorder, duck_connect, duck_rows, is_sub_multiset, norm_rows

ROLE = "data_engineer"
N_USERS = 64
MAX_ROWS = 500
REPEATS = 2  # per block: cache hits, about one call in ten
# Call latency falls over the first ~150 calls of a session while the JVM
# compiles. On a 4-core host the blocks of one session took ~15, 6.5,
# 5.4, 4.7 s and ~4.3 s from the fifth on. Three warm-up blocks leave
# the window on the flat part of that curve. The median of one or two
# measured blocks (21-42 calls) jumped between the call groups: its
# quartile spread over six seeds was 0.34 for one block after two warm-up
# blocks, 0.13 for the calls of blocks 4-8 and 0.11 for blocks 5-10.
WARMUP_BLOCKS = 3

# tool -> registered query whose DuckDB oracle the tool's rows must match
ORACLE_QUERY = {
    "query_data_source": "scan_project",
    "analyze_data_quality": "quality_metrics",
    "get_task_stats": "status_counts",
    "smart_search": "search_pipeline",
    "query_knowledge_base": "cosine_topk",
    "read_chat_history": "newest_n",
    "schedule_pipeline": "schedule_arithmetic",
}
RUN_QUERY_NAMES = (
    "tpch_q6", "grouped_stats", "filter_eq", "keyset_page", "point_lookup",
    "multikey_sort", "offset_page", "status_counts",
)
EXPLAIN_MODES = ("formatted", "simple")
LIST_PREFIXES = ("", "tpch", "ann", "crawl", "neardup", "bm25", "session")
NL_REQUESTS = {
    "count orders by o_orderstatus":
        "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus",
    "count lineitem by l_returnflag":
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "count events by event_type":
        "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
    "count customer by c_mktsegment":
        "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment",
    "top 5 orders by o_orderkey":
        "SELECT * FROM orders ORDER BY o_orderkey DESC LIMIT 5",
    "top 10 customer by c_custkey":
        "SELECT * FROM customer ORDER BY c_custkey DESC LIMIT 10",
    "show n_name, n_regionkey from nation":
        "SELECT n_name, n_regionkey FROM nation",
    "show r_name from region": "SELECT r_name FROM region",
}
SQL_TEMPLATES = (
    "SELECT o_orderstatus, count(*) AS n FROM orders WHERE o_custkey < {k} "
    "GROUP BY o_orderstatus",
    "SELECT event_type, count(DISTINCT user_id) AS users FROM events "
    "WHERE user_id < {k} GROUP BY event_type",
    "SELECT c_mktsegment, count(*) AS n FROM customer JOIN orders "
    "ON c_custkey = o_custkey WHERE o_orderkey < {k} GROUP BY c_mktsegment",
    "SELECT l_returnflag, max(l_quantity) AS mq, min(l_discount) AS md "
    "FROM lineitem WHERE l_orderkey < {k} GROUP BY l_returnflag",
    "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
    "WHERE o_custkey = {k}",
)
UNSAFE_SQL = (
    ("DELETE FROM orders WHERE o_orderkey = {k}", "only SELECT statements"),
    ("SELECT * FROM orders WHERE o_orderkey = {k}; DROP TABLE orders",
     "forbidden keyword"),
    ("SELECT reflect('java.lang.System', 'getenv', 'HOME{k}')", "forbidden keyword"),
    ("SELECT count(*) FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey "
     "JOIN nation c ON b.n_nationkey = c.n_nationkey JOIN nation d "
     "ON c.n_nationkey = d.n_nationkey JOIN nation e ON d.n_nationkey = e.n_nationkey "
     "JOIN nation f ON e.n_nationkey = f.n_nationkey JOIN nation g "
     "ON f.n_nationkey = g.n_nationkey WHERE a.n_nationkey < {k}", "too many joins"),
)
# chat message template -> the tool the intent router must pick
CHAT = (
    ("find documents about spark streams {k}", "smart_search"),
    ("how is the data quality of batch {k}", "analyze_data_quality"),
    ("show my conversation history page {k}", "read_chat_history"),
    ("what are the task stats for run {k}", "get_task_stats"),
    ("tell me about vectors and embeddings {k}", "query_knowledge_base"),
)
CHAT_REFUSED = (
    ("damn, why is run {k} so slow", "profanity"),
    ("mail the report to user{k}@example.com", "PII detected"),
    ("my ssn is 123-45-{k:04d}", "PII detected"),
)
# One fresh call per tool in a block; with one chat message per intent,
# two refusals and two repeats a block is 21 calls, 2 of them cache hits.
TOOLS = (
    "query_data_source", "analyze_data_quality", "get_task_stats",
    "smart_search", "query_knowledge_base", "read_chat_history",
    "generate_sql_query", "generate_sql", "schedule_pipeline", "run_query",
    "explain_query", "list_queries",
)


@dataclass(frozen=True)
class Call:
    kind: str  # "tool" or "chat"
    tool: str  # the tool that must answer (for chat: the routed tool)
    args: tuple  # sorted (key, value) pairs for tools; the message for chat
    refusal: str | None = None  # expected error text, for expected refusals

    @property
    def arg_dict(self) -> dict:
        return dict(self.args)


class _Cycle:
    """Seeded round-robin over a fixed set of choices: each block draws the
    same mix, in an order the seed sets."""

    def __init__(self, rng: random.Random, choices):
        self.rng = rng
        self.choices = list(choices)
        self.queue: list = []

    def next(self):
        if not self.queue:
            self.queue = list(self.choices)
            self.rng.shuffle(self.queue)
        return self.queue.pop()


def call_blocks(seed: int, key_lo: int, key_hi: int):
    """Endless blocks of calls, each with one call per tool in ``TOOLS`` +
    one chat message per intent + one unsafe-SQL and one
    refused chat message + ``REPEATS`` re-issues of earlier calls, shuffled.
    Fresh calls draw a ``ref`` argument (or the message number) from
    [key_lo, key_hi) and never repeat one, so warm-up and measured keys
    stay disjoint and the cache-hit share is exactly REPEATS per block."""
    rng = random.Random(seed)
    cycles = {
        "sql": _Cycle(rng, SQL_TEMPLATES),
        "request": _Cycle(rng, sorted(NL_REQUESTS)),
        "run": _Cycle(rng, RUN_QUERY_NAMES),
        "explain": _Cycle(rng, RUN_QUERY_NAMES),
        "mode": _Cycle(rng, EXPLAIN_MODES),
        "prefix": _Cycle(rng, LIST_PREFIXES),
        "unsafe": _Cycle(rng, UNSAFE_SQL),
        "refused": _Cycle(rng, CHAT_REFUSED),
    }
    seen: set = set()
    history: list[Call] = []

    def key() -> int:
        while True:
            k = rng.randrange(key_lo, key_hi)
            if k not in seen:
                seen.add(k)
                return k

    def tool_call(tool: str) -> Call:
        # ``ref`` makes the arguments (and so the cache key) new without
        # changing the work: the adapters ignore it, and every fresh call
        # fetches at most MAX_ROWS rows
        args: dict = {"max_rows": MAX_ROWS, "ref": key()}
        if tool == "generate_sql_query":
            args["query"] = cycles["sql"].next().format(k=rng.randrange(1, 1500))
        elif tool == "generate_sql":
            args["request"] = cycles["request"].next()
        elif tool == "run_query":
            args["name"] = cycles["run"].next()
        elif tool == "explain_query":
            args["name"] = cycles["explain"].next()
            args["mode"] = cycles["mode"].next()
        elif tool == "list_queries":
            args["prefix"] = cycles["prefix"].next()
        return Call("tool", tool, tuple(sorted(args.items())))

    while True:
        block = [tool_call(t) for t in TOOLS]
        block += [Call("chat", tool, msg.format(k=key()))
                  for msg, tool in CHAT]
        sql, err = cycles["unsafe"].next()
        block.append(Call("tool", "generate_sql_query",
                          (("query", sql.format(k=key())),), refusal=err))
        msg, err = cycles["refused"].next()
        block.append(Call("chat", "chat", msg.format(k=key() % 10000), refusal=err))
        rng.shuffle(block)
        for _ in range(REPEATS):
            pos = rng.randrange(1, len(block) + 1)
            pool = history + [c for c in block[:pos] if c.refusal is None]
            if not pool:
                pos, pool = len(block), [c for c in block if c.refusal is None]
            block.insert(pos, rng.choice(pool))
        history += [c for c in block if c.refusal is None]
        yield block


class ToolCalls:

    def __init__(self, spark, paths, seed: int):
        from ai_powered_data_pipeline_assistant_spark.api.tools import (
            ChatHandler,
            ToolRegistry,
        )
        from ai_powered_data_pipeline_assistant_spark.catalog import load_tables

        self.spark = spark
        self.sf_dir = paths.data
        load_tables(spark, self.sf_dir, register_views=True)
        self.registry = ToolRegistry(spark, self.sf_dir)
        self.chat = ChatHandler(self.registry)
        self.seed = seed
        self.results: list[tuple[Call, object]] = []
        self._n = 0

    def _issue(self, call: Call):
        ident = f"user{self._n % N_USERS}"
        self._n += 1
        if call.kind == "chat":
            return self.chat.handle(call.args, role=ROLE, identifier=ident)
        return self.registry.execute(call.tool, call.arg_dict, role=ROLE,
                                     identifier=ident)

    def warmup(self, rec: Recorder) -> None:
        # fixed work: the same calls every run, with keys (refs and
        # message numbers >= 100000) disjoint from the measured ones
        blocks = call_blocks(0, 100_000, 200_000)
        for _ in range(WARMUP_BLOCKS):
            for call in next(blocks):
                rec.run("call", self._issue, call)

    def measure(self, rec: Recorder, deadline) -> None:
        """Whole blocks until the deadline, so every run measures the same
        mix of calls."""
        stats = self.registry.cache.stats
        self._lookups0 = (stats.hits, stats.misses)
        for block in call_blocks(self.seed, 20, 20_000):
            for call in block:
                result = rec.run("call", self._issue, call)
                self.results.append((call, result))
            if deadline():
                break

    def extras(self) -> dict[str, float]:
        """Refused share of the measured calls, and the TTL cache's hits
        per lookup over them."""
        stats = self.registry.cache.stats
        hits = stats.hits - self._lookups0[0]
        lookups = hits + stats.misses - self._lookups0[1]
        return {
            "api.tools.refused": sum(1 for _c, r in self.results if not r.success)
            / max(1, len(self.results)),
            "functions.caching.hit_ratio": hits / max(1, lookups),
        }

    # ------------------------------------------------------------ checks
    def check(self, oracles: dict) -> list[str]:
        """Every result against its expectation; returns the failures and
        marks failed ops (parallel to ``self.results``)."""
        from ai_powered_data_pipeline_assistant_spark.registry import (
            all_oracles,
            all_queries,
        )

        ors = all_oracles()
        self._listing = [(n, n in ors, f.__module__.rsplit(".", 1)[-1])
                         for n, f in all_queries().items()]
        self._con = duck_connect(self.sf_dir)
        self._oracles = oracles
        self._expected: dict = {}
        self.failed_idx: list[int] = []
        errors: list[str] = []
        try:
            for i, (call, res) in enumerate(self.results):
                problem = self._check_one(call, res)
                if problem:
                    self.failed_idx.append(i)
                    errors.append(f"{call.tool} {call.args!r}: {problem}")
        finally:
            self._con.close()
        return errors

    def _expected_rows(self, call: Call, args: dict):
        """(sorted columns, normalised rows) the call's result must come
        from: the DuckDB oracle of the tool's registered query, or the
        statement itself run in DuckDB."""
        key = (call.tool, args.get("query"), args.get("request"), args.get("name"))
        if key not in self._expected:
            if call.tool in ORACLE_QUERY:
                self._expected[key] = self._oracles[ORACLE_QUERY[call.tool]]
            elif call.tool == "run_query":
                self._expected[key] = self._oracles[args["name"]]
            else:
                sql = args.get("query") or NL_REQUESTS[args["request"]]
                cols, data = duck_rows(self._con, sql)
                self._expected[key] = (sorted(cols), norm_rows(cols, data))
        return self._expected[key]

    def _check_one(self, call: Call, res) -> str | None:
        if call.refusal is not None:
            if res.success or call.refusal not in (res.error or ""):
                return f"expected refusal {call.refusal!r}, got {res.to_dict()!r}"
            return None
        if not res.success:
            return f"unexpected refusal: {res.error}"
        if call.kind == "chat" and res.tool != call.tool:
            return f"routed to {res.tool}, expected {call.tool}"
        rows = res.data
        args = {} if call.kind == "chat" else call.arg_dict
        max_rows = args.get("max_rows", 100)
        if call.tool == "explain_query":
            lines = [r["line"].strip() for r in rows]
            return None if "== Physical Plan ==" in lines else "no physical plan"
        if call.tool == "list_queries":
            want = [x for x in self._listing if x[0].startswith(args["prefix"])]
            got = [(r["name"], r["has_oracle"], r["module"]) for r in rows]
            if len(got) != min(max_rows, len(want)) or not is_sub_multiset(got, want):
                return "listing differs from the registry"
            return None
        want_cols, want_rows = self._expected_rows(call, args)
        got_cols = sorted(rows[0].keys()) if rows else want_cols
        if got_cols != want_cols:
            return f"columns {got_cols} != {want_cols}"
        got = norm_rows(got_cols, [tuple(r[c] for c in got_cols) for r in rows])
        if len(got) != min(max_rows, len(want_rows)):
            return f"{len(got)} rows, expected {min(max_rows, len(want_rows))}"
        if not is_sub_multiset(got, [tuple(r) for r in want_rows]):
            return "rows not in the oracle result"
        return None


ORACLE_NAMES = tuple(sorted(set(ORACLE_QUERY.values()) | set(RUN_QUERY_NAMES)))
