"""``tool_calls``: the interactive path — a seeded, closed-loop sequence of
`ToolRegistry.execute` and `ChatHandler.handle` calls from one client.

The sequence is cut into rounds. A round is one user session: a fresh
`ToolRegistry` (so its TTL cache starts empty), one identifier, and
``DISTINCT_PER_ROUND`` distinct calls plus ``REPEATS_PER_ROUND`` repeats of
earlier calls of the same round, which the TTL cache must serve. These
properties do not depend on how fast the program runs: a round issues at
most 16 calls per identifier (the rate limit is 40 per 60 s), a round lasts
seconds (the TTL is 300 s), and whole rounds run until the time is up.

Every output is checked after its timer stops: the call must succeed; a
tool backed by a registered query must return rows drawn from that query's
DuckDB oracle, as many as asked; the SQL tools' rows must equal DuckDB's on
the same parquet; a repeat must equal the first answer and be a cache hit.
"""

from __future__ import annotations

import decimal
import math

import numpy as np

from common import RunContext

DISTINCT_PER_ROUND = 12
REPEATS_PER_ROUND = 4
WARMUP_ROUNDS = 2  # the first rounds run slower while the JIT warms up
MIN_ROUNDS = 5
ROLE = "data_engineer"
TOOLS = (
    "query_knowledge_base",
    "smart_search",
    "generate_sql_query",
    "generate_sql",
    "read_chat_history",
    "get_task_stats",
    "analyze_data_quality",
    "explain_query",
)
# tool -> (registered query whose oracle bounds its rows, arg that caps rows)
_ORACLE_BACKED = {
    "query_knowledge_base": ("cosine_topk", "k"),
    "smart_search": ("search_pipeline", "max_results"),
    "read_chat_history": ("newest_n", "n"),
    "get_task_stats": ("status_counts", None),
    "analyze_data_quality": ("quality_metrics", None),
}
_GROUP_COLS = (
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_returnflag"),
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("documents", "lang"),
    ("part", "p_type"),
)
_EXPLAINED = ("tpch_q3", "status_counts", "newest_n", "cosine_topk")
_WORDS = ("join", "spark", "vector", "window", "merge", "stream")


def norm(v) -> str:
    """Cell normal form of scripts/driver_sim.py's oracle comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def normalized_rows(rows, columns: list[str]) -> list[tuple]:
    """Order-free normal form of Spark ``Row``s or DuckDB tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def duck_connection(sf_dir: str):
    import duckdb

    from ai_powered_data_pipeline_assistant_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class Call:
    def __init__(self, tool, args, chat=None, sql=None, repeat_of=None):
        self.tool = tool  # the tool the call must reach
        self.args = args
        self.chat = chat  # message for ChatHandler.handle, else None
        self.sql = sql  # SQL whose DuckDB answer the rows must equal
        self.repeat_of = repeat_of


def _sql_query(rng) -> str:
    kind = int(rng.integers(0, 3))
    if kind == 0:
        x = round(float(rng.uniform(1_000, 450_000)), 2)
        return (
            "SELECT o_orderpriority, count(*) AS cnt, max(o_totalprice) AS top "
            f"FROM orders WHERE o_totalprice > {x} GROUP BY o_orderpriority"
        )
    if kind == 1:
        q = int(rng.integers(2, 50))
        return (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem "
            f"WHERE l_quantity < {q} GROUP BY l_returnflag, l_linestatus"
        )
    lo = int(rng.integers(0, 1_400))
    return (
        "SELECT event_type, count(*) AS cnt, count(DISTINCT user_id) AS users "
        f"FROM events WHERE user_id BETWEEN {lo} AND {lo + 100} GROUP BY event_type"
    )


def _generated_sql(rng) -> tuple[str, str]:
    table, col = _GROUP_COLS[int(rng.integers(0, len(_GROUP_COLS)))]
    request = f"count {table} by {col}"
    return request, f"SELECT {col}, count(*) AS cnt FROM {table} GROUP BY {col}"


def make_round(rng) -> list[Call]:
    """One session's call sequence: one call per tool, four chat messages
    (`ChatHandler` routes a message to a tool by intent),
    then ``REPEATS_PER_ROUND`` repeats placed after their originals."""
    request, gen_sql = _generated_sql(rng)
    sql = _sql_query(rng)
    word = _WORDS[int(rng.integers(0, len(_WORDS)))]
    # five light calls (~0.13 s) next to the four repeats put the median
    # inside the light-call cluster; at the gap between light and medium
    # calls it moved by 20% from seed to seed
    distinct = [
        Call("query_knowledge_base", {"k": int(rng.integers(3, 11))}),
        Call("smart_search", {"max_results": int(rng.integers(10, 101))}),
        Call("generate_sql_query", {"query": sql}, sql=sql),
        Call("generate_sql", {"request": request}, sql=gen_sql),
        Call("read_chat_history", {"n": int(rng.integers(10, 101))}),
        Call("get_task_stats", {}),
        Call("analyze_data_quality", {}),
        Call("explain_query", {
            "name": _EXPLAINED[int(rng.integers(0, len(_EXPLAINED)))],
            "mode": ("formatted", "simple")[int(rng.integers(0, 2))],
        }),
        Call("get_task_stats", None, chat=f"show {word} task stats"),
        Call("read_chat_history", None, chat="show my conversation history"),
        Call("analyze_data_quality", None, chat=f"is the {word} data complete"),
        Call("query_knowledge_base", None, chat=f"what is {word} tuning"),
    ]
    order = [int(i) for i in rng.permutation(DISTINCT_PER_ROUND)]
    calls = [distinct[i] for i in order]
    # each repeat lands at a random position after its original
    for _ in range(REPEATS_PER_ROUND):
        orig = distinct[int(rng.integers(0, DISTINCT_PER_ROUND))]
        pos = int(rng.integers(calls.index(orig) + 1, len(calls) + 1))
        calls.insert(pos, Call(orig.tool, orig.args, chat=orig.chat, sql=orig.sql,
                               repeat_of=orig))
    return calls


class ToolCalls:
    """Setup, timed rounds and output checks of the workload."""

    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.duck = duck_connection(ctx.sf_dir)
        self._oracle_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self._sql_rows: dict[str, list[tuple]] = {}
        self.rounds = 0  # timed and warm-up rounds issued
        self.hits = self.misses = self.refused = 0
        self.per_tool: dict[str, list[float]] = {t: [] for t in TOOLS}

    # ---- expected answers (outside the timers) ----
    def _oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._oracle_rows:
            from ai_powered_data_pipeline_assistant_spark.registry import all_oracles

            rel = self.duck.sql(all_oracles()[name])
            self._oracle_rows[name] = (rel.columns, rel.fetchall())
        return self._oracle_rows[name]

    def _duck_rows(self, sql: str) -> list[tuple]:
        if sql not in self._sql_rows:
            rel = self.duck.sql(sql)
            rows = normalized_rows(rel.fetchall(), rel.columns)
            if self.ctx.wrong_expected:
                rows = rows + [("wrong",)]
            self._sql_rows[sql] = rows
        return self._sql_rows[sql]

    def _check(self, call: Call, result, first_answer, hits_before, registry):
        """True, or the reason the output is wrong."""
        if not result.success or result.tool != call.tool:
            return f"{result.tool} failed: {result.error}"
        rows = result.data
        if call.repeat_of is not None:
            if rows != first_answer:
                return "repeat differs from the first answer"
            return registry.cache.stats.hits == hits_before + 1 or "repeat missed the cache"
        if call.sql is not None:
            cols = list(rows[0].keys()) if rows else []
            got = normalized_rows([tuple(r.values()) for r in rows], cols)
            return got == self._duck_rows(call.sql) or f"rows differ from DuckDB: {call.sql}"
        if call.tool in _ORACLE_BACKED:
            name, cap_arg = _ORACLE_BACKED[call.tool]
            cols, oracle = self._oracle(name)
            want = len(oracle)
            if cap_arg is not None and call.args is not None:
                want = min(want, call.args[cap_arg])
            elif cap_arg is not None:  # chat call: the tool's default cap
                want = min(want, 10 if call.tool == "query_knowledge_base" else 100)
            pool = normalized_rows(oracle, cols)
            got = normalized_rows([tuple(r[c] for c in cols) for r in rows], cols)
            remaining = list(pool)
            for row in got:
                if row not in remaining:
                    return f"row {row} not in the {name} oracle"
                remaining.remove(row)
            return len(got) == want or f"{len(got)} rows, expected {want}"
        if call.tool == "explain_query":
            text = "\n".join(r["line"] for r in rows)
            return "Physical Plan" in text or "no physical plan in the explain output"
        return f"no check for {call.tool}"

    # ---- calls ----
    def run_round(self, timed: bool) -> None:
        from ai_powered_data_pipeline_assistant_spark.api.tools import (
            ChatHandler,
            ToolRegistry,
        )

        registry = ToolRegistry(self.ctx.spark, self.ctx.sf_dir)
        chat = ChatHandler(registry)
        ident = f"user-{self.rounds}-{'t' if timed else 'w'}"
        answers: dict[int, object] = {}
        for i, call in enumerate(make_round(self.rng)):
            hits_before = registry.cache.stats.hits

            def invoke(call=call):
                if call.chat is not None:
                    return chat.handle(call.chat, role=ROLE, identifier=ident)
                return registry.execute(call.tool, call.args, role=ROLE, identifier=ident)

            def check(result, call=call, hits_before=hits_before):
                if timed and (result.error == "rate limit exceeded"
                              or (result.error or "").startswith("role ")):
                    self.refused += 1
                first = answers.get(id(call.repeat_of)) if call.repeat_of else None
                if call.repeat_of is None:
                    answers[id(call)] = result.data
                return self._check(call, result, first, hits_before, registry)

            if timed:
                self.ctx.timed(call.tool, invoke, check)
                self.per_tool[call.tool].append(self.ctx.ops[-1].seconds)
            else:
                verdict = check(invoke())
                self.ctx.checks[f"warm-up round {self.rounds} call {i} "
                                f"{call.tool}: {verdict}"] = verdict is True
        if timed:
            self.hits += registry.cache.stats.hits
            self.misses += registry.cache.stats.misses
        self.rounds += 1


def run(ctx: RunContext, units: int | None = None) -> dict[str, float]:
    """``WARMUP_ROUNDS`` rounds (billed to set-up), then timed rounds until
    ``ctx.seconds`` pass and at least ``MIN_ROUNDS`` ran, or exactly
    ``units`` rounds when given."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_tables

    wl = ToolCalls(ctx)
    load_tables(ctx.spark, ctx.sf_dir, register_views=True)
    for _ in range(WARMUP_ROUNDS):
        wl.run_round(timed=False)
    ctx.mark_setup_done()
    for _ in ctx.units(units, MIN_ROUNDS):
        wl.run_round(timed=True)
    calls = wl.hits + wl.misses
    return {
        "api.cache_hit_ratio": wl.hits / calls if calls else 0.0,
        "api.refused_ratio": wl.refused / max(1, len(ctx.ops)),
        **{
            f"tool.{t}.op_p50_s": float(np.median(v)) if v else 0.0
            for t, v in wl.per_tool.items()
        },
    }
