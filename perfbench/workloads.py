"""The workloads: their operations, inputs and correctness checks.

An operation is one closed-loop request: a config job run end to end
(``etl_jobs``) or one registry query executed into the ``noop`` sink
(``llm_corpus``). Every operation runs against a ``Corpus`` — a
directory of generated tables plus the sink and landing paths that
belong to it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

import datagen


@dataclass
class Corpus:
    data: str            # directory of <table>.parquet files
    work: str            # sinks, landing zone and checkpoints live here
    rows: dict[str, int]
    bytes: dict[str, int] = field(default_factory=dict)

    def __post_init__(self) -> None:
        for t in self.rows:
            p = f"{self.data}/{t}.parquet"
            if os.path.exists(p):
                self.bytes[t] = os.path.getsize(p)


class Env:
    """What an operation needs: the session, the package's public
    functions (bound after the registry import), the tracer, and the
    workload parameters the seed picked."""

    def __init__(self, spark, tracer, params: dict):
        import __spark_entry__ as entry
        from etl_framework_spark import cacheutil, pipeline

        self.spark = spark
        self.tracer = tracer
        self.params = params
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.oracle_results: dict = {}
        self.pipeline = pipeline
        self.cacheutil = cacheutil


# ---------------------------------------------------------------------------
# registry queries (llm_corpus)
class QueryOp:
    def __init__(self, key: str, tables: tuple[str, ...], rows_like: str | None = None):
        self.name = key
        self.tables = tables
        # keys without an oracle get a rows-only check against the row
        # count of the oracle of the key they must agree with
        self.rows_like = rows_like

    def source_rows(self, corpus: Corpus) -> int:
        return sum(corpus.rows[t] for t in self.tables)

    def source_bytes(self, corpus: Corpus) -> int:
        return sum(corpus.bytes[t] for t in self.tables)

    def run(self, env: Env, corpus: Corpus) -> None:
        with env.tracer.span("queries.build"):
            df = env.queries[self.name](env.spark, corpus.data)
        with env.tracer.span("queries.execute"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, env: Env, corpus: Corpus, duck) -> dict:
        from tools.check import compare

        pdf = env.queries[self.name](env.spark, corpus.data).toPandas()
        if self.name in env.oracles:
            return compare(self.name, pdf, oracle(env, duck, self.name))
        want = len(oracle(env, duck, self.rows_like))
        status = "ROWS_ONLY" if len(pdf) == want and want > 0 else "ROWCOUNT_MISMATCH"
        return {"key": self.name, "status": status, "spark_rows": len(pdf),
                "oracle_rows": want, "rows_of": self.rows_like}


def oracle(env: Env, duck, key: str):
    """The DuckDB oracle result of ``key``, computed once per run."""
    if key not in env.oracle_results:
        env.oracle_results[key] = duck.execute(env.oracles[key]).df()
    return env.oracle_results[key]


# ---------------------------------------------------------------------------
# config jobs (etl_jobs)
_INGEST_SPEC = {
    "params": {"landing": None, "checkpoint": None, "out": None, "min_rows": 1},
    "sources": {"landing": {"format": "csv", "path": "${params.landing}"}},
    "steps": [
        {"name": "latest", "input": "landing", "op": "dedup",
         "args": {"keys": ["l_orderkey", "l_linenumber"], "order_by": ["ingest_seq DESC"]},
         "materialize": "${params.checkpoint}"},
        {"name": "clean", "input": "latest", "op": "drop", "args": {"columns": ["ingest_seq"]}},
    ],
    "sinks": [{
        "input": "clean", "format": "parquet", "path": "${params.out}", "mode": "overwrite",
        "partition_by": ["l_returnflag"],
        "validate": [
            {"type": "row_count", "min": "${params.min_rows}"},
            {"type": "not_null", "columns": ["l_orderkey", "l_linenumber"]},
            {"type": "expression", "expr": "l_quantity > 0"},
        ],
    }],
}

_REVENUE_SQL = """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""
_DOC_SQL = r"""
WITH s AS (SELECT *, len(string_split(text, ' ')) AS n_tokens,
                  sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_text
           FROM documents),
q AS (SELECT * FROM s WHERE n_chars BETWEEN 64 AND 4096 AND n_tokens >= 16
                        AND lang IN ('en', 'es', 'de', 'fr')),
d AS (SELECT * FROM q QUALIFY row_number() OVER (PARTITION BY norm_text ORDER BY doc_id) = 1)
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM d GROUP BY source, lang
"""
_KPI_SQL = """
SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users, round(avg(value), 4) AS avg_value
FROM events WHERE ts >= TIMESTAMP '{since}'
GROUP BY 1, 2 HAVING count(*) >= {min_events}
"""
# the ingest sink holds every surviving row; compare exact per-flag
# aggregates of it (integers only, so summation order cannot matter)
_INGEST_AGG = """
SELECT l_returnflag, count(*) AS n, count(DISTINCT l_orderkey) AS n_orders,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM ({rel}) GROUP BY l_returnflag
"""


class JobOp:
    """One config job: ``load_spec`` → retarget → ``substitute_params``
    + ``Pipeline`` → ``Pipeline.run``. Sources are pointed at the
    corpus, and view sinks become parquet sinks under the corpus work
    directory (a view sink runs no action). The ingest job's spec is
    written as JSON into the work directory and loaded like the rest."""

    def __init__(self, name: str, spec_file: str | None, tables: tuple[str, ...],
                 expected_sql: str | None):
        self.name = name
        self.spec_file = spec_file
        self.tables = tables
        self.expected_sql = expected_sql

    def source_rows(self, corpus: Corpus) -> int:
        return sum(corpus.rows[t] for t in self.tables)

    def source_bytes(self, corpus: Corpus) -> int:
        return sum(corpus.bytes[t] for t in self.tables)

    def sink_dir(self, corpus: Corpus) -> str:
        return f"{corpus.work}/sinks/{self.name}"

    def _params(self, env: Env, corpus: Corpus) -> dict:
        if self.name == "ingest":
            return {"landing": f"{corpus.work}/landing",
                    "checkpoint": f"{corpus.work}/checkpoint/{self.name}",
                    "out": self.sink_dir(corpus),
                    "min_rows": int(corpus.rows["landing"] * env.params["ingest_min_share"])}
        if self.name == "daily_kpis":
            return {"sf_dir": corpus.data, "since": env.params["since"],
                    "min_events": env.params["min_events"]}
        return {}

    def _retarget(self, spec: dict, corpus: Corpus) -> dict:
        for src in spec.get("sources", {}).values():
            if "path" in src and "${" not in src["path"]:
                src["path"] = f"{corpus.data}/{os.path.basename(src['path'])}"
        sinks = []
        for i, sink in enumerate(spec.get("sinks", [])):
            if sink.get("format") == "view":
                sink = {"input": sink["input"], "format": "parquet", "mode": "overwrite",
                        "path": f"{self.sink_dir(corpus)}/{i}"}
            sinks.append(sink)
        spec["sinks"] = sinks
        return spec

    def load(self, env: Env, corpus: Corpus) -> dict:
        if self.spec_file is None:
            path = f"{corpus.work}/{self.name}.json"
            if not os.path.exists(path):
                with open(path, "w") as f:
                    json.dump(_INGEST_SPEC, f)
        else:
            path = self.spec_file
        return env.pipeline.load_spec(path)

    def run(self, env: Env, corpus: Corpus) -> None:
        pl = env.pipeline
        with env.tracer.span("pipeline.load_spec"):
            spec = self.load(env, corpus)
        spec = self._retarget(spec, corpus)
        with env.tracer.span("pipeline.compile"):
            params = {**spec.get("params", {}), **self._params(env, corpus)}
            body = {k: v for k, v in spec.items() if k != "params"}
            job = pl.Pipeline(pl.substitute_params(body, params) if params else body)
        with env.tracer.span("pipeline.run"):
            job.run(env.spark)

    def check(self, env: Env, corpus: Corpus, duck) -> dict:
        from tools.check import compare

        self.run(env, corpus)
        out = self.sink_dir(corpus)
        if self.name == "ingest":
            got = duck.execute(_INGEST_AGG.format(
                rel=f"SELECT * FROM read_parquet('{out}/**/*.parquet', hive_partitioning=true)"
            )).df()
            want = duck.execute(_INGEST_AGG.format(rel=(
                f"SELECT * FROM read_csv('{corpus.work}/landing/*.csv', header=true) "
                "QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber "
                "ORDER BY ingest_seq DESC) = 1"
            ))).df()
        else:
            got = duck.execute(f"SELECT * FROM read_parquet('{out}/0/*.parquet')").df()
            want = duck.execute(self.expected_sql.format(
                since=env.params["since"], min_events=env.params["min_events"])).df()
        res = compare(self.name, got, want)
        if res["status"] == "OK" and len(want) == 0:
            res["status"] = "EMPTY"  # an empty result proves nothing
        return res


# ---------------------------------------------------------------------------
def example(root: str, name: str) -> str:
    return os.path.join(root, "examples", name)


def build(workload: str, root: str) -> tuple[list, object]:
    """(operations, first operation) of a workload. The first operation
    is fixed, so ``first_op_s`` does not depend on the seed."""
    if workload == "etl_jobs":
        # revenue_by_nation.yaml is the XML job's parity twin, left out
        ops = [
            JobOp("revenue_xml", example(root, "revenue_by_nation.xml"),
                  ("orders", "lineitem", "customer", "nation"), _REVENUE_SQL),
            JobOp("doc_quality_json", example(root, "doc_quality_dedup.json"),
                  ("documents",), _DOC_SQL),
            JobOp("daily_kpis", example(root, "daily_kpis.yaml"), ("events",), _KPI_SQL),
            JobOp("ingest", None, ("landing",), None),
        ]
    elif workload == "llm_corpus":
        ops = [
            QueryOp("llm_dedup_exact", ("documents",)),
            QueryOp("llm_dedup_minhash", ("documents",)),
            QueryOp("llm_sim_topk", ("embeddings",)),
            QueryOp("llm_sim_topk_gemm", ("embeddings",), rows_like="llm_sim_topk"),
            QueryOp("llm_text_stats", ("documents",)),
        ]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return ops, ops[0]


def seed_params(seed: int) -> dict:
    """Job parameters picked by the seed (``${params.*}`` values)."""
    rng = np.random.default_rng([seed, 1])
    return {
        "since": f"2024-01-{int(rng.integers(2, 15)):02d} 00:00:00",
        "min_events": int(rng.integers(2, 12)),
        "ingest_min_share": float(np.round(rng.uniform(0.5, 0.9), 3)),
    }


def make_inputs(workload: str, data_dir: str, work_dir: str, sf: float,
                seed: int) -> Corpus:
    """Generate a corpus: the tables, plus the landing zone for ``etl_jobs``."""
    rows = datagen.write_tables(data_dir, sf)
    os.makedirs(work_dir, exist_ok=True)
    corpus = Corpus(data_dir, work_dir, rows)
    if workload == "etl_jobs":
        info = datagen.write_landing(data_dir, f"{work_dir}/landing", seed)
        rows["landing"] = info["landing_rows"]
        corpus.bytes["landing"] = sum(
            os.path.getsize(os.path.join(f"{work_dir}/landing", n))
            for n in os.listdir(f"{work_dir}/landing"))
    return corpus
