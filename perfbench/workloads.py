"""The workloads. Each one has four steps, called in order:

- ``prep``: write the seeded inputs and compute reference answers
  that need no Spark (untimed, before the session starts);
- ``setup``: resolve inputs and warm up on the same operations the
  units run (counted in ``setup_s``);
- ``unit``: one timed unit of work, made of operations issued one
  after another by a single client;
- ``check``: compare outputs with the references (untimed).

Checks that can run right after an operation do so, outside its timed
interval; a wrong answer is recorded against the operation.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb

import gen

# A frozen slice of the registry's headline suite plus the LSH key:
# one key per workload shape the engine serves (scan+agg, star join,
# window, event-time streaming, config pipeline, exact and LSH vector
# top-k, grouped-Arrow state). A pass takes ~6 s on 4 cores at sf0.01,
# so a run times several passes and each key's median rests on several
# samples. The full 35-key suite takes ~20 s a pass; the iterative graph
# key and the two text-dedup keys (MinHash LSH, prefix-filter join)
# would double the pass and are left out.
MIX = [
    "agg_groupby_sum",
    "join_star_q5",
    "window_topk_per_group",
    "stream_tumbling",
    "pipeline_etl",
    "sim_topk_bruteforce",
    "sim_ann_lsh",
    "ts_ewma_recursive",
]
MIX_SF = 0.01
ETL_SF = 0.01
# sim_ann_lsh's fixed configuration: 10 queries (vec_id < 10), top-5,
# 8 tables x 4 planes over the 64-dim embeddings
ANN_QUERIES, ANN_K, ANN_TABLES, ANN_PLANES, ANN_DIM = 10, 5, 8, 4, 64


class QueryMix:
    name = "query_mix"

    def prep(self, ctx) -> None:
        self.data = ctx.path("data")
        gen.write_tables(self.data, gen.star_tables(ctx.seed, MIX_SF))

    def setup(self, ctx) -> dict[str, float]:
        from php_etl_spark import queries as Q
        from php_etl_spark.catalog import TABLES, cached

        self.Q = Q
        with ctx.clock() as resolve:
            cat = cached(ctx.spark, self.data)
            for t in TABLES:
                cat.table(t)
        # the warm-up pass builds every key's plan and collects its rows
        # for the check, so the timed passes run warm plans
        with ctx.clock() as warm:
            self._pass(ctx, "warm", timed=False)
        return {"catalog.resolve_s": resolve.s, "setup.warmup_s": warm.s}

    def unit(self, ctx, i: int) -> None:
        self._pass(ctx, i, timed=True)

    def _pass(self, ctx, tag, timed: bool) -> None:
        order = MIX[:]
        random.Random(f"{ctx.seed}:{tag}").shuffle(order)
        tr = ctx.tracer
        if not timed:
            self.answers = {}
        for k in order:
            with ctx.op(k, timed=timed):
                with tr.span("queries.construct"):
                    df = self.Q.QUERIES[k](ctx.spark, self.data)
                with tr.span("exec"):
                    if timed:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        self.answers[k] = (df.columns, [tuple(r) for r in df.collect()])

    def check(self, ctx) -> None:
        """Compare the rows the warm-up pass collected for every key (the
        timed passes end in a noop write and keep no rows) with the key's
        DuckDB oracle."""
        from check_oracle import TABLES, table_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        for k in MIX:
            cur = con.execute(self.Q.ORACLES[k])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            cols, rows = self.answers[k]
            if sorted(cols) != sorted(ocols) or table_hash(cols, rows) != table_hash(ocols, orows):
                ctx.wrong(k, "oracle mismatch")

    def llm_counts(self, ctx) -> dict[str, float]:
        """Work and quality of the LSH key on this seed's embeddings:
        candidate (query, vector) pairs its bucket join produces, their
        share of brute force, and its recall against brute force.
        Deterministic for a seed; computed after timing."""
        from pyspark.sql import functions as F

        from php_etl_spark.llm import similarity as S

        emb = ctx.spark.read.parquet(f"{self.data}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
        coefs = S.hyperplane_coefficients(ctx.spark, ANN_TABLES, ANN_PLANES, ANN_DIM)
        sizes = S.lsh_buckets(emb, coefs).groupBy("tbl", "bucket").count()
        cand = S.lsh_buckets(queries, coefs).join(sizes, ["tbl", "bucket"]).agg(F.sum("count"))
        n_cand = int(cand.first()[0])
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in S.brute_force_topk(emb, queries, k=ANN_K).collect()
        }
        cols, rows = self.answers["sim_ann_lsh"]
        qi, ni = cols.index("query_id"), cols.index("neighbor_id")
        got = {(r[qi], r[ni]) for r in rows}
        return {
            "llm.cand_pairs": n_cand,
            "llm.cand_frac": n_cand / (ANN_QUERIES * emb.count()),
            "llm.recall_at_5": len(got & truth) / len(truth),
        }


# ---------------------------------------------------------------------------


def _table(flow, cols, unique, **extra):
    return {"flow": flow, "columns": {c: f"[{c}]" for c in cols},
            "unique": unique, "order_by": ["seq"], **extra}


_CUSTOMER = _table(
    "customer -> dst_customer", ["c_code", "c_name", "c_nationkey", "c_acctbal"],
    ["c_code"], constraints=[{"type": "not_null", "column": "c_acctbal"}],
)
_ORDERS = _table(
    "orders -> dst_orders",
    ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_year"],
    ["o_orderkey"], mode="upsert", partition_by=["o_year"],
)
# step → (source directory, tables). The load fills an empty
# destination; the re-run reads base + delta and must append only the
# delta; the upsert merges the update batch into the partitioned orders.
_STEPS = {
    "load": ("base", [_CUSTOMER, _ORDERS]),
    "rerun": ("full", [_CUSTOMER]),
    "upsert": ("updates", [_ORDERS]),
}

_DEDUP = {
    # first-wins on the normalised key: strings trimmed, numbers raw
    "customer": "trim(c_code)",
    "orders": "o_orderkey",
}
_VALID = {
    "customer": "c_acctbal IS NOT NULL",
    "orders": "TRUE",
}


def _winners(src: str, table: str) -> str:
    return (
        f"(SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {_DEDUP[table]} ORDER BY seq) AS rn "
        f"FROM read_parquet('{src}/{table}.parquet')) WHERE rn = 1)"
    )


class EtlMigrate:
    name = "etl_migrate"

    def prep(self, ctx) -> None:
        star = gen.star_tables(ctx.seed, ETL_SF)
        self.src = {}
        for kind, tables in gen.etl_sources(ctx.seed, star).items():
            self.src[kind] = ctx.path("src", kind)
            gen.write_tables(self.src[kind], tables)
        self.source_rows = sum(
            duckdb.sql(f"SELECT count(*) FROM read_parquet('{self.src['base']}/{t}.parquet')").fetchone()[0]
            for t in ("customer", "orders")
        )
        self.expect = self._expected()

    def _expected(self) -> dict:
        """Row counts and hashes the engine must reproduce, from DuckDB
        over the generated sources with the runner's semantics: dedup
        first-wins by ``seq`` on the normalised key, constraint split
        after dedup, anti-join on the normalised key, merge on the key."""
        from check_oracle import table_hash

        con = duckdb.connect()
        base, full, upd = self.src["base"], self.src["full"], self.src["updates"]
        exp = {}
        for t in ("customer",):
            w_base, w_full = _winners(base, t), _winners(full, t)
            exp[f"load.{t}"] = con.sql(f"SELECT count(*) FROM {w_base} WHERE {_VALID[t]}").fetchone()[0]
            exp[f"load.{t}_quarantine"] = con.sql(
                f"SELECT count(*) FROM {w_base} WHERE NOT ({_VALID[t]})"
            ).fetchone()[0]
            key = _DEDUP[t]
            exp[f"rerun.{t}"] = con.sql(
                f"SELECT count(*) FROM (SELECT {key} FROM {w_full} WHERE {_VALID[t]} "
                f"EXCEPT SELECT {key} FROM {w_base} WHERE {_VALID[t]})"
            ).fetchone()[0]
        exp["load.orders"] = con.sql(f"SELECT count(*) FROM {_winners(base, 'orders')}").fetchone()[0]
        cols = ", ".join(_ORDERS["columns"])
        merged = con.sql(
            f"SELECT {cols} FROM {_winners(base, 'orders')} "
            f"WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {_winners(upd, 'orders')}) "
            f"UNION ALL SELECT {cols} FROM {_winners(upd, 'orders')}"
        )
        exp["upsert.orders_hash"] = table_hash(merged.columns, merged.fetchall())
        return exp

    def setup(self, ctx) -> dict[str, float]:
        from php_etl_spark.plans.runner import run_pipeline
        from php_etl_spark.plans.spec import PipelineSpec

        self.run_pipeline, self.Spec = run_pipeline, PipelineSpec
        # the first iteration after a cold one still runs ~40% slower
        # (the JIT is still compiling), so two iterations warm up
        with ctx.clock() as warm:
            for w in range(2):
                self._iteration(ctx, f"warm{w}", timed=False)
        return {"catalog.resolve_s": 0.0, "setup.warmup_s": warm.s}

    def unit(self, ctx, i: int) -> None:
        self._iteration(ctx, f"u{i}", timed=True)

    def check(self, ctx) -> None:
        pass  # every step is checked as it completes

    def _iteration(self, ctx, tag: str, timed: bool) -> None:
        dest = ctx.path("dest", tag)
        for step, (kind, tables) in _STEPS.items():
            spec = self.Spec.from_dict({
                "connections": {
                    "from": {"type": "parquet", "path": self.src[kind]},
                    "to": {"type": "parquet", "path": dest},
                },
                "tables": tables,
                "parallel": False,
            })
            before = ctx.snapshot(dest)
            with ctx.op(step, timed=timed) as op:
                results = self.run_pipeline(ctx.spark, spec)
            ctx.record_writes(op, step, before, ctx.snapshot(dest))
            self._check(ctx, step, dest, {r.table: r.rows_written for r in results})
        shutil.rmtree(dest, ignore_errors=True)

    def _check(self, ctx, step: str, dest: str, written: dict[str, int]) -> None:
        from check_oracle import table_hash

        exp = self.expect

        def count(t):
            return duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{dest}/{t}/**/*.parquet')"
            ).fetchone()[0]

        got, want = {}, {}
        if step == "load":
            for t in ("customer",):
                got[t], want[t] = count(f"dst_{t}"), exp[f"load.{t}"]
                got[t + "_q"] = count(f"dst_{t}_quarantine")
                want[t + "_q"] = exp[f"load.{t}_quarantine"]
            got["orders"], want["orders"] = count("dst_orders"), exp["load.orders"]
        elif step == "rerun":
            for t in ("customer",):
                got[t], want[t] = written[f"dst_{t}"], exp[f"rerun.{t}"]
                got[t + "_total"] = count(f"dst_{t}")
                want[t + "_total"] = exp[f"load.{t}"] + exp[f"rerun.{t}"]
        else:
            rel = duckdb.sql(
                f"SELECT {', '.join(_ORDERS['columns'])} FROM read_parquet("
                f"'{dest}/dst_orders/*/*.parquet', hive_partitioning = true, "
                f"hive_types_autocast = false)"
            )
            got["orders_hash"] = table_hash(rel.columns, rel.fetchall())
            want["orders_hash"] = exp["upsert.orders_hash"]
        if got != want:
            ctx.wrong(step, f"got {got}, want {want}")

WORKLOADS = {w.name: w for w in (QueryMix, EtlMigrate)}
