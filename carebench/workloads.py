"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``generate()``          — write the seeded inputs (before Spark starts);
* ``setup(spark, spans)`` — the workload's own set-up (part of ``setup_s``);
* ``prepare()``           — stage the next op's new input (not timed);
* ``run(spark, spans, op)`` — the op itself (timed);
* ``check(spark, oracle, op)`` — oracle comparisons of what the op
  produced (not timed);
* ``trace(spark, spans, op)`` — traced runs only: per-layer details that
  need extra calls (not timed).
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa

import gen
from check import rows_of

from mycarely_saas_dbt_spark import incremental as inc
from mycarely_saas_dbt_spark.ivm import (
    MaterializedViewMaintainer,
    MVAggregate,
    MVDefinition,
)
from mycarely_saas_dbt_spark.plans import lead_activities, traffic_daily, traffic_pages
from mycarely_saas_dbt_spark.sources.registry import register_sources


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class ScheduledRefresh:
    """The write path: a scheduler tick lands one new day of events, runs
    the three models incrementally in dependency order, then refreshes a
    materialized view over ``traffic_pages_agg`` from its change feed."""

    name = "scheduled_refresh"
    HISTORY_DAYS = 40          # 2024-01-01 .. 2024-02-09: covers the spend
    ROWS_PER_DAY = 3333        # and CRM-lead dates derived from `orders`
    USERS = 1500
    ORDERS = 15000
    MV = MVDefinition(
        name="traffic_pages_mv",
        base="traffic_pages_agg",
        base_key="id",
        group_by=["date", "company_domain", "type"],
        aggregates=[
            MVAggregate("count", None, "n_pages"),
            MVAggregate("sum", "traffic", "traffic"),
            MVAggregate("max", "traffic", "max_traffic"),
        ],
    )

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.src = os.path.join(work, "src")
        self.history = os.path.join(work, "history")
        self.targets = os.path.join(work, "targets")
        self.la_expected = None

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.events = gen.events_for_days(
            rng, 0, self.HISTORY_DAYS, self.ROWS_PER_DAY, self.USERS, 0
        )
        orders = gen.orders(rng, self.ORDERS)
        for d in (self.src, self.history):
            gen.write(self.events, d, "events")
            gen.write(orders, d, "orders")
        self.next_day = self.HISTORY_DAYS

    def setup(self, spark, spans) -> None:
        with spans.span("sources", "register"):
            register_sources(spark, self.src)
        self.runner = inc.IncrementalRunner(spark, self.targets)
        # the DAG of run_dag, with change data on the MV's base model
        self.specs = [
            dataclasses.replace(inc.TRAFFIC_PAGES_SPEC, change_data=True),
            inc.TRAFFIC_DAILY_SPEC,
            inc.make_la_spec(self.runner),
        ]
        for spec in self.specs:
            with spans.span("incremental", spec.name):
                self.runner.run(spec, self.src, full_refresh=True)
        self.mv = MaterializedViewMaintainer(self.runner, self.MV)
        with spans.span("ivm", "refresh"):
            self.mv.refresh(spark, timeout=150)

    def prepare(self, traced: bool = False) -> dict:
        """Land the next day: the events file now holds one more day."""
        path = os.path.join(self.src, "events.parquet")
        before = os.path.getsize(path)
        rng = np.random.default_rng([self.seed, 1 + self.next_day])
        day = gen.events_for_days(
            rng, self.next_day, 1, self.ROWS_PER_DAY, self.USERS, self.events.num_rows
        )
        self.events = pa.concat_tables([self.events, day])
        gen.write(self.events, self.src, "events")
        op = {
            "day": self.next_day,
            "input_rows": day.num_rows,
            "input_bytes": os.path.getsize(path) - before,
            "files_before": tree_files(self.targets),
        }
        if traced:
            op["watermarks"] = {
                s.name: self.runner.watermark(s.name, s.watermark_col) for s in self.specs
            }
            op["tp_version"] = self.runner.current_manifest("traffic_pages_agg")["version"]
            op["mv_log"] = len(self.mv.path_log)
        self.next_day += 1
        return op

    def run(self, spark, spans, op: dict) -> None:
        with spans.span("sources", "register"):
            register_sources(spark, self.src, force=True)
        op["stats"] = {}
        for spec in self.specs:
            with spans.span("incremental", spec.name):
                op["stats"][spec.name] = self.runner.run(spec, self.src)
        with spans.span("ivm", "refresh"):
            self.mv.refresh(spark, timeout=150)

    def write_stats(self, op: dict) -> None:
        after = tree_files(self.targets)
        new = {p: s for p, s in after.items() if op["files_before"].get(p) != s}
        op["bytes_written"] = sum(new.values())
        op["files_written"] = sum(1 for p in new if p.endswith(".parquet"))
        op["stored_bytes"] = sum(after.values())
        op["rows_written"] = sum(st.get("rows_written") or 0 for st in op["stats"].values())
        op["partitions_rewritten"] = sum(
            st.get("partitions_rewritten") or 0 for st in op["stats"].values()
        )
        op["write_ratio"] = op["bytes_written"] / op["input_bytes"]
        op["stored_ratio"] = op["stored_bytes"] / sum(tree_files(self.src).values())

    def check(self, spark, oracle, op: dict) -> list[tuple[str, object, object]]:
        """(label, actual, expected) for every target the tick maintains.
        TP and TD must equal a full recompute over every landed event. LA's
        CRM leads are all dated 2024-01-01..01-30, before the watermark, so
        every tick runs LA over an empty batch and its target must still
        equal the full refresh over the history. The MV must equal the same
        aggregate over the TP oracle."""
        self.write_stats(op)
        tp_new = op["stats"]["traffic_pages_agg"].get("rows_written") or 0
        if tp_new <= 0:
            raise AssertionError(f"tick for day {op['day']} wrote no traffic_pages_agg rows")
        out = []
        oracle.point_at(self.src, ["events", "orders"])
        tp_sql = traffic_pages.oracle_sql(id_strategy="hash")
        for name, sql in (
            ("traffic_pages_agg", tp_sql),
            ("traffic_daily_agg", traffic_daily.oracle_sql()),
        ):
            got = self.runner.read_target(name)
            cols = sorted(got.columns)
            out.append((name, rows_of(cols, got.collect()), oracle.rows(sql, cols)))
        mv = self.mv.read(spark)
        cols = sorted(mv.columns)
        mv_sql = (
            "SELECT date, company_domain, type, COUNT(*) AS n_pages, "
            "CAST(SUM(traffic) AS BIGINT) AS traffic, MAX(traffic) AS max_traffic "
            f"FROM ({tp_sql}) GROUP BY ALL"
        )
        out.append((self.MV.name, rows_of(cols, mv.collect()), oracle.rows(mv_sql, cols)))
        got = self.runner.read_target("lead_activities_agg")
        cols = sorted(got.columns)
        if self.la_expected is None:
            oracle.point_at(self.history, ["events", "orders"])
            self.la_expected = oracle.rows(lead_activities.oracle_sql(), cols)
        out.append(("lead_activities_agg", rows_of(cols, got.collect()), self.la_expected))
        return out

    def trace(self, spark, spans, op: dict, probes) -> None:
        """Catalyst phases of each model's plan at the tick's watermark, and
        the change volume the MV refresh consumed."""
        wm = op["watermarks"]
        plans = {
            "traffic_pages_agg": traffic_pages.traffic_pages_agg(
                spark, self.src, watermark=wm["traffic_pages_agg"]
            ),
            "traffic_daily_agg": traffic_daily.traffic_daily_agg(
                spark, self.src, watermark=wm["traffic_daily_agg"]
            ),
            "lead_activities_agg": lead_activities.lead_activities_agg(
                spark,
                self.src,
                traffic_daily=self.runner.read_target("traffic_daily_agg"),
                watermark=wm["lead_activities_agg"],
            ),
        }
        op["phases"] = {m: probes.catalyst_phases(df) for m, df in plans.items()}
        v1 = self.runner.current_manifest("traffic_pages_agg")["version"]
        op["changed_rows"] = self.runner.table_changes(
            "traffic_pages_agg", "id", op["tp_version"], v1, preimages=True
        ).count()
        op["recompute_groups"] = sum(e[2] for e in self.mv.path_log[op["mv_log"]:])


class CorpusBuild:
    """The LLM-data path: each op builds the training-mix report
    (near-dup removal, quality gate, per-source cap) over a fresh shard of
    documents, so no op can reuse an earlier op's memoized relations."""

    name = "corpus_build"
    DOCS = 500

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.shards = os.path.join(work, "shards")
        self.n_shards = 0

    def _shard(self) -> dict:
        k = self.n_shards
        self.n_shards += 1
        d = os.path.join(self.shards, f"s{k:03d}")
        docs = gen.documents(np.random.default_rng([self.seed, 1 + k]), self.DOCS, k * self.DOCS)
        gen.write(docs, d, "documents")
        # the registry also derives the web-event views; give it small tables
        gen.write(self.tiny_events, d, "events")
        gen.write(self.tiny_orders, d, "orders")
        return {"dir": d, "input_rows": docs.num_rows,
                "input_bytes": os.path.getsize(os.path.join(d, "documents.parquet"))}

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.tiny_events = gen.events_for_days(rng, 0, 1, 100, 50, 0)
        self.tiny_orders = gen.orders(rng, 100)
        self.first = self._shard()

    def setup(self, spark, spans) -> None:
        with spans.span("sources", "register"):
            register_sources(spark, self.first["dir"])

    def prepare(self, traced: bool = False) -> dict:
        if self.first is not None:
            op, self.first = self.first, None
            return op
        return self._shard()

    def run(self, spark, spans, op: dict) -> None:
        from mycarely_saas_dbt_spark.operators.textops import training_mix_pipeline

        with spans.span("sources", "register"):
            register_sources(spark, op["dir"])
        with spans.span("operators", "training_mix_pipeline"):
            op["df"] = training_mix_pipeline(spark, op["dir"])
            op["rows"] = op["df"].collect()

    def check(self, spark, oracle, op: dict) -> list[tuple[str, object, object]]:
        from mycarely_saas_dbt_spark.entry import build_oracle_sql

        oracle.point_at(op["dir"], ["documents"])
        cols = sorted(op["df"].columns)
        sql = build_oracle_sql()["training_mix_pipeline"]
        return [("training_mix_pipeline", rows_of(cols, op["rows"]), oracle.rows(sql, cols))]

    def trace(self, spark, spans, op: dict, probes) -> None:
        """Catalyst phases of the op's plan, and each gate run on its own
        over a fresh shard (its memoized relations are not the op's), with
        that shard's LSH candidate pairs and the documents dedup drops."""
        from mycarely_saas_dbt_spark.operators.dedup import (
            dedup_canonical_keep,
            minhash_candidate_count,
        )
        from mycarely_saas_dbt_spark.operators.textops import (
            domain_cap_sample,
            gopher_quality,
        )

        op["phases"] = {"training_mix_pipeline": probes.catalyst_phases(op["df"])}
        shard = self._shard()
        register_sources(spark, shard["dir"])
        for fn in (dedup_canonical_keep, gopher_quality, domain_cap_sample):
            with spans.span("operators", fn.__name__):
                rows = fn(spark, shard["dir"]).collect()
            if fn is dedup_canonical_keep:
                op["near_dup_docs"] = sum(1 for r in rows if not r["keep"])
        op["lsh_candidate_pairs"] = minhash_candidate_count(spark, shard["dir"])


WORKLOADS = {w.name: w for w in (ScheduledRefresh, CorpusBuild)}
