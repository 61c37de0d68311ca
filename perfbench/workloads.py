"""The benchmark's workloads. Each is a closed loop with one client: a
tick starts when the previous one returns, as cron ticks do.

- ``hashtag_ingest``: ``orchestrator.hashtag_tick`` over seeded tag
  pages into posts/users/locations/dead MergeTables that grow for the
  whole run. Exercises sources, pipelines, enrich and operators.merge.
- ``stream_dedup``: ``streaming.incremental.stream_near_dedup``
  AvailableNow drains of landed JSON documents against one checkpoint
  and a signature store that grows each tick. Exercises streaming,
  operators.dedup and operators.merge.
- ``query_mix``: passes over a fixed list of analytics queries from
  ``__spark_entry__.queries()`` on seeded tables, each query built and
  then collected. Exercises plans and the read-side operators.

A workload offers ``prepare`` (make the next tick's inputs, untimed),
``tick`` (the timed call), ``rows`` (work credited to a tick), ``verify``
(output checks, after the loop), and for traced runs ``instrument`` and
``tick_layers`` (per-tick layer figures from the tick's output).
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import time
import types
from dataclasses import dataclass, field

from perfbench.harness import Span, Tracer, median, make_phase_listener
from perfbench.inputs import (
    DETAIL_DDL,
    DOC_DDL,
    QUERY_ROWS,
    DocFeed,
    TagFeed,
    land_docs,
    write_query_tables,
)

# the share of planted near-duplicates the drains must drop; the program
# drops 0.96 of them on these inputs
RECALL_FLOOR = 0.9


@dataclass
class Verdict:
    failed_ops: set[int]
    ok: bool
    extras: dict[str, float] = field(default_factory=dict)


def _table(spark, work: str, name: str, key: str):
    from etl_instagram_spark.operators.merge import MergeTable

    return MergeTable(spark, os.path.join(work, name), key)


def _table_name(table, *args, **kwargs) -> str:
    return f"merge.upsert.{os.path.basename(table.path)}"


def _snapshot_before(span: Span, table, *args, **kwargs) -> None:
    span.attrs["table"] = table.path
    span.attrs["before"] = table.current_snapshot()


def _snapshot_after(span: Span, out, table, *args, **kwargs) -> None:
    span.attrs["after"] = table.current_snapshot()


def _probe_after(span: Span, out, table, *args, **kwargs) -> None:
    span.attrs["table"] = table.path
    span.attrs["snapshot"] = table.current_snapshot()
    span.attrs["files_read"] = len(out.inputFiles())


class HashtagIngest:
    name = "hashtag_ingest"
    root_span = "orchestrator.hashtag_tick"
    warmup = 2

    def __init__(self, spark, seed: int, work: str):
        from etl_instagram_spark.config import EngineConfig

        self.spark = spark
        self.feed = TagFeed(seed)
        self.tables = {
            name: _table(spark, work, name, key)
            for name, key in (("posts", "id"), ("users", "id"), ("locations", "id"), ("dead", "url"))
        }
        self._cfg = lambda tags: EngineConfig(
            env_name="production", hashtags=tags, dev_limit=None, fetch_interval_s=0.0
        )

    def prepare(self):
        tick = self.feed.next_tick()
        details = self.spark.createDataFrame(tick.details, DETAIL_DDL)
        return tick, details

    def tick(self, inp):
        from etl_instagram_spark.pipelines import orchestrator

        tick, details = inp
        t = self.tables
        return orchestrator.hashtag_tick(
            self.spark, self._cfg(tick.hashtags), details,
            t["posts"], t["users"], t["locations"], t["dead"],
            # the fetcher serves this tick's generated pages; the dict
            # travels to the fetch worker with the bound method
            fetcher=tick.pages.get, enrich=True,
        )

    @staticmethod
    def rows(inp, out) -> int:
        return out["new_posts"]

    @staticmethod
    def tick_layers(out, root: Span) -> dict[str, float]:
        return {}

    def verify(self, ticks: dict[int, tuple]) -> Verdict:
        """Each tick's ``new_posts`` (and ``kept_posts``: every post has a
        detail row, nothing is blocklisted) equals the generator's count
        of unseen ids; at the end the posts table is key-unique with
        exactly the expected row count, and every post carries the labels
        and caption topics the enrichment attaches."""
        from pyspark.sql import functions as F

        failed = {
            op for op, (inp, out) in ticks.items()
            if out is None
            or out.get("new_posts") != len(inp[0].new_ids)
            or out.get("kept_posts") != len(inp[0].new_ids)
            or out.get("dead_letter") != 0
        }
        rows = self.tables["posts"].read().select(
            "id", (F.size("labels") > 0).alias("labelled"), (F.size("topics") > 0).alias("topical")
        ).collect()
        ids = [r.id for r in rows]
        ok = (len(ids) == len(set(ids)) == self.feed.ids_committed
              and all(r.labelled and r.topical for r in rows))
        return Verdict(failed, ok)

    def instrument(self, tracer: Tracer) -> None:
        from etl_instagram_spark.enrich import labels, topics
        from etl_instagram_spark.operators.merge import MergeTable
        from etl_instagram_spark.pipelines import orchestrator

        tracer.wrap(orchestrator, "hashtag_tick", "orchestrator.hashtag_tick")
        tracer.wrap(orchestrator, "fetch_pages", "sources.fetch_pages")
        tracer.wrap(orchestrator, "tag_pages_from_html", "sources.tag_pages_from_html")
        tracer.wrap(orchestrator, "run_hashtag_batch", "hashtags.run_hashtag_batch")
        # imported by run_hashtag_batch at call time, so module attributes
        tracer.wrap(labels, "attach_labels", "enrich.attach_labels")
        tracer.wrap(topics, "attach_topics", "enrich.attach_topics")
        _instrument_merge(tracer, MergeTable)

    def close(self) -> None:
        pass


class StreamDedup:
    name = "stream_dedup"
    root_span = "streaming.stream_near_dedup"
    warmup = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.feed = DocFeed(seed)
        self.landing = os.path.join(work, "landing")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.store = _table(spark, work, "store", "doc_id")
        self.clean = _table(spark, work, "clean", "doc_id")
        self._ticks = 0
        self._listener = None

    def prepare(self):
        tick = self.feed.next_tick()
        land_docs(self.landing, self._ticks, tick.docs)
        self._ticks += 1
        return tick

    def tick(self, inp):
        from etl_instagram_spark.streaming import incremental

        incremental.stream_near_dedup(
            self.spark, self.landing, DOC_DDL, self.store, self.clean, self.checkpoint
        )
        if self._listener is not None:
            return self._listener.take()
        return {}

    @staticmethod
    def rows(inp, out) -> int:
        return len(inp.docs)

    @staticmethod
    def tick_layers(out, root: Span) -> dict[str, float]:
        """The drain's streaming phases, and its wall outside addBatch."""
        return {**out, "streaming.overhead_s": root.wall_s - out["streaming.add_batch_s"]}

    def verify(self, ticks: dict[int, tuple]) -> Verdict:
        """No original document is dropped, the clean table is key-unique
        and the drains dropped at least RECALL_FLOOR of the planted
        near-duplicates (``dedup.planted_recall``)."""
        ids = [r[0] for r in self.clean.read().select("doc_id").collect()]
        kept = set(ids)
        failed = {
            op for op, (inp, out) in ticks.items()
            if out is None or not kept.issuperset(inp.originals)
        }
        planted = [d for inp, _ in ticks.values() for d in inp.planted]
        recall = sum(1 for d in planted if d not in kept) / len(planted)
        ok = len(ids) == len(kept) and recall >= RECALL_FLOOR
        return Verdict(failed, ok, {"dedup.planted_recall": recall})

    def instrument(self, tracer: Tracer) -> None:
        from etl_instagram_spark.operators import dedup
        from etl_instagram_spark.operators.merge import MergeTable
        from etl_instagram_spark.streaming import incremental

        tracer.wrap(incremental, "stream_near_dedup", "streaming.stream_near_dedup")
        # imported by the foreachBatch handler at call time
        tracer.wrap(dedup, "incremental_near_dedup", "dedup.incremental_near_dedup")
        _instrument_merge(tracer, MergeTable)
        self._listener = make_phase_listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)


def _instrument_merge(tracer: Tracer, merge_table: type) -> None:
    tracer.wrap(merge_table, "upsert", _table_name, before=_snapshot_before, after=_snapshot_after)
    tracer.wrap(merge_table, "read_overlapping", "merge.read_overlapping", after=_probe_after)


# query -> the one table it reads; both engines' results are checked
QUERIES = {
    "part_entity_resolution": "part",
    "docs_decontamination": "documents",
}


class QueryMix:
    name = "query_mix"
    root_span = "queries.pass"
    warmup = 1

    def __init__(self, spark, seed: int, work: str):
        import __spark_entry__

        self.spark = spark
        self.tables = os.path.join(work, "tables")
        write_query_tables(self.tables, seed)
        registry = __spark_entry__.queries()
        # looked up on this namespace at call time, so a traced run can wrap them
        self.fns = types.SimpleNamespace(**{n: registry[n] for n in QUERIES})
        self._rng = random.Random(f"query-order-{seed}")
        self._tracer = self._ledger = None

    def prepare(self) -> list[str]:
        order = list(QUERIES)
        self._rng.shuffle(order)
        return order

    def _span(self, name: str):
        return self._tracer.span(name) if self._tracer else contextlib.nullcontext()

    def _next_job(self) -> int:
        return self._ledger.next_job_id() if self._ledger else 0

    def tick(self, order: list[str]) -> dict:
        """One pass: each query is built (the call that returns the
        DataFrame, which may already run jobs) and then collected."""
        results, timing = {}, {}
        with self._span(self.root_span):
            for name in order:
                j0, t0 = self._next_job(), time.perf_counter()
                df = getattr(self.fns, name)(self.spark, self.tables)
                j1, t1 = self._next_job(), time.perf_counter()
                with self._span(f"query.{name}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                j2, t2 = self._next_job(), time.perf_counter()
                results[name] = (list(df.columns), rows)
                timing[name] = (t1 - t0, j1 - j0, t2 - t1, j2 - j1)
        return {"results": results, "timing": timing}

    @staticmethod
    def rows(inp, out) -> int:
        """Input table rows the pass's queries read."""
        return sum(QUERY_ROWS[QUERIES[name]] for name in inp)

    @staticmethod
    def tick_layers(out, root: Span) -> dict[str, float]:
        values: dict[str, float] = {}
        for name, (build_s, build_jobs, exec_s, exec_jobs) in out["timing"].items():
            values[f"query.{name}.build_s"] = build_s
            values[f"query.{name}.build_jobs"] = build_jobs
            values[f"query.{name}.exec_s"] = exec_s
            values[f"query.{name}.exec_jobs"] = exec_jobs
        build = sum(t[0] for t in out["timing"].values())
        total = build + sum(t[2] for t in out["timing"].values())
        values["plans.build_share"] = build / total
        values["queries.query_p50_s"] = median(t[0] + t[2] for t in out["timing"].values())
        return values

    def verify(self, ticks: dict[int, tuple]) -> Verdict:
        """Every query's row count and order-insensitive value hash match
        DuckDB running the query's oracle SQL over the same tables."""
        import duckdb

        from etl_instagram_spark.plans import oracle
        from tools.oracle_check import frame_fingerprint

        con = duckdb.connect()
        for table in QUERY_ROWS:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.tables}/{table}.parquet'")
        expected = {}
        for name in QUERIES:
            # resolve only the listed queries' oracles: oracle_sql() would
            # also fit the embedding oracles from the fixed test tables
            sql = oracle._ORACLE[name]
            res = con.sql(sql() if callable(sql) else sql)
            expected[name] = frame_fingerprint([d[0] for d in res.description], res.fetchall())
        con.close()
        failed = {
            op for op, (_, out) in ticks.items()
            if out is None
            or any(frame_fingerprint(*out["results"][n]) != expected[n] for n in QUERIES)
        }
        return Verdict(failed, True)

    def instrument(self, tracer: Tracer) -> None:
        self._tracer, self._ledger = tracer, tracer.ledger
        for name in QUERIES:
            tracer.wrap(self.fns, name, f"query.{name}.build")

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (HashtagIngest, StreamDedup, QueryMix)}


# -- per-layer metrics ----------------------------------------------------------

SPAN_NAMES = (
    "orchestrator.hashtag_tick",
    "sources.fetch_pages",
    "sources.tag_pages_from_html",
    "hashtags.run_hashtag_batch",
    "enrich.attach_labels",
    "enrich.attach_topics",
    "merge.read_overlapping",
    "merge.upsert.posts",
    "merge.upsert.users",
    "streaming.stream_near_dedup",
    "dedup.incremental_near_dedup",
    "merge.upsert.store",
    "merge.upsert.clean",
)
SHUFFLE_SPANS = ("merge.upsert.posts", "merge.upsert.users", "merge.upsert.store",
                 "merge.upsert.clean", "dedup.incremental_near_dedup")
MERGE_TABLES = ("posts", "users", "store", "clean")
SPARK_COUNTERS = (
    ("spark.jobs", "count", "lower"),
    ("spark.jobs_missing", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.nojob_s", "s", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
)
STREAMING = ("streaming.trigger_s", "streaming.add_batch_s", "streaming.latest_offset_s",
             "streaming.query_planning_s", "streaming.wal_commit_s",
             "streaming.commit_offsets_s", "streaming.overhead_s")
QUERY_LAYER = [
    (f"query.{q}.{m}", unit, "lower")
    for q in QUERIES
    for m, unit in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"))
] + [("plans.build_share", "ratio", "lower"), ("queries.query_p50_s", "s", "lower")]
TRACED_E2E = (
    ("trace.setup_s", "s", "lower"),
    ("trace.retained_mb", "MB", "lower"),
    ("trace.rows_per_s", "rows/s", "higher"),
    ("trace.tick_p50_s", "s", "lower"),
)


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in output order.
    A traced run prints all of them; a layer the workload bypasses
    reads 0."""
    spec = list(SPARK_COUNTERS)
    for s in SPAN_NAMES:
        spec += [(f"{s}.wall_s", "s", "lower"), (f"{s}.self_s", "s", "lower"),
                 (f"{s}.jobs", "count", "lower"), (f"{s}.tasks", "count", "lower")]
        if s in SHUFFLE_SPANS:
            spec.append((f"{s}.shuffle_write_mb", "MB", "lower"))
    spec.append(("merge.probe_hit_ratio", "ratio", "lower"))
    for t in MERGE_TABLES:
        spec += [(f"merge.{t}.files_rewritten", "count", "lower"),
                 (f"merge.{t}.bytes_per_new_row", "B/row", "lower"),
                 (f"merge.{t}.table_files", "count", "lower")]
    spec += [(m, "s", "lower") for m in STREAMING]
    spec.append(("dedup.planted_recall", "ratio", "higher"))
    spec += QUERY_LAYER
    spec += list(TRACED_E2E)
    return spec


class _Manifests:
    """Reads MergeTable manifests and parquet footers after the run
    (snapshots and data files are immutable until vacuum)."""

    def __init__(self):
        self._rows: dict[str, int] = {}

    @staticmethod
    def files(table: str, snapshot: str | None) -> set[str]:
        if snapshot is None:
            return set()
        with open(snapshot, encoding="utf-8") as f:
            return {os.path.join(table, e["path"]) for e in json.load(f)["files"]}

    def rows(self, files: set[str]) -> int:
        import pyarrow.parquet as pq

        for p in files - self._rows.keys():
            self._rows[p] = pq.ParquetFile(p).metadata.num_rows
        return sum(self._rows[p] for p in files)


def merge_figures(spans: list[Span], ops: set[int]) -> dict[str, list[float]]:
    """Per commit: files rewritten, bytes written per new row (new rows
    floored at 1) and table files; per probe: files returned / manifest
    files. One value per call made during the timed ops."""
    m = _Manifests()
    out: dict[str, list[float]] = {}
    for s in spans:
        if s.op not in ops:
            continue
        if s.name.startswith("merge.upsert."):
            table = s.attrs["table"]
            before = m.files(table, s.attrs["before"])
            after = m.files(table, s.attrs["after"])
            new = after - before
            t = s.name.rsplit(".", 1)[1]
            written = sum(os.path.getsize(p) for p in new)
            new_rows = m.rows(after) - m.rows(before)
            out.setdefault(f"merge.{t}.files_rewritten", []).append(float(len(before - after)))
            out.setdefault(f"merge.{t}.bytes_per_new_row", []).append(written / max(new_rows, 1))
            out.setdefault(f"merge.{t}.table_files", []).append(float(len(after)))
        elif s.name == "merge.read_overlapping":
            files = m.files(s.attrs["table"], s.attrs["snapshot"])
            out.setdefault("merge.probe_hit_ratio", []).append(s.attrs["files_read"] / max(len(files), 1))
    return out
