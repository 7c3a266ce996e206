"""The workloads. Each drives ``oroboro_dw_dbt_spark`` through its
public calls, the way a user would, and is one closed loop with a
single client: the next unit starts when the previous one returns.

A workload has three phases:

- ``stage`` runs in every set-up, after the session starts: staging
  and warm-up, timed as part of ``setup_s``;
- ``unit`` is the timed unit of work (a warehouse refresh, a dedup
  chain) and returns a record of it;
- ``check`` runs after the clock stops and returns what it found wrong
  with the unit's outputs.
"""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

from stats import median
from tracing import Tracer


def noop(df) -> None:
    """Run the user's whole plan and discard the rows. ``count()`` would
    let Catalyst prune projected columns and time a smaller plan."""
    df.write.format("noop").mode("overwrite").save()


def oracle_hashes(data_dir: Path, names: dict[str, str]) -> dict[str, list]:
    """``table_hash`` of each DuckDB oracle statement over the generated
    tables, cached next to the data (the data of a seed never changes)."""
    import duckdb

    from check_correctness import table_hash
    from oroboro_dw_dbt_spark.sources.testdata import TABLES

    cache = data_dir / "oracle_hashes.json"
    known = json.loads(cache.read_text()) if cache.exists() else {}
    missing = {k: sql for k, sql in names.items() if k not in known}
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for key, sql in missing.items():
                cur = con.execute(sql)
                known[key] = list(table_hash([d[0] for d in cur.description], cur.fetchall()))
        finally:
            con.close()
        tmp = cache.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        tmp.rename(cache)
    return {k: known[k] for k in names}


def frame_hash(df) -> list:
    from check_correctness import table_hash

    return list(table_hash(df.columns, [tuple(r) for r in df.collect()]))


class Workload:
    name = ""
    unit_span = ""

    def __init__(self, data_dir: Path, run_dir: Path, tracer: Tracer) -> None:
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tracer = tracer
        self.sf_dir = str(data_dir)

    def session_conf(self) -> tuple[int | None, dict[str, str]]:
        """``(shuffle_partitions, extra_conf)`` for ``get_spark``."""
        return None, {}

    def stage(self, spark, sf_dir: str) -> None:
        self.sf_dir = sf_dir

    def unit(self, spark) -> dict:
        raise NotImplementedError

    def check(self, spark, rec: dict) -> list[str]:
        return []

    def report(self, rec: dict) -> dict[str, tuple[list[float], str, str]]:
        """Workload-specific end-to-end figures: name -> (samples, unit,
        better)."""
        return {}

    def layers(self, rec: dict) -> dict[str, float]:
        """Per-layer figures read off the unit record (traced run)."""
        return {}


class MartBuild(Workload):
    """The reference dbt-style DAG: 14 parquet fixture sources, two view
    models, the ``user_base`` table sink and its two data tests. One
    part of ``Warehouse``."""

    def stage(self, spark, sf_dir: str) -> None:
        from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

        super().stage(spark, sf_dir)
        self.warehouse = self.run_dir / "warehouse"
        # the first reference_graph call for an sf dir stages the fixtures
        with self.tracer.span("models.fixtures", job_group=True):
            reference_graph(spark, sf_dir, warehouse_dir=str(self.warehouse))

    def unit(self, spark) -> dict:
        from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

        t0 = time.perf_counter()
        graph = reference_graph(spark, self.sf_dir, warehouse_dir=str(self.warehouse))
        with self.tracer.span("dag.run"):
            results = graph.run(spark)
        wall = time.perf_counter() - t0
        self.graph = graph
        failed = sum(not r.tests_passed for r in results.values())
        return {"wall": wall, "ops": 1, "failed": int(failed > 0),
                "models": {n: r.seconds for n, r in results.items()}}

    def check(self, spark, rec: dict) -> list[str]:
        from oroboro_dw_dbt_spark.operators import QUERIES

        want = oracle_hashes(self.data_dir, {"ref_user_base": QUERIES["ref_user_base"].oracle})
        got = frame_hash(self.graph.frame("user_base"))
        if got != want["ref_user_base"]:
            return [f"user_base: hash/rows {got} != oracle {want['ref_user_base']}"]
        return []

    def report(self, rec):
        return {"mart_build_s": ([rec["wall"]], "s", "lower")}

    def layers(self, rec):
        return {f"dag.model.{model}_s": rec["models"].get(model, 0.0)
                for model in ("user_base", "stacked_users_partners", "locations_clean")}


class CorpusDedup(Workload):
    """The chained LLM-data pipeline through ``tools/pipeline_e2e.py``'s
    stage functions: quality filter, MinHash-LSH star dedup, greedy
    SemDeDup, shard packing."""

    name = "corpus_dedup"
    unit_span = "corpus.chain"

    def session_conf(self):
        import pipeline_e2e

        self.ckpt_level, extra, n_shuffle = pipeline_e2e.resolve_stage_confs(str(self.data_dir))
        return n_shuffle, dict(extra or {})

    def stage(self, spark, sf_dir: str) -> None:
        super().stage(spark, sf_dir)
        # warm-up: start the Python workers, as pipeline_e2e does
        with self.tracer.span("corpus.warmup", job_group=True):
            noop(spark.range(10_000).mapInPandas(lambda it: it, "id long"))

    def _ckpt(self, df):
        if self.ckpt_level == "disk":
            from pyspark.storagelevel import StorageLevel

            return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        return df.localCheckpoint(eager=True)

    def unit(self, spark) -> dict:
        import pipeline_e2e as pe

        span = self.tracer.span
        t0 = time.perf_counter()
        # each stage ends in an eager checkpoint, which runs the stage's
        # whole plan; the counts after it read the checkpoint
        with span("text.quality_filter", job_group=True):
            corpus = self._ckpt(pe.corpus_frame(spark, self.sf_dir))
            n_corpus = corpus.count()
        with span("dedup.minhash_lsh", job_group=True):
            verify, lsh_ckpt, _ = pe.resolve_lsh_spelling(corpus, n_corpus, self.ckpt_level)
            deduped = self._ckpt(pe.neardup_frame(corpus, n_corpus, verify, lsh_ckpt))
            n_deduped = deduped.count()
        with span("dedup.semdedup", job_group=True):
            v = pe.semantic_vectors(spark, self.sf_dir, deduped)
            sem, _ = pe.semantic_frame(v, v.count())
            final = self._ckpt(pe.final_frame(deduped, sem))
            n_final = final.count()
        with span("text.pack_shards", job_group=True):
            shards = pe.shards_frame(final)
            noop(shards)
        wall = time.perf_counter() - t0
        self.final, self.shards = final, shards
        return {"wall": wall, "ops": 1, "failed": 0,
                "counts": (n_corpus, n_deduped, n_final)}

    def check(self, spark, rec: dict) -> list[str]:
        bad = []
        # the first run of a seed in a checkout records its stage counts
        # next to the data; every later run of that seed must match them
        counts_file = self.data_dir / "corpus_counts.json"
        if not counts_file.exists():
            counts_file.write_text(json.dumps(rec["counts"]))
        first = tuple(json.loads(counts_file.read_text()))
        if rec["counts"] != first:
            bad.append(f"stage counts {rec['counts']} differ from an earlier run's {first}")
        docs = pq.read_table(self.data_dir / "documents.parquet", columns=["doc_id"])
        inputs = set(docs.column("doc_id").to_pylist())
        survivors = {r["doc_id"]: r["text"] for r in self.final.select("doc_id", "text").collect()}
        if not set(survivors) <= inputs:
            bad.append("survivors are not a subset of the input documents")
        shard_tokens = {r["doc_id"]: r["n_tokens"] for r in self.shards.collect()}
        want_tokens = {d: len(t.split()) for d, t in survivors.items()}
        if shard_tokens != want_tokens:
            bad.append("pack_shards tokens differ from the survivors' tokens")
        if len(survivors) != rec["counts"][2]:
            bad.append("survivor count differs from the checkpointed count")
        return bad

    def report(self, rec):
        n_docs = pq.read_metadata(self.data_dir / "documents.parquet").num_rows
        return {"corpus_docs_per_s": ([n_docs / rec["wall"]], "1/s", "higher")}

    def layers(self, rec):
        n_corpus, n_deduped, n_final = rec["counts"]
        return {"dedup.lsh_victims": n_corpus - n_deduped,
                "dedup.semantic_victims": n_deduped - n_final,
                "text.kept_docs": n_corpus}


class StreamUpsert(Workload):
    """``streaming.jobs.stream_upsert_latest`` with one file per trigger:
    every micro-batch reads and rewrites the latest-per-user table. One
    part of ``Warehouse``."""

    def stage(self, spark, sf_dir: str) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from oroboro_dw_dbt_spark.streaming import jobs

        super().stage(spark, sf_dir)
        with self.tracer.span("streaming.source_stage", job_group=True):
            self.source = Path(jobs._events_stream_dir(spark, sf_dir))
        progress: list[dict] = []
        done = threading.Event()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"ms": dict(p.durationMs), "rows_per_s": p.inputRowsPerSecond})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.set()

        spark.streams.addListener(Listener())
        self.progress, self.done = progress, done

    def unit(self, spark) -> dict:
        from oroboro_dw_dbt_spark.streaming.jobs import stream_upsert_latest

        base = self.run_dir / "stream"  # a reused base_dir resumes, so a fresh one
        self.progress.clear()
        self.done.clear()
        t0 = time.perf_counter()
        with self.tracer.span("stream.run"):
            out = stream_upsert_latest(spark, self.sf_dir, files_per_trigger=1, base_dir=str(base))
        wall = time.perf_counter() - t0
        # progress events arrive on the listener bus after the query ends
        self.done.wait(30)
        self.out = out
        batches = list(self.progress)
        return {"wall": wall, "ops": max(1, len(batches)), "failed": 0, "batches": batches}

    def check(self, spark, rec: dict) -> list[str]:
        oracle = (
            "SELECT user_id, event_id, ts, event_type, value FROM (SELECT *, row_number() "
            "OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
            "WHERE rn = 1"
        )
        want = oracle_hashes(self.data_dir, {"stream_latest": oracle})["stream_latest"]
        got = frame_hash(self.out)
        bad = [] if got == want else [f"latest_events: hash/rows {got} != oracle {want}"]
        files = len(list(self.source.glob("*.parquet")))
        if len(rec["batches"]) != files:
            bad.append(f"{len(rec['batches'])} micro-batches for {files} source files")
        return bad

    def report(self, rec):
        trig = [b["ms"].get("triggerExecution", 0) / 1e3 for b in rec["batches"]]
        n = pq.read_metadata(self.data_dir / "events.parquet").num_rows
        return {
            "upsert_batch_p50_s": (trig, "s", "lower"),
            "upsert_events_per_s": ([n / rec["wall"]], "1/s", "higher"),
        }

    def layers(self, rec):
        def total(key: str) -> float:
            return sum(b["ms"].get(key, 0) for b in rec["batches"]) / 1e3

        source_bytes = sum(p.stat().st_size for p in self.source.glob("*.parquet"))
        written = self.tracer.unit_sums(
            [(name, unit, v) for name, unit, v, under in self.tracer.counters
             if name == "table_format.bytes_written" and under == "stream.run"]
        ).get("table_format.bytes_written", 0.0)
        return {
            "stream.batches": len(rec["batches"]),
            "stream.add_batch_s": total("addBatch"),
            "stream.query_planning_s": total("queryPlanning"),
            "stream.wal_commit_s": total("walCommit"),
            "stream.latest_offset_s": total("latestOffset"),
            "stream.input_rows_per_s": median([b["rows_per_s"] for b in rec["batches"]] or [0.0]),
            "table_format.write_amp": written / source_bytes,
        }


class Warehouse(Workload):
    """A warehouse refresh: the mart build, then the stream upsert, as
    one unit. Both write through ``engine.table_format`` in opposite
    ways (one large write; many small read-then-rewrite commits), so a
    write-path change that helps one and hurts the other shows in the
    trace. They share a process so the run pays one JVM start."""

    name = "warehouse"
    unit_span = "warehouse.refresh"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.parts = (MartBuild(*args), StreamUpsert(*args))

    def stage(self, spark, sf_dir: str) -> None:
        for part in self.parts:
            part.stage(spark, sf_dir)

    def unit(self, spark) -> dict:
        t0 = time.perf_counter()
        recs = [part.unit(spark) for part in self.parts]
        return {"wall": time.perf_counter() - t0, "ops": sum(r["ops"] for r in recs),
                "failed": sum(r["failed"] for r in recs), "parts": recs}

    def check(self, spark, rec):
        return [p for part, r in zip(self.parts, rec["parts"]) for p in part.check(spark, r)]

    def report(self, rec):
        return {k: v for part, r in zip(self.parts, rec["parts"]) for k, v in part.report(r).items()}

    def layers(self, rec):
        return {k: v for part, r in zip(self.parts, rec["parts"]) for k, v in part.layers(r).items()}


WORKLOADS = {w.name: w for w in (Warehouse, CorpusDedup)}
