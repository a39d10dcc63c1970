"""corpus_lifecycle: LLM-corpus curation, then churn on the committed
table.

Phase 1 (``batch_s``, the mean of ``CURATIONS`` runs):
``llm_jobs.run_llm_pipeline`` over the seeded crawl — LSH near-dup signals, dup clusters, the committed
``corpus`` table, leakage-free splits, the frozen txn, and the
registered MV + value index.

Phase 2 (the measured loop): seeded churn batches committed to the
``corpus`` table — ``upsert_parquet`` for re-crawls and appends,
``delete_keys_mor`` for deletes. Every commit is followed by
two ``read_table_point`` doc_id lookups, and every ``MAINTAIN_EVERY``
commits by ``maintain_artifacts`` on the registry and
``maintain_table`` on the corpus. A Python model of the table
(doc_id -> row) checks every point read and the final table.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import canon, frame_rows, mean, pct, tree_bytes, tree_files
from etl import pipeline_metrics
from tools.check_oracle import compare

N_DOCS = 1000
N_WARM_DOCS = 100
BATCH_ROWS = 50
MIN_COMMITS = 20  # two whole blocks of the churn mix
# one curation alone spread ~20% from run to run; a third run cost more
# than the run budget leaves
CURATIONS = 2
MAINTAIN_EVERY = 10
KEY = ["doc_id"]


def _keepers(rows: list[tuple]) -> dict[int, tuple]:
    """The curated corpus the pipeline must commit: one keeper (the
    lowest doc_id) per exact text."""
    first: dict[str, tuple] = {}
    for r in rows:
        h = hashlib.md5(r[2].encode()).hexdigest()
        if h not in first or r[0] < first[h][0]:
            first[h] = r
    return {r[0]: r for r in first.values()}


class Corpus:
    name = "corpus_lifecycle"

    def __init__(self, run) -> None:
        self.run = run
        self.commit_lat: list[float] = []
        self.read_lat: list[float] = []
        self.maint_lat: list[float] = []
        self.curation_lat: list[float] = []
        self.after_maint = False
        self.stalls: list[float] = []  # latency of each commit right after maintenance
        self.seen: set[str] = set()

    def generate(self) -> None:
        os.makedirs(self.run.work, exist_ok=True)
        self.rows = gen.make_corpus(self.run.seed, max(200, int(self.run.scale * N_DOCS)))
        self.docs = os.path.join(self.run.work, "docs.parquet")
        pq.write_table(gen.corpus_table(self.rows), self.docs)
        warm = gen.make_corpus(self.run.seed + 1, N_WARM_DOCS)
        self.warm_docs = os.path.join(self.run.work, "warm_docs.parquet")
        pq.write_table(gen.corpus_table(warm), self.warm_docs)

    # -- phase 1 -----------------------------------------------------------
    def _curate(self, spark, docs_path: str, out: str, rec: dict) -> float:
        from prox_spark.llm_jobs import run_llm_pipeline

        tracer = self.run.tracer
        with tracer.span("pipeline.run_llm_pipeline") as s:
            t0 = time.perf_counter()
            res = run_llm_pipeline(spark, spark.read.parquet(docs_path), out)
            dt = time.perf_counter() - t0
        bad = {k: r.error for k, r in res.items() if r.status != "succeeded"}
        self.run.check(not bad, f"run_llm_pipeline stage failures: {bad}")
        if not bad:
            cross = res["splits"].output["cross_split_pairs"]
            self.run.check(cross == 0, f"cross_split_pairs = {cross}")
        rec["run_s"] = dt
        rec["stage_s"] = {k: r.duration_s for k, r in res.items()}
        rec["attempts"] = [r.attempts for r in res.values()]
        if tracer.enabled:
            tracer.child_spans(s, [(f"pipeline.{k}", d) for k, d in rec["stage_s"].items()])
            files = tree_files(out)
            rec["bytes_written"] = sum(files.values())
            rec["files_written"] = len(files)
        return dt

    def warm_up(self, spark) -> float:
        """Run every code path of the measured loop once in this JVM:
        curate a small crawl while, side by side, a plain copy of it
        takes a maintenance cycle of churn; then one commit and one full
        maintenance (MV + value index refresh) on the curated copy."""
        out = os.path.join(self.run.work, "warm")
        plain = os.path.join(self.run.work, "warm_plain")
        live = _keepers(gen.make_corpus(self.run.seed + 1, N_WARM_DOCS))
        t0 = time.perf_counter()
        with ThreadPoolExecutor(2) as pool:
            curated = pool.submit(self._curate, spark, self.warm_docs, out, {})
            churned = pool.submit(self._warm_churn, spark, plain, dict(live))
            curated.result()
            churned.result()
        stream = gen.ChurnStream(self.run.seed + 2, live, BATCH_ROWS)
        self._churn_once(spark, os.path.join(out, "corpus"), stream, live, "warm", untimed=True)
        self._maintain(spark, out)
        return time.perf_counter() - t0

    def _warm_churn(self, spark, table: str, live: dict) -> None:
        from prox_spark.table import commit_snapshot, maintain_table

        commit_snapshot(spark, table, spark.read.parquet(self.warm_docs),
                        stat_cols=KEY, n_files=4)
        stream = gen.ChurnStream(self.run.seed + 1, live, BATCH_ROWS)
        for kind in ("upsert", "append", "delete"):
            self._churn_once(spark, table, stream, live, f"plain{kind}", untimed=True, kind=kind)
        maintain_table(spark, table, retention_minutes=0.0)

    # -- phase 2 -----------------------------------------------------------
    def _commit(self, spark, table: str, kind: str, batch: str, n_rows: int) -> None:
        from prox_spark.upsert import delete_keys_mor, upsert_parquet

        df = spark.read.parquet(batch)
        if kind == "delete":
            n = delete_keys_mor(spark, table, df, KEY)
            self.run.check(n == n_rows, f"delete_keys_mor removed {n} of {n_rows} live keys")
        else:
            upsert_parquet(spark, table, df, KEY)

    def _point_read(self, spark, table: str, key: int, live: dict) -> tuple[float, bool]:
        from prox_spark.table import read_table_point

        t0 = time.perf_counter()
        rows = read_table_point(spark, table, {"doc_id": key}).collect()
        dt = time.perf_counter() - t0
        want = [live[key]] if key in live else []
        return dt, canon(rows) == canon(want)

    def _maintain(self, spark, out: str) -> None:
        from prox_spark.artifacts import maintain_artifacts
        from prox_spark.table import maintain_table

        maintain_artifacts(spark, os.path.join(out, "registry"))
        # one writer and no concurrent readers: no grace period needed
        maintain_table(spark, os.path.join(out, "corpus"), retention_minutes=0.0)

    def _churn_once(self, spark, table, stream, live, tag, untimed=False, kind=None) -> None:
        """One commit of the next change batch, then its point reads:
        one key of the batch (a read of one's own write, or of a
        delete) and one live key."""
        from prox_spark.table import read_manifest

        tracer = self.run.tracer
        kind, rows = stream.next(kind)
        batch = os.path.join(self.run.work, f"batch_{tag}.parquet")
        if kind == "delete":
            pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64())}), batch)
        else:
            pq.write_table(gen.corpus_table(rows), batch)
        trace = tracer.enabled and not untimed
        if trace:
            before_files = set(read_manifest(spark, table)["files"])
            if kind != "append":
                newest_hits = self._newest_file_hits(table, before_files, rows)
        if untimed:
            self._commit(spark, table, kind, batch, len(rows))
        else:
            with tracer.op("commit", kind) as rec:
                t0 = time.perf_counter()
                self._commit(spark, table, kind, batch, len(rows))
                dt = time.perf_counter() - t0
            self.commit_lat.append(dt)
            self.run.count_op()
            if self.after_maint:
                self.stalls.append(dt)
                self.after_maint = False
        for r in rows:
            if kind == "delete":
                live.pop(r[0])
            else:
                live[r[0]] = r
        if trace:
            rec["batch_bytes"] = os.path.getsize(batch)
            rec["rows_changed"] = len(rows)
            after = read_manifest(spark, table)["files"]
            added = [f for f in after if f not in before_files]
            rec["files_rewritten"] = len(before_files - set(after))
            rec["rows_written"] = sum(
                pq.ParquetFile(os.path.join(table, f)).metadata.num_rows for f in added
            )
            rec["new_bytes"] = self._new_bytes(table)
            if kind != "append":
                rec["keys_in_newest_file"] = newest_hits
        os.remove(batch)
        rng = random.Random(f"{self.run.seed}:{tag}")
        for k in (rng.choice(rows)[0], rng.choice(sorted(live))):
            if untimed:
                self._point_read(spark, table, k, live)
                continue
            with tracer.op("point_read", str(k)):
                dt, ok = self._point_read(spark, table, k, live)
            self.read_lat.append(dt)
            self.run.check(ok, f"point read of doc_id {k} disagrees with the model")

    @staticmethod
    def _newest_file_hits(table: str, files: set[str], rows: list[tuple]) -> int:
        """How many of the batch's keys sit in the most recently written
        live data file: how much the recency skew lands on one file."""
        newest = max(files, key=lambda f: os.path.getmtime(os.path.join(table, f)))
        ids = pq.read_table(os.path.join(table, newest), columns=["doc_id"])["doc_id"]
        ids = set(ids.to_pylist())
        return sum(r[0] in ids for r in rows)

    def _new_bytes(self, table: str) -> int:
        """Bytes of files under ``table`` not seen at an earlier call."""
        files = tree_files(table)
        new = sum(s for p, s in files.items() if p not in self.seen)
        self.seen.update(files)
        return new

    def measure(self, spark, seconds: float) -> None:
        """Curation CURATIONS times, then churn on the last one's table
        for ``seconds`` and at least MIN_COMMITS commits."""
        for i in range(CURATIONS):
            out = os.path.join(self.run.work, f"curated{i}")
            with self.run.tracer.op("curation", f"run_llm_pipeline{i}") as rec:
                self.curation_lat.append(self._curate(spark, self.docs, out, rec))
            self.run.count_op()
        self.out = out
        table = os.path.join(out, "corpus")
        self.live = _keepers(self.rows)
        stream = gen.ChurnStream(self.run.seed, self.live, BATCH_ROWS)
        self.seen = set(tree_files(table))
        i = 0
        deadline = time.perf_counter() + seconds
        while i < MIN_COMMITS or time.perf_counter() < deadline:
            self._churn_once(spark, table, stream, self.live, str(i))
            i += 1
            if i % MAINTAIN_EVERY == 0:
                with self.run.tracer.op("maintain", str(i)) as rec:
                    t0 = time.perf_counter()
                    self._maintain(spark, out)
                    dt = time.perf_counter() - t0
                self.maint_lat.append(dt)
                self.run.count_op()
                self.after_maint = True
                if self.run.tracer.enabled:
                    rec["new_bytes"] = self._new_bytes(table)

    def end_to_end(self) -> dict:
        return {"batch_s": mean(self.curation_lat)}

    def op_latencies(self) -> list[float]:
        return self.commit_lat

    def busy_s(self) -> float:
        return sum(self.commit_lat) + sum(self.read_lat) + sum(self.maint_lat)

    def gate(self, spark) -> None:
        """The final table equals the model, and the MV's served answer
        equals DuckDB's aggregate over that final table."""
        from prox_spark.mv import read_mv_current
        from prox_spark.table import read_table

        self.final = final = read_table(spark, os.path.join(self.out, "corpus")).toPandas()
        self.run.check(
            canon(frame_rows(final[["doc_id", "source", "text", "n_chars"]]))
            == canon(self.live.values()),
            f"final corpus ({len(final)} rows) disagrees with the model ({len(self.live)} rows)",
        )
        served = read_mv_current(spark, os.path.join(self.out, "mv_source_chars")).toPandas()
        con = duckdb.connect()
        con.register("corpus", final)
        want = con.execute(
            "SELECT source, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_n_chars FROM corpus GROUP BY source"
        ).df()
        problems = compare("mv_source_chars", served, want)
        self.run.check(not problems, f"MV vs DuckDB: {problems[:3]}")

    def per_layer(self, ops: list[dict], spark) -> dict:
        from prox_spark.table import MANIFEST_DIR, read_manifest

        out = pipeline_metrics([r for r in ops if "stage_s" in r])
        commits = [r for r in ops if r["kind"] == "commit"]
        maints = [r for r in ops if r["kind"] == "maintain"]
        table = os.path.join(self.out, "corpus")
        changed = sum(r["rows_changed"] for r in commits)
        churn_bytes = sum(r["new_bytes"] for r in commits + maints)
        out["write_amp"] = churn_bytes / max(1, sum(r["batch_bytes"] for r in commits))
        # the final live rows (as the gate read them) in one plain parquet
        # file: no per-file overhead, bloom filter or manifest
        fresh = os.path.join(self.run.work, "fresh.parquet")
        pq.write_table(pa.Table.from_pandas(self.final, preserve_index=False), fresh)
        out["space_amp"] = tree_bytes(table) / os.path.getsize(fresh)
        live_files = len(read_manifest(spark, table)["files"])
        out["point_read_p50_s"] = statistics.median(self.read_lat)
        out["point_read_p90_s"] = pct(self.read_lat, 90)
        out["upsert.files_rewritten"] = mean([r["files_rewritten"] for r in commits])
        keyed = [r for r in commits if "keys_in_newest_file" in r]
        out["upsert.newest_file_key_share"] = (
            sum(r["keys_in_newest_file"] for r in keyed) / max(1, sum(r["rows_changed"] for r in keyed))
        )
        out["upsert.rows_rewritten_per_row_changed"] = (
            sum(r["rows_written"] for r in commits) / max(1, changed)
        )
        out["maintain.s"] = mean([r["wall_s"] for r in maints])
        out["maintain.bytes_rewritten"] = mean([r["new_bytes"] for r in maints])
        med = statistics.median(self.commit_lat)
        out["maintain.stall_s"] = mean([s - med for s in self.stalls])
        out["table.manifest_files"] = len(os.listdir(os.path.join(table, MANIFEST_DIR)))
        out["table.live_files"] = live_files
        return out
