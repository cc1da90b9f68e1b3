"""The benchmark workloads: set-up, one timed round, untimed checks.

Each workload is a closed loop with one client: the next operation
starts when the previous one has finished. ``setup`` makes the seeded
inputs and pays first-touch costs (artifact builds, JIT, parquet
footers) outside the timed region; ``round`` runs the workload once
and returns its operations as ``Op`` records; ``verify`` checks the
outputs of the last round against known answers and returns
``(checks, failures, messages)``.

Tracing is the ``Tracer`` passed in: with it disabled every ``span``
only yields, so the untraced path does the same work.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import NamedTuple

from datagen import (
    ANALYTICS_SIZES,
    FUNNEL_COUNTS,
    batch_ids,
    entry_order,
    repo_fanout,
    write_tables,
)

#: Oracle-checked registry entries the ``analytics`` workload runs. A
#: pass over all 158 entries takes ~110 s on a 4-core host at sf0.001
#: size, which does not fit one run. These eight cover the relational
#: (TPC-H join), streaming, dedup/artifact, decontam, splits, curation
#: funnel, packing and sharding families, the text functions through
#: the decontam, near-dup, funnel and packing entries, and every layer
#: the ``databuild`` workload drives (curation.*,
#: operators.decontam/splits/packing/sharding).
ANALYTICS_ENTRIES = (
    "train_shard_manifest",
    "market_share_q8",
    "decontam_overlap",
    "stream_sessionization",
    "neardup_jaccard_pairs",
    "leakage_safe_splits",
    "curation_funnel_report",
    "seq_packing_manifest",
)

#: Registry entries whose row counts give the near-dup wasted-work
#: ratio: verified pairs per LSH candidate pair.
CANDIDATES_ENTRY = "minhash_lsh_candidates"
VERIFIED_ENTRY = "neardup_jaccard_pairs"

#: Public product functions each traced run wraps in a span, by layer.
LAYER_FUNCTIONS = {
    "sources.load_table": ("github_data_pipeline_spark.sources.tables", "load_table"),
    "sources.json_write": ("github_data_pipeline_spark.sources.sinks", "write_json_artifact"),
    "sources.catalog_scan": ("github_data_pipeline_spark.sources.catalog", "scan_catalog"),
    "sources.table_write": ("github_data_pipeline_spark.sources.sinks", "write_table"),
    "pipeline.register_views": ("github_data_pipeline_spark.pipeline", "register_views"),
    "operators.linkers": ("github_data_pipeline_spark.operators.linkers", (
        "find_prs_with_linked_issues", "find_issues_closed_by_commits",
        "find_cross_repo_links")),
    "operators.ingest": ("github_data_pipeline_spark.operators.ingest", (
        "split_issues_feed", "enrich_commit_files", "normalize_repo_meta")),
    "operators.blame": ("github_data_pipeline_spark.operators.blame", "blame_file_rollup"),
    "curation.curate": ("github_data_pipeline_spark.curation", (
        "curate", "clean_stage", "language_stage", "quality_stage",
        "repetition_stage", "neardup_drop_stage")),
    "curation.funnel_report": ("github_data_pipeline_spark.curation", (
        "funnel_report", "funnel_survivor_counts")),
    "operators.decontam": ("github_data_pipeline_spark.operators.decontam", (
        "decontaminate", "contamination_report")),
    "operators.splits": ("github_data_pipeline_spark.operators.splits", (
        "assign_leakage_safe_splits", "update_splits")),
    "operators.packing": ("github_data_pipeline_spark.operators.packing", "pack_sequences"),
    "operators.sharding": ("github_data_pipeline_spark.operators.sharding", (
        "write_shards", "assign_shards", "shard_manifest")),
    "plans.artifact": ("github_data_pipeline_spark.plans.dedup_plans", "verified_pair_artifact"),
}


def patch_layers(tracer) -> None:
    """Wrap every function of ``LAYER_FUNCTIONS`` in its span."""
    import importlib

    for span, (mod_name, attrs) in LAYER_FUNCTIONS.items():
        mod = importlib.import_module(mod_name)
        for attr in (attrs,) if isinstance(attrs, str) else attrs:
            tracer.patch(getattr(mod, attr), span)


def drop_leftover_rdd_blocks(spark) -> None:
    """Unpersist RDDs cached or checkpointed by the operation that just
    finished, outside the timed region (bench.py does the same)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


class Op(NamedTuple):
    name: str
    secs: float
    error: str | None
    latency: bool  # counts toward op_geomean_s, op_p50_s and op_p90_s


def timed(name: str, fn, latency: bool = True) -> Op:
    t0 = time.perf_counter()
    try:
        fn()
        err = None
    except Exception as e:  # an operation failure is counted, not fatal
        err = f"{type(e).__name__}: {str(e)[:300]}"
    return Op(name, time.perf_counter() - t0, err, latency)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Analytics:
    """Oracle-checked registry entries, one after another, in a seeded
    order over seeded sf0.001-sized tables; each operation is one
    builder call plus collecting its rows, which ``verify`` checks."""

    name = "analytics"
    min_rounds = 2

    def __init__(self, spark, tracer, work: str, seed: int):
        from github_data_pipeline_spark.plans import all_plans

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf_dir = os.path.join(work, "sf")
        registry = all_plans()
        missing = [n for n in ANALYTICS_ENTRIES if n not in {q.name for q in registry}]
        if missing:
            raise SystemExit(f"registry entries gone: {missing}")
        self.entries = [registry[n] for n in entry_order(seed, list(ANALYTICS_ENTRIES))]
        self.output_dir = None
        self.results = {}  # entry name -> (columns, rows) of the last round

    def inputs(self) -> dict:
        rows = write_tables(self.sf_dir, self.seed, ANALYTICS_SIZES)
        return {"rows": sum(rows.values()), "bytes": dir_stats(self.sf_dir)[1]}

    def setup(self) -> None:
        for q in self.entries:
            q.builder(self.spark, self.sf_dir).collect()
            drop_leftover_rdd_blocks(self.spark)

    def round(self) -> list:
        ops = []
        for q in self.entries:
            tag = "streaming" if "streaming" in q.tags else ""

            def op(q=q, tag=tag):
                with self.tracer.span("plans.build", tag):
                    df = q.builder(self.spark, self.sf_dir)
                with self.tracer.span("plans.exec", tag):
                    rows = [tuple(r) for r in df.collect()]
                self.results[q.name] = (df.columns, rows)

            ops.append(timed(q.name, op))
            drop_leftover_rdd_blocks(self.spark)
        return ops

    def verify(self) -> tuple[int, int, list]:
        import duckdb

        from github_data_pipeline_spark.testing import (
            diff_frames,
            register_duckdb_views,
            run_oracle,
        )

        con = duckdb.connect()
        register_duckdb_views(con, self.sf_dir)
        bad = []
        for q in self.entries:
            if q.name not in self.results:
                bad.append(f"{q.name}: no result")
                continue
            cols, rows = self.results[q.name]
            if q.name == "curation_funnel_report":
                # the oracle's answer for the fixed corpus (datagen)
                o_cols, o_rows = ["stage_idx", "stage", "survivors"], FUNNEL_COUNTS
            else:
                o_cols, o_rows = run_oracle(con, q.oracle)
            diff = diff_frames(cols, rows, o_cols, o_rows)
            if diff:
                bad.append(f"{q.name}: {diff}")
        con.close()
        return len(self.entries), len(bad), bad


class GhEtl:
    """The GitHub retrieval -> indexing -> scenarios workflow over K
    seeded synthetic repos: per repo ``process_repo`` and its JSON
    artifacts (one operation each), then ``scan_catalog`` -> parquet
    warehouse -> ``register_views`` -> the nine scenarios."""

    name = "gh_etl"
    # two rounds of two repos: run_s is a median of two rounds and each
    # repo's retrieval is timed twice
    min_rounds = 2
    repos = 2

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work = work
        self.output_dir = os.path.join(work, "out")
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.fixture_dir = os.path.join(here, "testdata_domain")
        self.answers = None
        # every repo has the fixture's schemas: inferred once, in set-up
        self.raw_schemas = {}

    def inputs(self) -> dict:
        raw = os.path.join(self.work, "raw")
        rows = repo_fanout(self.fixture_dir, raw, self.seed, self.repos)
        # distinct seeded repos for the untimed warm round
        warm_raw = os.path.join(self.work, "raw_warm")
        warm = repo_fanout(self.fixture_dir, warm_raw, self.seed + 10**6, self.repos)
        self.repo_list = sorted(rows)
        self.warm_list = sorted(warm)
        return {"rows": sum(rows.values()), "bytes": dir_stats(raw)[1]}

    def setup(self) -> None:
        warm_raw = os.path.join(self.work, "raw_warm")
        self._run(warm_raw, self.warm_list, os.path.join(self.work, "warm_out"))

    def round(self) -> list:
        shutil.rmtree(self.output_dir, ignore_errors=True)
        raw = os.path.join(self.work, "raw")
        return self._run(raw, self.repo_list, self.output_dir)

    def _run(self, raw_dir: str, repos: list, out: str) -> list:
        from github_data_pipeline_spark.pipeline import (
            process_repo,
            register_views,
            write_repo_tables,
        )
        from github_data_pipeline_spark.sources.catalog import discover_repos, scan_catalog
        from github_data_pipeline_spark.sources.sinks import write_json_artifact

        spark, span = self.spark, self.tracer.span
        catalog = os.path.join(out, "catalog")
        ops = []
        for repo in repos:
            d = repo.replace("/", "_")

            def retrieve(d=d, repo=repo):
                with span("sources.raw_read"):
                    src = os.path.join(raw_dir, d)
                    raw = {}
                    for f in sorted(os.listdir(src)):
                        name, path = f[: -len(".parquet")], os.path.join(src, f)
                        if name not in self.raw_schemas:
                            self.raw_schemas[name] = spark.read.parquet(path).schema
                        raw[name] = spark.read.schema(self.raw_schemas[name]).parquet(path)
                with span("pipeline.process_repo"):
                    tables = process_repo(raw, repo)
                for name in sorted(tables):
                    write_json_artifact(tables[name], os.path.join(catalog, d, name))
                drop_leftover_rdd_blocks(spark)

            ops.append(timed(f"retrieve:{repo}", retrieve))

        def index_and_query():
            names = sorted(
                {t for d in discover_repos(catalog) for t in os.listdir(os.path.join(catalog, d))}
            )
            frames = {name: scan_catalog(spark, catalog, name, fmt="json") for name in names}
            paths = write_repo_tables(frames, os.path.join(out, "warehouse"))
            register_views(spark, {n: spark.read.parquet(p) for n, p in paths.items()})
            with span("pipeline.scenario"):
                self.answers = {
                    n: sorted(tuple(r) for r in spark.sql(sql).collect())
                    for n, sql in SCENARIOS.items()
                }

        ops.append(timed("index_and_scenarios", index_and_query, latency=False))
        return ops

    def verify(self) -> tuple[int, int, list]:
        want = expected_answers(self.repo_list)
        bad = [
            f"{n}: got {self.answers.get(n) if self.answers else None} want {w}"
            for n, w in want.items()
            if not self.answers or self.answers.get(n) != w
        ]
        return len(want), len(bad), bad


#: The nine golden scenarios, each answered per repo in one query.
SCENARIOS = {
    "s1_open_vs_closed": "SELECT repo_name, COUNT(*), SUM(IF(state = 'open', 1, 0)), SUM(IF(state = 'closed', 1, 0)) FROM issues GROUP BY repo_name",
    "s2_comments_issue_25": "SELECT repo_name, comments FROM issues WHERE number = 25",
    "s3_distinct_authors": "SELECT repo_name, COUNT(DISTINCT user.login) FROM issues GROUP BY repo_name",
    "s4_pr_fixing_155": "SELECT DISTINCT repo_name, pr_number FROM pr_links WHERE referenced_repo = repo_name AND issue_number = 155",
    "s5_commits_closing_133": "SELECT repo_name, commit_sha FROM issues_closed_by_commits WHERE referenced_repo = repo_name AND issue_number = 133",
    "s6_cross_repo_hotspots": "SELECT repo_name, target.repo_name, COUNT(*) FROM cross_repo_links GROUP BY 1, 2",
    "s7_commit_time_range": "SELECT repo_name, MIN(commit.author.date), MAX(commit.author.date) FROM commits GROUP BY repo_name",
    "s8_links_by_source_type": "SELECT repo_name, target.repo_name, SUM(IF(source.type = 'issue', 1, 0)), SUM(IF(source.type = 'pull_request', 1, 0)) FROM cross_repo_links GROUP BY 1, 2",
    "s9_lifecycle_coverage": (
        "SELECT p.repo_name, p.n, c.n FROM "
        "(SELECT repo_name, COUNT(DISTINCT issue_number) AS n FROM pr_links WHERE referenced_repo = repo_name GROUP BY repo_name) p "
        "JOIN (SELECT repo_name, COUNT(DISTINCT issue_number) AS n FROM issues_closed_by_commits WHERE referenced_repo = repo_name GROUP BY repo_name) c "
        "ON p.repo_name = c.repo_name"
    ),
}


def expected_answers(repos: list) -> dict:
    """Golden answers of the fixture repo (tests/test_github_domain.py,
    tests/test_pipeline_e2e.py), repeated for every synthetic repo."""
    per_repo = {
        "s1_open_vs_closed": lambda r: [(r, 8, 4, 4)],
        "s2_comments_issue_25": lambda r: [(r, 1)],
        "s3_distinct_authors": lambda r: [(r, 7)],
        "s4_pr_fixing_155": lambda r: [(r, 104)],
        "s5_commits_closing_133": lambda r: [(r, "c7"), (r, "c8")],
        "s6_cross_repo_hotspots": lambda r: [(r, "ext/lib", 1), (r, "other/repo", 2)],
        "s7_commit_time_range": lambda r: [(r, "2014-12-01T03:00:00Z", "2024-08-23T16:24:18Z")],
        "s8_links_by_source_type": lambda r: [(r, "ext/lib", 1, 0), (r, "other/repo", 1, 1)],
        "s9_lifecycle_coverage": lambda r: [(r, 5, 3)],
    }
    return {n: sorted(row for r in repos for row in f(r)) for n, f in per_repo.items()}


class Databuild:
    """``run_databuild.build`` over sf0.001-sized seeded documents minus
    a seeded ~10% batch, then ``incremental_update`` folding the batch
    back in; the two calls are the workload's operations."""

    name = "databuild"
    min_rounds = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf_dir = os.path.join(work, "sf")
        self.output_dir = os.path.join(work, "out")
        self.reports = {}

    def inputs(self) -> dict:
        import pyarrow.parquet as pq

        rows = write_tables(self.sf_dir, self.seed, ANALYTICS_SIZES)
        docs = os.path.join(self.sf_dir, "documents.parquet")
        ids = pq.read_table(docs, columns=["doc_id"]).column(0).to_pylist()
        self.batch = batch_ids(self.seed, ids)
        return {
            "rows": rows["documents"],
            "bytes": os.path.getsize(docs),
            "batch_docs": len(self.batch),
        }

    def setup(self) -> None:
        # the near-dup pair artifact both phases read, built untimed
        from github_data_pipeline_spark.plans.dedup_plans import verified_pair_artifact

        verified_pair_artifact(self.spark, self.sf_dir).count()
        drop_leftover_rdd_blocks(self.spark)

    def round(self) -> list:
        import run_databuild
        from pyspark.sql import functions as F

        shutil.rmtree(self.output_dir, ignore_errors=True)
        in_batch = F.col("doc_id").isin(self.batch)
        ops = []
        spark, sf_dir, out = self.spark, self.sf_dir, self.output_dir
        for phase, call in (
            ("build", lambda: run_databuild.build(spark, sf_dir, out, 4, doc_filter=~in_batch)),
            ("update", lambda: run_databuild.incremental_update(spark, sf_dir, out, in_batch)),
        ):
            def op(phase=phase, call=call):
                with self.tracer.span(f"databuild.{phase}"):
                    self.reports[phase] = call()

            ops.append(timed(phase, op))
            drop_leftover_rdd_blocks(self.spark)
            if ops[-1].error:
                break
        return ops

    def verify(self) -> tuple[int, int, list]:
        build, update = self.reports.get("build"), self.reports.get("update")
        checks = [
            ("build_report", build is not None),
            ("update_report", update is not None),
        ]
        for name, rep in (("build", build), ("update", update)):
            for k, v in (rep or {}).items():
                if "_covers_" in k:
                    checks.append((f"{name}.{k}", v is True))
        funnel = os.path.join(self.output_dir, "funnel.json")
        counts = []
        if os.path.exists(funnel):
            with open(funnel) as f:
                counts = [n for _name, n in json.load(f)]
        monotone = all(a >= b for a, b in zip(counts, counts[1:]))
        checks.append(("funnel_monotone", bool(counts) and monotone and counts[-1] > 0))
        if update is not None and build is not None:
            grows = update["final_docs"] >= build["final_docs"]
            checks.append(("update_grows_corpus", grows))
        bad = [name for name, ok in checks if not ok]
        return len(checks), len(bad), bad


WORKLOADS = {w.name: w for w in (Analytics, GhEtl, Databuild)}
