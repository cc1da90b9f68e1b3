"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench/tests -q

``fixtures/eventlog_v2_local-1`` is a two-file rolling event log in the
Spark 4 JSON layout: job 0 in span ``plans.exec#1`` runs one of its two
planned stages (2 tasks, shuffle write and spill); job 1 is untagged
and has one failed and one successful task that reads shuffle data and
writes output.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402

LOG = os.path.join(HERE, "fixtures", "eventlog_v2_local-1")


def test_rolling_files_read_in_index_order():
    assert [os.path.basename(f) for f in eventlog.log_files(LOG)] == [
        "events_1_local-1",
        "events_2_local-1",
    ]
    # the log dir (one application inside) resolves to the same files
    assert eventlog.log_files(os.path.dirname(LOG)) == eventlog.log_files(LOG)


def test_counters_attributed_by_job_group():
    spans = eventlog.parse(LOG)
    tagged = spans["plans.exec#1"]
    assert (tagged["jobs"], tagged["stages"], tagged["stages_listed"]) == (1, 1, 2)
    assert (tagged["tasks"], tagged["failed_tasks"]) == (2, 0)
    assert tagged["executor_run_s"] == pytest.approx(0.8)
    assert tagged["gc_s"] == pytest.approx(0.03)
    assert tagged["task_wait_s"] == pytest.approx(0.3)  # launches 100 + 200 ms after submit
    assert tagged["shuffle_write_mb"] == pytest.approx(2.0)
    assert tagged["spill_mb"] == pytest.approx(2.0)  # memory + disk
    assert tagged["task_skew"] == pytest.approx(1.5)  # 600 ms / median 400 ms

    other = spans[eventlog.UNTAGGED]
    assert (other["tasks"], other["failed_tasks"]) == (2, 1)
    assert other["shuffle_read_mb"] == pytest.approx(6.0)  # local + remote
    assert other["output_mb"] == pytest.approx(3.0)
    assert other["task_skew"] == pytest.approx(300 / 175)


def test_totals_and_skipped_ratio():
    total = eventlog.parse(LOG)["*"]
    assert (total["jobs"], total["stages"], total["tasks"]) == (2, 2, 4)
    assert total["executor_run_s"] == pytest.approx(1.15)
    assert total["task_skew"] == pytest.approx(300 / 175)  # worst stage
    assert eventlog.skipped_ratio(total) == pytest.approx(1 / 3)


def test_window_keeps_only_jobs_submitted_in_it():
    # job 0 is submitted at 1000 ms, job 1 at 2000 ms
    spans = eventlog.parse(LOG, window_ms=(1500, 2500))
    assert "plans.exec#1" not in spans
    total = spans["*"]
    assert (total["jobs"], total["stages"], total["tasks"]) == (1, 1, 2)
    assert total["output_mb"] == pytest.approx(3.0)


def test_tables_are_a_function_of_the_seed(tmp_path):
    sizes = dict(datagen.ANALYTICS_SIZES, orders=50, events=40, documents=40, embeddings=8)
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows = datagen.write_tables(a, 7, sizes)
    datagen.write_tables(b, 7, sizes)
    datagen.write_tables(c, 8, sizes)
    assert rows["lineitem"] == 200 and rows["nation"] == 25
    for t in rows:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
    docs = pq.read_table(os.path.join(c, "documents.parquet")).to_pydict()
    assert docs != pq.read_table(os.path.join(a, "documents.parquet")).to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_documents_are_the_fixed_corpus_in_seeded_order(tmp_path):
    sizes = dict(datagen.ANALYTICS_SIZES, orders=50, events=40, embeddings=8)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    datagen.write_tables(a, 1, sizes)
    datagen.write_tables(b, 2, sizes)
    da = pq.read_table(os.path.join(a, "documents.parquet")).to_pylist()
    db = pq.read_table(os.path.join(b, "documents.parquet")).to_pylist()
    assert da != db
    assert sorted(da, key=lambda r: r["doc_id"]) == sorted(db, key=lambda r: r["doc_id"])


def test_funnel_counts_are_the_oracle_answer(tmp_path):
    """FUNNEL_COUNTS is what the curation funnel's DuckDB oracle gives
    on the fixed corpus (takes ~45 s on a 4-core host)."""
    duckdb = pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.testing import register_duckdb_views, run_oracle

    datagen.write_tables(str(tmp_path), 5, datagen.ANALYTICS_SIZES)
    con = duckdb.connect()
    register_duckdb_views(con, str(tmp_path))
    cols, rows = run_oracle(con, all_plans()["curation_funnel_report"].oracle)
    assert cols == ["stage_idx", "stage", "survivors"]
    assert rows == datagen.FUNNEL_COUNTS


def test_repo_fanout_renames_the_fixture_repo(tmp_path):
    fixtures = os.path.join(os.path.dirname(os.path.dirname(HERE)), "testdata_domain")
    rows = datagen.repo_fanout(fixtures, str(tmp_path), seed=3, k=2)
    assert len(rows) == 2 and sorted(rows) == datagen.repo_names(3, 2)
    for repo in rows:
        issues = pq.read_table(
            os.path.join(tmp_path, repo.replace("/", "_"), "issues_raw.parquet")
        ).to_pylist()
        assert {r["repo_name"] for r in issues} == {repo}
        assert all(repo in r["html_url"] for r in issues)
        # cross-repo targets are left as they are
        assert any("other/repo#1" in (r["body"] or "") for r in issues)


def test_seeded_choices():
    names = ["a", "b", "c", "d"]
    assert datagen.entry_order(1, names) == datagen.entry_order(1, names)
    assert sorted(datagen.entry_order(1, names)) == names
    batch = datagen.batch_ids(5, range(1000))
    assert batch == datagen.batch_ids(5, range(1000)) and 50 < len(batch) < 150
