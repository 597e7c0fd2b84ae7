"""Lifecycle of the streaming layer: the one run-to-completion wait,
the one events feed, state sizing over unreadable inputs, and the
scratch directories of the registered file-sink streams.

- Every sink helper hands its started query to
  ``streams._await_completion``; with a tiny timeout each one raises
  TimeoutError and leaves no query running.
- The ``events.ts`` guard, the ``[e]vents.parquet`` stream glob and
  ``awaitTermination`` each appear in exactly one function of the
  package (structural guard against re-copying them).
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.streaming import streams

PKG = pathlib.Path(streams.__file__).parents[1]
TINY_S = 0.001


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lifecycle_events"))
    load_table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").json(out)
    return out


def _events(spark, event_dir):
    return streams.read_event_stream(spark, event_dir)


def _snap(spark, event_dir):
    return _events(spark, event_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )


def _run_to_memory(spark, sf_dir, event_dir, tmp, monkeypatch):
    streams.run_to_memory(
        streams.dedup_stream(_events(spark, event_dir)),
        "t_lifecycle_timeout",
        output_mode="append",
        timeout_s=TINY_S,
    )


def _run_to_files(spark, sf_dir, event_dir, tmp, monkeypatch):
    streams.run_to_files(
        _events(spark, event_dir),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        timeout_s=TINY_S,
    )


def _foreach_batch_merge(spark, sf_dir, event_dir, tmp, monkeypatch):
    streams.foreach_batch_merge(
        _snap(spark, event_dir),
        str(tmp / "snap"),
        ["user_id"],
        timeout_s=TINY_S,
    )


def _foreach_batch_merge_lww(spark, sf_dir, event_dir, tmp, monkeypatch):
    streams.foreach_batch_merge_lww(
        _snap(spark, event_dir),
        str(tmp / "snap"),
        ["user_id"],
        ["ts_us", "event_id"],
        checkpoint=str(tmp / "ckpt"),
        timeout_s=TINY_S,
    )


def _dedup_ingest_stream(spark, sf_dir, event_dir, tmp, monkeypatch):
    src = tmp / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"document number {i} with some words"})
            for i in range(20)
        )
    )
    docs = spark.readStream.format("json").schema(streams.DOC_SCHEMA).load(str(src))
    streams.dedup_ingest_stream(docs, str(tmp / "corpus"), timeout_s=TINY_S)


def _events_quarantine_streamed(spark, sf_dir, event_dir, tmp, monkeypatch):
    # the registered stream has no timeout parameter: shrink the one wait
    real = streams._await_completion
    monkeypatch.setattr(
        streams, "_await_completion", lambda q, _timeout_s: real(q, TINY_S)
    )
    streams.events_quarantine_streamed(spark, sf_dir)


SINK_CASES = {
    "run_to_memory": _run_to_memory,
    "run_to_files": _run_to_files,
    "foreach_batch_merge": _foreach_batch_merge,
    "foreach_batch_merge_lww": _foreach_batch_merge_lww,
    "dedup_ingest_stream": _dedup_ingest_stream,
    "events_quarantine_streamed": _events_quarantine_streamed,
}


@pytest.mark.parametrize("case", list(SINK_CASES))
def test_sink_timeout_stops_query_and_raises(
    spark, sf_dir, event_dir, tmp_path, monkeypatch, case
):
    with pytest.raises(TimeoutError, match="did not finish"):
        SINK_CASES[case](spark, sf_dir, event_dir, tmp_path, monkeypatch)
    assert spark.streams.active == []


def _events_scratch() -> set[str]:
    tmp = tempfile.gettempdir()
    return {n for n in os.listdir(tmp) if n.startswith("events_")}


@pytest.mark.parametrize(
    "name",
    [
        "events_filesink_pipeline",
        "events_upsert_streamed",
        "events_quarantine_streamed",
    ],
)
def test_file_sink_streams_remove_scratch_dirs(spark, sf_dir, name):
    before = _events_scratch()
    df = getattr(streams, name)(spark, sf_dir)
    assert df.count() > 0  # the result outlives its sink directory
    assert _events_scratch() - before == set()


def test_source_bytes_skips_dangling_symlink(tmp_path):
    (tmp_path / "real.bin").write_bytes(b"x" * 100)
    (tmp_path / "dangling").symlink_to(tmp_path / "missing")
    assert streams._source_bytes(str(tmp_path)) == 100


def _owners(pred) -> list[tuple[str, str | None]]:
    """(file, innermost enclosing function) of every code AST node in
    the package that matches ``pred``; docstrings are not code."""
    found: list[tuple[str, str | None]] = []

    def visit(node, fn):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            return
        if pred(node):
            found.append((node_file, fn))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    for path in sorted(PKG.rglob("*.py")):
        node_file = str(path.relative_to(PKG))
        visit(ast.parse(path.read_text()), None)
    return found


def _str_const(needle: str):
    return lambda n: (
        isinstance(n, ast.Constant) and isinstance(n.value, str) and needle in n.value
    )


def test_ts_guard_only_in_catalog():
    assert _owners(_str_const("timestamp_micros(ts div 1000)")) == [
        ("catalog.py", "_ts_guard")
    ]


def test_events_stream_glob_only_in_catalog_reader():
    assert _owners(_str_const("[e]vents.parquet")) == [
        ("catalog.py", "events_feed")
    ]


def test_await_termination_only_in_lifecycle_helper():
    calls = _owners(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "awaitTermination"
    )
    assert calls == [("streaming/streams.py", "_await_completion")]
