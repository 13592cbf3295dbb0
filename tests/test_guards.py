"""Quadratic-shape guards: q72 and q82 are ground-truth verify shapes
whose self-joins are O(n²). Both carry hard caps that refuse to run
past ground-truth-sized inputs and point callers at the banded/
bucketed scale paths (q73 / q83 / q84). These tests shrink the caps
and prove the refusal actually fires with the redirect in the
message — so a future edit can't silently drop the guard and let the
cartesian run at corpus scale.
"""

from __future__ import annotations

import pytest


def test_q72_refuses_past_cap(spark, sf_dir, monkeypatch):
    import cli_spark.operators.dedup as dedup

    monkeypatch.setattr(dedup, "Q72_MAX_DOCS", 1)
    with pytest.raises(ValueError, match=r"q73_minhash_lsh"):
        dedup.q72_ngram_jaccard_pairs(spark, sf_dir)


def test_q82_refuses_past_cap(spark, sf_dir, monkeypatch):
    import cli_spark.operators.similarity as similarity

    monkeypatch.setattr(similarity, "Q82_MAX_VECS", 1)
    with pytest.raises(ValueError, match=r"q83_lsh_ann_buckets"):
        similarity.q82_cosine_threshold_join(spark, sf_dir)


def test_q72_q82_run_under_cap(spark, sf_dir):
    """Below the cap both shapes still build a plan (no exception) —
    the guard is a cap, not a disablement."""
    import cli_spark.operators.dedup as dedup
    import cli_spark.operators.similarity as similarity

    assert dedup.q72_ngram_jaccard_pairs(spark, sf_dir).columns == [
        "doc_a", "doc_b", "jaccard"
    ]
    assert similarity.q82_cosine_threshold_join(spark, sf_dir).columns == [
        "vec_a", "vec_b", "cosine"
    ]


def test_q75_refuses_past_cap(spark, sf_dir, monkeypatch):
    import cli_spark.operators.pipeline as pipeline

    monkeypatch.setattr(pipeline, "Q75_MAX_VECS", 1)
    with pytest.raises(ValueError, match=r"q83_lsh_ann_buckets"):
        pipeline.q75_embedding_neardup_docs(spark, sf_dir)


def test_q247_refuses_oversized_clusters(spark, sf_dir, monkeypatch):
    import cli_spark.operators.semdedup as semdedup

    monkeypatch.setattr(semdedup, "Q247_MAX_CLUSTER", 1)
    with pytest.raises(ValueError, match=r"raise k"):
        semdedup.q247_semdedup_prune(spark, sf_dir)


def test_q290_sig_cache_single_slot(spark):
    """ADVICE r11: q290's persisted signature relation lives in a
    SINGLE-slot registry — touching a different dataset evicts the
    previous entry, so a long parity/driver session holds at most one
    cached relation (the accumulation leak), while same-dataset warm
    re-invocations keep cache reuse (the bench contract)."""
    from cli_spark.operators import dedup

    dedup.q290_lsh_parameter_sweep(spark, "/root/testdata/sf0.001")
    assert set(dedup._Q290_SIG_CACHE) == {"/root/testdata/sf0.001"}
    dedup.q290_lsh_parameter_sweep(spark, "/root/testdata/sf0.01")
    assert set(dedup._Q290_SIG_CACHE) == {"/root/testdata/sf0.01"}
    dedup.q290_lsh_parameter_sweep(spark, "/root/testdata/sf0.01")
    assert set(dedup._Q290_SIG_CACHE) == {"/root/testdata/sf0.01"}


def test_streaming_sleeps_only_in_drain_helpers():
    """Every stream drains through drain.run_stream and every
    mid-stream wait goes through drain.wait_until; a `sleep(` call
    anywhere else under cli_spark/streaming (``time.sleep``,
    ``_time.sleep``, ``_t.sleep``, a bare imported ``sleep``) is a
    sleep/poll loop coming back."""
    import ast
    import pathlib

    import cli_spark.streaming

    allowed = {("drain.py", "run_stream"), ("drain.py", "wait_until")}
    found = []
    root = pathlib.Path(cli_spark.streaming.__file__).parent
    for path in sorted(root.glob("*.py")):
        tree = ast.parse(path.read_text())

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "sleep":
                    found.append((path.name, func, node.lineno))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    stray = [f for f in found if f[:2] not in allowed]
    assert not stray, f"sleep outside run_stream/wait_until: {stray}"
