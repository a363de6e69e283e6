"""The benchmark's hooks into the engine (`ragbench/layers.py`).

A traced benchmark run wraps engine entry points by name, looking each one
up with `vars(owner)[attr]`, and attributes populate_vs's ingest stages to
the `pipeline.py` line numbers of the DataFrame actions that run them. A
change that moves one of those names or lines makes the traced run fail;
these tests make it fail here first.
"""

import ast
import inspect

from conftest import SF_SMALL as SF
from ragbench import layers
from ragbench.trace import Tracer

from oaim_sandbox_spark import pipeline
from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog


def _action_spans() -> list[tuple[int, int]]:
    """(first, last) line of every call of a traced action in populate_vs."""
    lines, first = inspect.getsourcelines(pipeline.populate_vs)
    tree = ast.parse("".join(lines))
    return [
        (node.lineno + first - 1, node.end_lineno + first - 1)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in layers.ACTIONS
    ]


def test_every_ingest_stage_site_is_an_action_call_in_populate_vs():
    calls = _action_spans()
    for stage, sites in layers.INGEST_STAGES.items():
        assert sites, stage
        for site in sites:
            fname, line = site.split(":")
            assert fname == "pipeline.py", site
            assert any(a <= int(line) <= b for a, b in calls), (
                f"{stage}: {site} is not a line of an action call in populate_vs")


def test_instrumented_populate_vs_times_every_ingest_stage(spark, tmp_path):
    """instrument() on a real session with the benchmark's own tracer: every
    wrapped name resolves on its owner, and a populate_vs run records a
    timed action at a site of each ingest stage."""
    tracer = Tracer(spark, enabled=True)
    try:
        layers.instrument(tracer)
        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
        vs = VectorStorage(alias="hooks", model="mock-embed", chunk_size=200,
                           chunk_overlap=20, distance_metric="COSINE", index_type="IVF")
        pipeline.populate_vs(spark, docs, VectorStoreCatalog(spark, root=str(tmp_path)), vs)
    finally:
        tracer.restore()
    assert any(s.name == "pipeline.populate_vs" for s in tracer.spans)
    for stage, sites in layers.INGEST_STAGES.items():
        timed = [s.dur for s in tracer.spans
                 if s.name.startswith("action.") and s.attrs.get("site") in sites]
        assert timed and sum(timed) > 0, stage
